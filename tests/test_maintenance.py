"""Compaction: many small files in, few files out, data identical."""

from __future__ import annotations

import pytest


def test_compact_batch_index_folds_committed_partitions(spark, tmp_path):
    """Round 9: per-batch index partitions below fold_below merge into a
    single batch_id=<fold_below-1> partition; the in-flight batch's
    partition survives untouched (replay exclusion), rows and the
    batch_id<current visibility contract are preserved."""
    import os

    from pyspark.sql import functions as F

    from puma_matcher_spark.sources.maintenance import compact_batch_index

    root = str(tmp_path / "idx")
    for b in range(5):
        spark.createDataFrame(
            [(b * 10 + i, f"fp{b}_{i}") for i in range(10)],
            "doc_id LONG, fingerprint STRING",
        ).repartition(4).write.parquet(f"{root}/batch_id={b}")
    stats = compact_batch_index(spark, root, fold_below=4)
    dirs = sorted(e for e in os.listdir(root) if e.startswith("batch_id="))
    assert dirs == ["batch_id=3", "batch_id=4"]
    assert stats["dirs_after"] == 2 < stats["dirs_before"]
    assert stats["files_after"] < stats["files_before"]
    df = spark.read.parquet(root)
    assert df.count() == 50
    # visibility contract: a future batch (current=5) sees everything,
    # a replay of batch 4 still excludes exactly its own rows
    assert df.where(F.col("batch_id") < 5).count() == 50
    assert df.where(F.col("batch_id") < 4).count() == 40
    assert {
        r["doc_id"] for r in df.where(F.col("batch_id") == 4).collect()
    } == set(range(40, 50))


def test_compact_batch_index_noop_and_crash_recovery(spark, tmp_path):
    """Fewer than two foldable partitions → no-op; a crash between the
    two renames (data parked at .compact-old) is restored by the next
    call before it does anything else."""
    import os

    from puma_matcher_spark.sources.maintenance import compact_batch_index

    root = str(tmp_path / "idx")
    for b in range(3):
        spark.createDataFrame(
            [(b, f"fp{b}")], "doc_id LONG, fingerprint STRING"
        ).write.parquet(f"{root}/batch_id={b}")
    before = compact_batch_index(spark, root, fold_below=1)  # 1 foldable
    assert before["dirs_after"] == before["dirs_before"] == 3
    # simulate the crash window: path gone, previous data parked
    os.rename(root, root + ".compact-old")
    stats = compact_batch_index(spark, root, fold_below=3)
    assert stats["dirs_after"] == 1
    assert spark.read.parquet(root).count() == 3


def test_compact_and_publish_work_with_scheme_qualified_uris(spark, tmp_path):
    """r10 (r9 ADVICE #1): all maintenance/publish filesystem operations
    go through the Hadoop FileSystem API, so a scheme-qualified dataset
    URI (file:/... here — the local stand-in for hdfs:// or s3a://,
    which os.rename / os.path.isdir cannot touch) must work end to end:
    staging write, blue/green swap, read-through, and compaction."""
    from puma_matcher_spark.sources.maintenance import compact_batch_index
    from puma_matcher_spark.sources.publish import publish, read_live

    root = "file:" + str(tmp_path / "pub")
    df = spark.range(100).selectExpr("id", "id % 7 AS k")
    publish(df, root)
    assert read_live(spark, root).count() == 100
    publish(df.where("id < 50"), root)  # second swap exercises live->old
    assert read_live(spark, root).count() == 50

    data = "file:" + str(tmp_path / "idx")
    for b in range(3):
        spark.range(100).repartition(4).write.parquet(f"{data}/batch_id={b}")
    stats = compact_batch_index(spark, data, fold_below=2)
    assert (stats["dirs_before"], stats["dirs_after"]) == (3, 2)
    assert spark.read.parquet(data).count() == 300


@pytest.mark.slow
def test_compact_batch_index_fold_respects_target_file_size(spark, tmp_path):
    """r9 ADVICE #4: hashing the fold's repartition on batch_id put every
    folded row in ONE task, so the merged partition was always a single
    file and target_file_mb was dead.  With round-robin repartitioning
    the merged batch_id directory must spread across multiple files when
    the data exceeds the target size."""
    import os

    from puma_matcher_spark.sources.maintenance import compact_batch_index

    import hashlib

    root = str(tmp_path / "idx")

    def blob(b, i):  # incompressible so parquet bytes track row bytes
        h = hashlib.sha256(f"{b}/{i}".encode())
        return "".join(
            hashlib.sha256(h.digest() + bytes([j])).hexdigest()
            for j in range(8)
        )

    for b in range(7):
        spark.createDataFrame(
            [(b * 10_000 + i, blob(b, i)) for i in range(2_000)],
            "doc_id LONG, fingerprint STRING",
        ).coalesce(1).write.parquet(f"{root}/batch_id={b}")
    stats = compact_batch_index(spark, root, fold_below=4, target_file_mb=1)
    merged = f"{root}/batch_id=3"
    n_files = sum(1 for f in os.listdir(merged) if f.endswith(".parquet"))
    assert n_files > 1, (
        f"merged partition wrote {n_files} file(s) — target_file_mb dead"
    )
    # ...while each PRESERVED partition must stay ONE file: a bare
    # round-robin repartition would shred every preserved batch_id
    # across tasks, MULTIPLYING the file count the fold exists to bound
    for b in (4, 5, 6):
        kept = sum(
            1
            for f in os.listdir(f"{root}/batch_id={b}")
            if f.endswith(".parquet")
        )
        assert kept == 1, f"preserved batch_id={b} shredded to {kept} files"
    assert stats["dirs_after"] == 4
    assert spark.read.parquet(root).count() == 14_000


@pytest.mark.slow
def test_compact_batch_index_salt_sized_from_folded_bytes(spark, tmp_path):
    """r11 (r10 ADVICE #1): the fold's salt modulus must be sized from
    the FOLDED batches' bytes, not the whole dataset's.  With large
    preserved batches dominating and a tiny folded set, a whole-dataset
    `target` scatters the merged partition across ~target near-empty
    files — the compaction then INCREASES file count."""
    import hashlib
    import os

    from puma_matcher_spark.sources.maintenance import compact_batch_index

    root = str(tmp_path / "idx")

    def blob(b, i):  # incompressible so parquet bytes track row bytes
        h = hashlib.sha256(f"{b}/{i}".encode())
        return "".join(
            hashlib.sha256(h.digest() + bytes([j])).hexdigest()
            for j in range(8)
        )

    # two TINY foldable batches (well under 1 MB together)...
    for b in (0, 1):
        spark.createDataFrame(
            [(b * 10 + i, blob(b, i)) for i in range(10)],
            "doc_id LONG, fingerprint STRING",
        ).coalesce(1).write.parquet(f"{root}/batch_id={b}")
    # ...and two LARGE preserved batches (>1 MB each at target_file_mb=1)
    for b in (2, 3):
        spark.createDataFrame(
            [(b * 10_000 + i, blob(b, i)) for i in range(3_000)],
            "doc_id LONG, fingerprint STRING",
        ).coalesce(1).write.parquet(f"{root}/batch_id={b}")
    stats = compact_batch_index(spark, root, fold_below=2, target_file_mb=1)
    merged = f"{root}/batch_id=1"
    n_files = sum(1 for f in os.listdir(merged) if f.endswith(".parquet"))
    assert n_files == 1, (
        f"tiny fold scattered to {n_files} files — salt modulus sized "
        "from whole-dataset bytes instead of the folded bytes"
    )
    assert stats["files_after"] < stats["files_before"]
    assert spark.read.parquet(root).count() == 6_020


def test_hadoopfs_rmtree_missing_path_is_quiet(spark, tmp_path):
    """r11 (r10 ADVICE #2): rmtree raises only when delete() returns
    False AND the path still exists — deleting an already-absent path
    (delete()=False, exists()=False) must stay a silent no-op, since
    compact/publish call it unconditionally on stale staging dirs."""
    from puma_matcher_spark.sources.maintenance import HadoopFs

    fs = HadoopFs(spark, str(tmp_path))
    fs.rmtree(str(tmp_path / "never-created"))  # must not raise


def test_hadoopfs_rmtree_raises_on_failed_delete(spark, tmp_path):
    """r11: the raise path of the rmtree guard (delete() returns False
    while the path still exists) can't be produced on a local FS as
    root, so pin it through a stubbed filesystem handle — the exact
    contract: False + exists -> OSError naming the path."""
    import pytest

    from puma_matcher_spark.sources.maintenance import HadoopFs

    fs = HadoopFs(spark, str(tmp_path))

    class _StuckFs:
        def delete(self, p, recursive):
            return False

        def exists(self, p):
            return True

    fs._fs = _StuckFs()
    with pytest.raises(OSError, match="delete failed"):
        fs.rmtree(str(tmp_path / "stuck"))
