"""The manifest_text Python DataSource (Spark 4 DataSource API): schema,
split planning, executor reads, strictness, and planner filter pushdown.

The pushdown tests use an OBSERVABLE side effect, not plan text: the
manifest deliberately lists a missing file.  With strict=true the scan
can only succeed if the planner pruned that entry before stat-ing it —
so a passing filtered read PROVES file-level pruning happened."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from puma_matcher_spark.sources import pydatasource as pds


@pytest.fixture()
def corpus(tmp_path):
    files = {}
    for i, body in enumerate(["alpha text", "bravo text", "charlie text"], start=1):
        p = tmp_path / f"doc_{i}.txt"
        p.write_text(body, encoding="utf-8")
        files[i] = str(p)
    manifest = tmp_path / "manifest.csv"
    lines = ["doc_id,file_path"] + [f"{i},{p}" for i, p in files.items()]
    manifest.write_text("\n".join(lines) + "\n", encoding="utf-8")
    return manifest, files


def _register(spark):
    pds.register(spark)


def test_reads_manifest_corpus(spark, corpus):
    manifest, files = corpus
    _register(spark)
    rows = (
        spark.read.format("manifest_text")
        .option("manifest", str(manifest))
        .load()
        .collect()
    )
    got = {r["doc_id"]: (r["file_path"], r["text"]) for r in rows}
    assert got == {
        1: (files[1], "alpha text"),
        2: (files[2], "bravo text"),
        3: (files[3], "charlie text"),
    }


def test_missing_file_strict_raises_lenient_skips(spark, corpus, tmp_path):
    manifest, files = corpus
    _register(spark)
    bad = tmp_path / "manifest_bad.csv"
    bad.write_text(
        manifest.read_text() + f"99,{tmp_path}/nope.txt\n", encoding="utf-8"
    )
    strict = (
        spark.read.format("manifest_text").option("manifest", str(bad)).load()
    )
    with pytest.raises(Exception, match="missing file|FileNotFoundError"):
        strict.count()
    lenient = (
        spark.read.format("manifest_text")
        .option("manifest", str(bad))
        .option("strict", "false")
        .load()
    )
    assert {r["doc_id"] for r in lenient.collect()} == {1, 2, 3}


def test_invalid_utf8_strict_raises_lenient_replaces(spark, corpus, tmp_path):
    """Round 8: UnicodeDecodeError is not an OSError — a mis-encoded file
    used to fail the scan even with strict=false.  Lenient mode now
    decodes with errors='replace' (the doc still ingests, best-effort
    text); strict mode still fails the job."""
    manifest, files = corpus
    _register(spark)
    binf = tmp_path / "bin.txt"
    binf.write_bytes(b"latin1 caf\xe9 and raw \xff\xfe bytes")
    bad = tmp_path / "manifest_utf8.csv"
    bad.write_text(
        manifest.read_text() + f"99,{binf}\n", encoding="utf-8"
    )
    strict = (
        spark.read.format("manifest_text").option("manifest", str(bad)).load()
    )
    with pytest.raises(Exception, match="UnicodeDecodeError|invalid"):
        strict.count()
    lenient = (
        spark.read.format("manifest_text")
        .option("manifest", str(bad))
        .option("strict", "false")
        .load()
    )
    rows = {r["doc_id"]: r["text"] for r in lenient.collect()}
    assert set(rows) == {1, 2, 3, 99}
    assert rows[99].startswith("latin1 caf�")


def test_equalto_pushdown_prunes_before_stat(spark, corpus, tmp_path):
    manifest, files = corpus
    _register(spark)
    bad = tmp_path / "manifest_bad2.csv"
    bad.write_text(
        manifest.read_text() + f"99,{tmp_path}/gone.txt\n", encoding="utf-8"
    )
    df = (
        spark.read.format("manifest_text")
        .option("manifest", str(bad))
        .load()
        .where(F.col("doc_id") == 2)
    )
    # strict=true + a missing manifest entry: this only succeeds if the
    # planner dropped doc 99 before touching the filesystem
    assert [r["text"] for r in df.collect()] == ["bravo text"]


def test_in_and_prefix_pushdown(spark, corpus, tmp_path):
    manifest, files = corpus
    _register(spark)
    bad = tmp_path / "manifest_bad3.csv"
    bad.write_text(
        manifest.read_text() + "99,/definitely/not/here.txt\n", encoding="utf-8"
    )
    df = (
        spark.read.format("manifest_text")
        .option("manifest", str(bad))
        .load()
    )
    got = df.where(F.col("doc_id").isin(1, 3)).collect()
    assert {r["doc_id"] for r in got} == {1, 3}
    # file_path LIKE 'tmp_path%' excludes the /definitely/... entry
    pref = df.where(F.col("file_path").startswith(str(tmp_path))).collect()
    assert {r["doc_id"] for r in pref} == {1, 2, 3}


def test_residual_filters_still_apply(spark, corpus):
    manifest, files = corpus
    _register(spark)
    # contains() is NOT pushed (unsupported there) — Spark must evaluate
    # it post-scan and the result must still be correct
    df = (
        spark.read.format("manifest_text")
        .option("manifest", str(manifest))
        .load()
        .where(F.col("text").contains("bravo"))
    )
    assert [r["doc_id"] for r in df.collect()] == [2]


def test_pack_by_size_bounds_and_determinism():
    sized = [(i, f"f{i}", sz) for i, sz in enumerate([70, 10, 20, 30, 40, 5])]
    bins = pds.pack_by_size(sized, target_bytes=64)
    # oversized file is alone; every other bin within the target
    by_path = {p: b for b, entries in enumerate(bins) for _, p in entries}
    sizes = {f"f{i}": sz for i, sz in enumerate([70, 10, 20, 30, 40, 5])}
    loads = {}
    for p, b in by_path.items():
        loads[b] = loads.get(b, 0) + sizes[p]
    assert loads[by_path["f0"]] == 70  # oversized, own bin
    assert all(load <= 64 for b, load in loads.items() if b != by_path["f0"])
    assert bins == pds.pack_by_size(list(reversed(sized)), target_bytes=64)


def test_split_planning_partition_count(spark, corpus, tmp_path):
    manifest, files = corpus
    _register(spark)
    # target_bytes=1: every file becomes its own split
    df = (
        spark.read.format("manifest_text")
        .option("manifest", str(manifest))
        .option("target_bytes", "1")
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 3


def test_stream_tails_manifest_appends(spark, corpus, tmp_path):
    manifest, files = corpus
    _register(spark)
    out_rows = []

    def sink(batch_df, batch_id):
        out_rows.extend(
            (r["doc_id"], r["text"]) for r in batch_df.collect()
        )

    q = (
        spark.readStream.format("manifest_text")
        .option("manifest", str(manifest))
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(out_rows) == [
        (1, "alpha text"), (2, "bravo text"), (3, "charlie text")
    ]

    # append a new manifest row -> ONLY the new document arrives
    extra = tmp_path / "doc_4.txt"
    extra.write_text("delta text", encoding="utf-8")
    with open(manifest, "a", encoding="utf-8") as fh:
        fh.write(f"4,{extra}\n")
    out_rows.clear()
    q2 = (
        spark.readStream.format("manifest_text")
        .option("manifest", str(manifest))
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert out_rows == [(4, "delta text")]
