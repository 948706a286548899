"""Dataset maintenance: per-batch index compaction and Z-order keys.

Streaming sinks and incremental ingests leak one partition per
micro-batch; at 100 TB the file count (not the byte count) becomes the
scan-planning and namenode/liststatus bottleneck.
:func:`compact_batch_index` folds a stream's per-batch partitions, sizes
the output file count from the folded bytes (``target_file_mb``), and
promotes through a staging swap so readers never see a half-compacted
table.  :func:`zvalue` and :func:`zvalue_n` build the Morton keys of a
multi-column data-skipping layout.

All listing/rename/delete goes through the Hadoop FileSystem API, not
``os``/``shutil``: the datasets these jobs maintain live wherever the
session's reader put them (HDFS, S3A, local), and a python-side
``os.listdir`` on an ``hdfs://`` path raises FileNotFoundError — which,
inside a streaming ``foreachBatch``, kills the stream at the first
compaction boundary (r9 ADVICE #1).  On object stores without atomic
directory rename (S3) the two-rename swap degrades to copy+delete with
a wider not-found window; schedule compaction in a maintenance window
there.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


class HadoopFs:
    """Thin Hadoop FileSystem wrapper bound to ``path``'s scheme — the
    shared filesystem surface for every maintenance/publish/CDC path
    operation (scheme-less paths resolve against the session's
    ``fs.defaultFS``, which on a cluster is typically HDFS, not the
    local disk — pass an explicit ``file:`` URI for node-local data)."""

    def __init__(self, spark: SparkSession, path: str):
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def isdir(self, p: str) -> bool:
        jp = self._Path(p)
        return bool(
            self._fs.exists(jp) and self._fs.getFileStatus(jp).isDirectory()
        )

    def list_subdirs(self, p: str) -> list[str]:
        """Names (not paths) of the immediate sub-DIRECTORIES of ``p``."""
        return [
            st.getPath().getName()
            for st in self._fs.listStatus(self._Path(p))
            if st.isDirectory()
        ]

    def rename(self, src: str, dst: str) -> None:
        # Hadoop rename reports failure as False, not an exception —
        # surface it: a silent half-swap would strand the dataset at
        # ".compact-old"
        if not self._fs.rename(self._Path(src), self._Path(dst)):
            raise OSError(f"filesystem rename failed: {src} -> {dst}")

    def rmtree(self, p: str) -> None:
        # Hadoop delete also reports failure as False (same contract as
        # rename above) — a silently-failed rmtree of ".compact-old"
        # followed by rename(src, old) would NEST the dataset inside
        # the stale dir, and crash recovery would then resurrect a
        # wrapper layout spark.read.parquet can't read.
        jp = self._Path(p)
        if not self._fs.delete(jp, True) and self._fs.exists(jp):
            raise OSError(f"filesystem delete failed: {p}")

    def restore_parked(self, p: str) -> bool:
        """Whether dataset ``p`` exists, after crash recovery: a
        compaction that died between its two renames left the data
        parked at ``p + ".compact-old"`` and nothing at ``p`` — move it
        back first."""
        old = p + ".compact-old"
        if not self.isdir(p) and self.isdir(old):
            self.rename(old, p)
        return self.isdir(p)

    def parquet_stats(self, p: str) -> tuple[int, int]:
        """(n_files, total_bytes) of the parquet files under ``p``."""
        n = size = 0
        it = self._fs.listFiles(self._Path(p), True)
        while it.hasNext():
            st = it.next()
            if st.getPath().getName().endswith(".parquet"):
                n += 1
                size += st.getLen()
        return n, size


def compact_batch_index(
    spark: SparkSession,
    path: str,
    fold_below: int,
    target_file_mb: int = 64,
) -> dict:
    """Fold a stream's per-batch index partitions
    (``path/batch_id=<n>`` directories, one per micro-batch) into a
    single merged partition so the directory/file count stays BOUNDED
    over a long manifest tail instead of growing one-per-batch.

    Every partition with ``batch_id < fold_below`` is rewritten under
    ``batch_id = fold_below - 1``; partitions ``>= fold_below`` are
    preserved as-is.  Correctness of the relabel: consumers filter the
    index with ``batch_id < current`` only — for every future batch
    ``current > fold_below - 1`` the merged rows stay visible, and a
    crash-REPLAYED batch ``fold_below`` still excludes its own rows
    (they sit at ``batch_id = fold_below``, untouched).  Folding the
    in-flight batch itself would break that replay exclusion, which is
    why callers pass the CURRENT batch id as ``fold_below``.

    Promotion is a two-rename staging swap: old out, staging in.  That
    leaves a sub-millisecond window where ``path`` does not exist (POSIX
    has no two-directory atomic exchange).  The previous data is parked
    at ``path + ".compact-old"`` until the swap completes; a crash
    between the renames is recovered by the next call — or by the
    reader-side probe in apps.run_streaming_ingest_app; both go through
    :meth:`HadoopFs.restore_parked`.  No-ops when fewer than two
    partitions would fold.

    Returns {"files_before", "files_after", "dirs_before",
    "dirs_after", "bytes"} for audit logs.
    """
    from pyspark.sql import functions as F

    fs = HadoopFs(spark, path)
    old = path + ".compact-old"
    if not fs.restore_parked(path):
        raise FileNotFoundError(f"no dataset directory at {path}")
    bids = sorted(
        int(e.split("=", 1)[1])
        for e in fs.list_subdirs(path)
        if e.startswith("batch_id=")
    )
    n_before, total_bytes = fs.parquet_stats(path)
    fold = [b for b in bids if b < fold_below]
    if len(fold) < 2:
        return {
            "files_before": n_before,
            "files_after": n_before,
            "dirs_before": len(bids),
            "dirs_after": len(bids),
            "bytes": total_bytes,
        }
    chunk = target_file_mb * 1024 * 1024
    # size the spread from the FOLDED bytes only: deriving `target`
    # from the whole dataset's bytes scatters a small folded set across
    # ~dataset/chunk buckets when large preserved batches dominate
    # (100x128MB preserved + 2MB folded -> ~100 tiny files in the
    # merged partition — the exact blowup this fold exists to prevent).
    fold_bytes = sum(
        fs.parquet_stats(f"{path}/batch_id={b}")[1] for b in fold
    )
    target = max(1, (fold_bytes + chunk - 1) // chunk)
    df = spark.read.parquet(path)
    merged = F.when(
        F.col("batch_id") < fold_below, F.lit(fold_below - 1)
    ).otherwise(F.col("batch_id"))
    # spread ONLY the folded rows: hashing on batch_id alone put every
    # folded row (one batch_id value) in a single task, so the merged
    # partition was always ONE file and the target_file_mb knob was dead
    # (r9 ADVICE #4) — but a bare round-robin repartition overshoots the
    # other way, shredding every PRESERVED partition across up to
    # `target` tasks (one file per task per batch_id after partitionBy —
    # file count MULTIPLIES instead of compacting, r10 review finding).
    # A salt that is 0 for preserved rows and hash%target for folded
    # rows keeps each preserved partition in one task (one file) while
    # the merged partition spreads across ~target tasks/files.
    folded = F.col("batch_id") == F.lit(fold_below - 1)
    salt = F.when(
        folded,
        F.pmod(F.hash(F.struct(*df.columns)), F.lit(int(target))),
    ).otherwise(F.lit(-1))
    out = (
        df.withColumn("batch_id", merged)
        .withColumn("_salt", salt)
        .repartition(int(target) + len(bids), "batch_id", "_salt")
        .drop("_salt")
    )
    staging = path + ".compact-staging"
    if fs.isdir(staging):
        fs.rmtree(staging)
    out.write.mode("overwrite").partitionBy("batch_id").parquet(staging)
    if fs.isdir(old):
        fs.rmtree(old)
    fs.rename(path, old)
    fs.rename(staging, path)
    fs.rmtree(old)
    n_after, _ = fs.parquet_stats(path)
    dirs_after = sum(
        1 for e in fs.list_subdirs(path) if e.startswith("batch_id=")
    )
    return {
        "files_before": n_before,
        "files_after": n_after,
        "dirs_before": len(bids),
        "dirs_after": dirs_after,
        "bytes": total_bytes,
    }


#: Bits per operand interleaved by :func:`zvalue` and its DuckDB twin
#: :func:`zvalue_sql`.
ZVALUE_BITS = 16


def zvalue(c1, c2):
    """Morton (Z-order) interleave of the low :data:`ZVALUE_BITS` bits of
    two long columns — the space-filling-curve key that makes ONE sorted
    layout serve range predicates on EITHER column (or both).

    Sorting a table by ``zvalue(a, b)`` clusters rows so that parquet
    row-group min/max statistics stay tight on a AND b simultaneously;
    a plain sort by (a, b) only skips well on a.  Pure bit arithmetic
    (shiftright/and/shiftleft/or), entirely inside codegen — no UDF.

    Inputs must already be non-negative and < 2^ZVALUE_BITS; callers
    first quantize real keys into that range (e.g. NTILE/percent_rank
    bucketing), which also equalizes the two axes' resolutions.
    """
    from pyspark.sql import functions as F

    a = (F.col(c1) if isinstance(c1, str) else c1).cast("long")
    b = (F.col(c2) if isinstance(c2, str) else c2).cast("long")
    z = F.lit(0).cast("long")
    for i in range(ZVALUE_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(1), 2 * i + 1)
        ).bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(1), 2 * i))
    return z


def zvalue_sql(c1: str, c2: str) -> str:
    """DuckDB twin of :func:`zvalue` — generated bit arithmetic, so the
    oracle computes the identical interleave.  Operands are cast to
    BIGINT first: DuckDB shifts stay in the operand's type, so an
    INT32 input with bit 15 set would overflow at ``<< 31``."""
    a = f"CAST({c1} AS BIGINT)"
    b = f"CAST({c2} AS BIGINT)"
    terms = []
    for i in range(ZVALUE_BITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return "(" + " | ".join(terms) + ")"


def zvalue_n(cols, bits: int = 10):
    """N-column Morton interleave: round-robin bit interleave of the low
    ``bits`` bits of each column — :func:`zvalue` generalized beyond two
    axes (three-column layouts serve box predicates on any subset; past
    ~4 columns the per-axis resolution inside a file shrinks enough that
    Hilbert curves or column-family splits win instead).

    Total key width is ``len(cols) * bits`` and must fit a long
    (<= 63 bits).  Same quantization caveat as :func:`zvalue`.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a long")
    cs = [
        (F.col(c) if isinstance(c, str) else c).cast("long") for c in cols
    ]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cs):
            # column j contributes bit position i*n + (n-1-j): earlier
            # columns land in the higher slot of each round
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c, i).bitwiseAND(1), i * n + (n - 1 - j)
                )
            )
    return z


def zvalue_n_sql(cols, bits: int = 10) -> str:
    """DuckDB twin of :func:`zvalue_n` (generated bit arithmetic)."""
    n = len(cols)
    terms = []
    for i in range(bits):
        for j, c in enumerate(cols):
            a = f"CAST({c} AS BIGINT)"
            terms.append(f"((({a} >> {i}) & 1) << {i * n + (n - 1 - j)})")
    return "(" + " | ".join(terms) + ")"
