"""Blue/green dataset publishing (schema-swap rebuild).

Reference: results are written into a *start* schema and atomically
swapped with the live schema via three ``ALTER SCHEMA ... RENAME``
statements, only when the run had no errors (DbManager.swapSchema,
utils/database/DbManager.scala:636-648; invoked FullMatcherApp.scala:56-62).

Parquet twin: write to ``<root>/staging``, then rotate
live → old → staging → live with directory renames (atomic on a posix
filesystem / HDFS; on object stores without atomic directory rename the
rotation degrades to copy+delete with a wider not-found window).
Readers resolve through ``<root>/live`` so they never observe a
half-written dataset.

All probes/renames go through the Hadoop FileSystem API (the shared
``HadoopFs`` wrapper) so the swap works wherever the session's writer put the
staging data — ``os.rename`` on an ``hdfs://`` path raises and, inside a
streaming ``foreachBatch``, would kill the stream at the first publish
(the r9 ADVICE #1 failure class, fixed repo-wide in r10).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from puma_matcher_spark.sources.maintenance import HadoopFs


def _fs_for(root: str, spark: SparkSession | None) -> HadoopFs:
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "swap_live needs an active SparkSession to resolve the "
            "dataset's filesystem"
        )
    return HadoopFs(spark, root)


def write_staging(df: DataFrame, root: str) -> str:
    staging = os.path.join(root, "staging")
    df.write.mode("overwrite").parquet(staging)
    return staging


def swap_live(root: str, spark: SparkSession | None = None) -> None:
    """Atomic promotion: live → old (dropped), staging → live."""
    fs = _fs_for(root, spark)
    staging = os.path.join(root, "staging")
    live = os.path.join(root, "live")
    old = os.path.join(root, "old")
    if not fs.isdir(staging):
        raise FileNotFoundError(f"no staging dataset at {staging}")
    if fs.isdir(old):
        fs.rmtree(old)
    if fs.isdir(live):
        fs.rename(live, old)
    fs.rename(staging, live)


def publish(df: DataFrame, root: str) -> None:
    """write_staging + swap_live — the no-error path of the reference's
    swap; on exception nothing is promoted (FullMatcherApp.scala:56-62)."""
    write_staging(df, root)
    swap_live(root, df.sparkSession)


def read_live(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, "live"))
