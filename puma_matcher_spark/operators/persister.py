"""Match-candidate canonicalization + persistence (A11, S5).

Reference: stage/MatchCandidatePersisterStage.scala:43-69 — canonicalize
pair ids (``pair_id = min*1e6+max``), dedup to one row per
(pair_id, score_type) with ``first()`` aggregates, write JDBC.

The reference's ``first()`` is order-nondeterministic; the rebuild keeps
one row per key deterministically by taking the max-score row
(row_number over a value-ordered window) so repeated runs byte-match —
important both for tests and for idempotent re-runs of a 100 TB job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from puma_matcher_spark.functions.ids import pair_id


def canonicalize_pairs(candidates: DataFrame) -> DataFrame:
    """Ensure dv1 < dv2 and attach pair_id."""
    dv1, dv2 = F.col("document_version1_id"), F.col("document_version2_id")
    return (
        candidates.withColumn("_dv1", F.least(dv1, dv2))
        .withColumn("_dv2", F.greatest(dv1, dv2))
        .drop("document_version1_id", "document_version2_id")
        .withColumnRenamed("_dv1", "document_version1_id")
        .withColumnRenamed("_dv2", "document_version2_id")
        .withColumn(
            "pair_id",
            pair_id(F.col("document_version1_id"), F.col("document_version2_id")),
        )
    )


def dedup_candidates(candidates: DataFrame) -> DataFrame:
    """One row per (pair_id, score_type): keep the best-scoring row,
    summing item_count across duplicates (MatchCandidatePersisterStage
    A11, made deterministic)."""
    w = Window.partitionBy("pair_id", "score_type").orderBy(
        F.col("score").desc(), F.col("item_count").desc()
    )
    totals = candidates.groupBy("pair_id", "score_type").agg(
        F.sum("item_count").alias("_total_items")
    )
    best = (
        candidates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return (
        best.join(totals, ["pair_id", "score_type"])
        .drop("item_count")
        .withColumnRenamed("_total_items", "item_count")
    )


def persist_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Hive-layout partitioned sink (``partitionBy`` directories, e.g.
    by source or ingest date).  Readers filtering on a partition column
    prune whole directories before any IO — the dominant saver for
    time-ranged or per-source reads at 100 TB (assertable via
    plans.inspect.partition_filters).  Keep partition cardinality
    bounded (dates/sources, never high-cardinality ids): each partition
    value creates a directory and at least one file per writing task.

    The write goes through a ``rebalance`` hint on the partition
    columns, so the file count follows the sizes AQE observes at run
    time, not the upstream task count: a small partition value gets one
    writer (one file), a large one is split by the advisory partition
    size.  Without it every upstream task writes into every partition
    value it holds, so the file count follows the input split (the
    sf0.01 curation publish, 20 sources: 20 to 79 part files; 20 with
    the hint), and a local filesystem without native Hadoop forks a
    ``chmod`` per file and directory created.
    ``sources.maintenance.compact_batch_index`` clusters by its
    partition column for the same reason."""
    (
        df.hint("rebalance", *partition_cols)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
