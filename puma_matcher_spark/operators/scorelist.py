"""Wide per-pair score list (A12).

Reference: stage/ScoreListStage.scala:57-109 groups to
``collect_list(score_type), collect_list(score)`` then maps to one column
per known type with a Scala lookup.  Idiomatic Spark is ``pivot`` with an
explicit type list — supplying the values list up front avoids the extra
distinct-scan Spark needs to discover pivot columns, and the pivot becomes
a single hash aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def score_list(candidates: DataFrame, score_types: list[str]) -> DataFrame:
    """One wide row per pair: score_<type> columns.

    ``max(score)`` per cell (deterministic; the reference relies on one row
    per (pair, type) after the persister, where max == the value).
    """
    wide = (
        candidates.groupBy(
            "pair_id", "document_version1_id", "document_version2_id"
        )
        .pivot("score_type", score_types)
        .agg(F.max("score"))
    )
    for t in score_types:
        wide = wide.withColumnRenamed(t, f"score_{t}")
    return wide


def melt_score_list(wide: DataFrame, score_types: list[str]) -> DataFrame:
    """Inverse of :func:`score_list` — unpivot the wide per-pair row back
    to long (pair, score_type, score) form, dropping empty cells.  Uses
    the native ``unpivot`` (stack) operator: map-side row expansion, no
    shuffle, so wide→long restructuring is free at any scale."""
    out = wide.unpivot(
        ids=["document_version1_id", "document_version2_id"],
        values=[f"score_{t}" for t in score_types],
        variableColumnName="score_type",
        valueColumnName="score",
    )
    return out.select(
        "document_version1_id",
        "document_version2_id",
        F.regexp_replace("score_type", "^score_", "").alias("score_type"),
        "score",
    ).where(F.col("score").isNotNull())
