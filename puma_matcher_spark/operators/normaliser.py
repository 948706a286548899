"""Score normalisation (W1).

Reference: stage/NormalisationStage.scala:54-58 — pick the score at the
98th/99th percentile via a global ``row_number`` window, divide all scores
by it, cap at 100.

The global single-partition window is the reference's scalability bug: all
rows funnel through one task.  The rebuild offers both semantics:

* ``normalise_scores(exact=True)`` reproduces the reference exactly (rank
  over a global order) — fine at candidate-list sizes;
* ``exact=False`` uses ``percentile_approx`` — a distributed t-digest-style
  aggregate, one pass, no global sort, the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def normalisation_factor(
    candidates: DataFrame, percentile: float = 0.99, exact: bool = True
) -> float:
    """Scalar score at the given top-percentile (driver-side, like the
    reference's ``take(1)`` at NormalisationStage.scala:56)."""
    if exact:
        n = candidates.count()
        rank = max(1, int(round(n * (1.0 - percentile))))
        w = Window.orderBy(F.col("score").desc())
        row = (
            candidates.select("score", F.row_number().over(w).alias("rn"))
            .where(F.col("rn") == rank)
            .first()
        )
        return float(row["score"]) if row else 1.0
    row = candidates.agg(
        F.percentile_approx("score", percentile).alias("p")
    ).first()
    return float(row["p"]) if row and row["p"] is not None else 1.0


def normalise_scores(candidates: DataFrame, factor: float) -> DataFrame:
    """score → min(score / factor * 100, 100)."""
    return candidates.withColumn(
        "score",
        F.least(
            F.col("score") / F.lit(factor) * F.lit(100.0), F.lit(100.0)
        ),
    )
