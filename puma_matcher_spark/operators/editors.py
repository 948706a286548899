"""Match editors — post-scoring score overrides.

Reference: the pipeline's Editor stage applies per-type overrides after
normalisation (FullMatcherApp pipeline wiring :166-190); the
HundredMatchEditor forces the score of "certain" matches (equal DOI /
proposal code) to the maximum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hundred_match_editor(candidates: DataFrame, certain_types: list[str]) -> DataFrame:
    """Force the score of certain-match types to 100."""
    types = F.array(*[F.lit(t) for t in certain_types])
    return candidates.withColumn(
        "score",
        F.when(F.array_contains(types, F.col("score_type")), F.lit(100.0)).otherwise(
            F.col("score")
        ),
    )
