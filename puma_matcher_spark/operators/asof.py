"""As-of (point-in-time) join — additive operator, absent from the
reference (SURVEY.md §2.3 notes it has no as-of/interval joins).

For every left row, attach the single right row with the greatest
``ts <= left.ts`` per key — the point-in-time lookup a training pipeline
needs to join features "as known at" label time without leakage.

Spark has no native as-of join; the naive range join + window dedup pays
a quadratic candidate blowup on hot keys.  The scalable formulation used
here is the union-and-window trick: tag both sides, union them, sort
within each key by (ts, side) and carry the last-seen right row forward
with ``last(..., ignorenulls=True)`` over an unbounded-preceding frame.
Cost: ONE shuffle on the key (the window sort), linear in rows, no pair
explosion — the plan shape that survives 100 TB event tables.

Tie semantics: a right row at exactly ``left.ts`` matches (inclusive,
same as DuckDB/kdb ASOF); right rows are pre-deduped to one per
(key, ts) so the match is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts: str = "ts",
) -> DataFrame:
    """Left as-of join: every ``left`` row, plus the latest ``right`` row
    with ``right.ts <= left.ts`` for the same ``on`` key (nulls when no
    prior right row exists).

    Every non-key, non-ts column of ``right`` is carried over as
    ``asof_{col}``; ``asof_{ts}`` always carries the matched time.
    """
    right_cols = [c for c in right.columns if c not in (on, ts)]

    # one right row per (key, ts): keep the max payload tuple, so the
    # carried value is deterministic under ts collisions.  Right payload
    # columns travel under internal _r_ names so a left column with the
    # same name is never merged (and silently lost) by the union.
    if right_cols:
        r = right.groupBy(on, ts).agg(
            *[F.max(c).alias(f"_r_{c}") for c in right_cols]
        )
    else:
        r = right.select(on, ts).distinct()

    l_tagged = left.withColumn("_side", F.lit(1))
    r_tagged = r.withColumn("_side", F.lit(0))
    # align schemas: left payload columns are null on right rows and vice
    # versa; unionByName with allowMissingColumns fills the gaps
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)

    # right rows sort before left rows at equal ts (side 0 < 1) so an
    # equal-timestamp right row is visible to the left row — inclusive
    # as-of semantics
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        f"asof_{ts}",
        F.last(F.when(F.col("_side") == 0, F.col(ts)), ignorenulls=True).over(w),
    )
    for c in right_cols:
        carried = carried.withColumn(
            f"asof_{c}",
            F.last(
                F.when(F.col("_side") == 0, F.col(f"_r_{c}")), ignorenulls=True
            ).over(w),
        )
    return carried.where(F.col("_side") == 1).drop(
        "_side", *[f"_r_{c}" for c in right_cols]
    )
