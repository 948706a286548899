"""Event-analytics operators over the events table: ordered funnels and
retention cohorts — the classic product-analytics aggregations, additive
to the reference (which has no event plane at all).

Both are compositions of hash aggregates and equi-joins on ``user_id``:
shuffle-partitioned by user, no windows over unbounded histories, so the
plans scale with the event volume like any other keyed aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from puma_matcher_spark.functions.frames import local_frame
from puma_matcher_spark.functions.rounding import pround


def funnel_counts(events: DataFrame) -> DataFrame:
    """Strictly-ordered view → click → purchase funnel: a user reaches
    step k only with an event of type ``steps[k]`` at-or-after their
    step-(k-1) arrival time.

    Implementation: per-step conditional min-timestamp chained through
    ``user_id`` joins — k tiny aggregates over the type-filtered slices,
    never a per-user event sort.  Each step's per-user frame is
    localCheckpoint'ed, so step k builds on the MATERIALIZED step k-1
    instead of re-scanning events k times (the counts are driver
    scalars; the heavy work is one pass per step).  Output:
    (step_index, step, n_users).
    """
    spark = events.sparkSession
    steps = ("view", "click", "purchase")
    reached = (
        events.where(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("_t"))
        .localCheckpoint()
    )
    rows = [(0, steps[0], reached.count())]
    for k, step in enumerate(steps[1:], start=1):
        reached = (
            events.where(F.col("event_type") == step)
            .join(reached, "user_id")
            .where(F.col("ts") >= F.col("_t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("_t"))
            .localCheckpoint()
        )
        rows.append((k, step, reached.count()))
    return local_frame(spark, rows, "step_index INT, step STRING, n_users BIGINT")


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Day-granularity retention cohorts: users grouped by their
    first-active day, counted on each later active day as an offset.

    One distinct (user, day) aggregate, one per-user min, one join —
    all keyed on user_id.  Output: (cohort_day, day_offset, n_users).
    """
    active = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    first = active.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        active.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


def population_stability(events: DataFrame) -> DataFrame:
    """Population Stability Index of the ``value`` distribution between
    the first and second halves of the event window — the standard
    production drift monitor (PSI > 0.2 ≈ action threshold), the
    events-plane sibling of the corpus-side ``vocab_drift`` KL alarm.

    Deterministic construction so the DuckDB twin is exact: the split
    point is integer epoch-microsecond midpoint (min+max)//2; 20 buckets
    of width 25 on value, capped into the last bucket; densities are
    add-one smoothed over the dense 0..19 grid (missing buckets
    participate with count 0, so log terms are always finite).

    Output, long form (one row per bucket): (bucket, n_ref, n_cur,
    p_ref, p_cur, psi_contrib); total PSI = SUM(psi_contrib).  Plan: one
    scan + one scalar subquery (min/max fold) + one hash aggregate on
    the bucket key, then a broadcast-joined dense grid — nothing scales
    beyond the aggregate at 100 TB.
    """
    spark = events.sparkSession
    n_buckets, bucket_width = 20, 25.0
    # ts arrives TIMESTAMP_NTZ; the session runs UTC, so the cast is
    # value-identity and matches DuckDB's naive-as-UTC epoch_us(ts)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mid = (
        events.agg(
            F.floor(
                (F.min(us).cast("double") + F.max(us).cast("double")) / 2
            )
            .cast("long")
            .alias("m")
        ).scalar()
    )
    # clamp BOTH ends: negative values floor into bucket 0 instead of
    # falling off the dense grid (which would silently truncate the
    # distribution and misreport PSI on corpora with negative values)
    bucket = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.floor(F.col("value") / F.lit(bucket_width)),
            F.lit(n_buckets - 1),
        ),
    ).cast("int")
    counted = (
        events.select(
            bucket.alias("bucket"),
            (us <= mid).alias("_ref"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("_ref"), 1).otherwise(0))
            .cast("long")
            .alias("n_ref"),
            F.sum(F.when(F.col("_ref"), 0).otherwise(1))
            .cast("long")
            .alias("n_cur"),
        )
    )
    grid = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    dense = (
        grid.join(counted, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    tot_ref = F.sum("n_ref").over(Window.partitionBy())
    tot_cur = F.sum("n_cur").over(Window.partitionBy())
    p_ref = (F.col("n_ref") + 1.0) / (tot_ref + n_buckets)
    p_cur = (F.col("n_cur") + 1.0) / (tot_cur + n_buckets)
    return dense.select(
        "bucket",
        "n_ref",
        "n_cur",
        pround(p_ref, 4).alias("p_ref"),
        pround(p_cur, 4).alias("p_cur"),
        pround((p_cur - p_ref) * F.log(p_cur / p_ref), 4).alias(
            "psi_contrib"
        ),
    )


def markov_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over each user's event-type
    timeline: P(next_type | type), the session-flow model behind
    next-action prediction and journey anomaly detection.

    One window pass per user for lead() (ordered by (ts, event_id) so
    equal timestamps are deterministic), one hash aggregate on the
    (from, to) pair, and the per-row probability divides by a window sum
    over the from-side — reusing the aggregate's shuffle partitioning,
    no second job.  Output: (from_type, to_type, n_transitions, p).
    """
    from pyspark.sql.window import Window

    from puma_matcher_spark.functions.rounding import pround

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    counts = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions")
    )
    w_from = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        pround(
            F.col("n_transitions") / F.sum("n_transitions").over(w_from), 4
        ).alias("p"),
    )


def session_paths(events: DataFrame, max_steps: int = 5) -> DataFrame:
    """Top user-journey prefixes: each user's first ``max_steps`` event
    types (by time, (ts, event_id)-deterministic) joined into a path
    string, rolled up by frequency.

    The per-user sequence is bounded by ``max_steps`` before any
    aggregation — a rank filter on the same window that orders the
    events — so the collect_list group is O(max_steps), never O(events
    per user).  Output: (path, n_users).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firstk = (
        events.select(
            "user_id",
            "event_type",
            F.row_number().over(w).alias("step"),
        )
        .where(F.col("step") <= max_steps)
    )
    paths = firstk.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("step", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
