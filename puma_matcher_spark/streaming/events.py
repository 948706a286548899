"""Event-time operators over the ``events`` table.

The reference is batch-only (SURVEY.md §2.11); the events plane is
additive.  Every operator here is a pure ``DataFrame -> DataFrame``
transform built from column expressions, windows and aggregates, so the
same code would run on a ``readStream`` input (with a watermark attached
first); the registered ``events_*`` queries run them in batch.

* ``windowed_counts`` — tumbling event-time window aggregation.
* ``sessionize`` — gap-based session windows via ``session_window``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from puma_matcher_spark.functions.rounding import pround

#: Width of the resampling grid (one hour), shared by
#: :func:`resample_counts` and :func:`forward_fill_values`.
BUCKET_SECONDS = 3600
#: Day zero of the trend x-axis of :func:`trend_stats`.
TREND_ORIGIN = "2024-01-01"


def windowed_counts(events: DataFrame, window_seconds: int = 300) -> DataFrame:
    """Tumbling-window counts/sums per event_type.

    Window start is exposed as epoch seconds (integer bucketing — stable
    across engines and serialization layers).  Works identically on batch
    and streaming inputs.
    """
    bucket = (
        F.floor(F.unix_timestamp("ts") / window_seconds) * window_seconds
    ).cast("long")
    return events.groupBy(
        bucket.alias("window_start_epoch"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("event_count"),
        pround(F.sum("value"), 4).alias("value_sum"),
        F.countDistinct("user_id").cast("long").alias("unique_users"),
    )


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based sessions per user via session_window (stateful on the
    streaming path; plain agg in batch)."""
    return events.groupBy(
        F.session_window("ts", gap).alias("session"), F.col("user_id")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        pround(F.sum("value"), 4).alias("session_value"),
    ).select(
        "user_id",
        F.col("session.start").alias("session_start"),
        F.col("session.end").alias("session_end"),
        "n_events",
        "session_value",
    )


def resample_counts(events: DataFrame) -> DataFrame:
    """Gap-filled (dense) time series: per event_type, event counts for
    EVERY :data:`BUCKET_SECONDS` bucket between the corpus min and max
    bucket — zeros where no events landed — the resample step downstream
    trend/anomaly jobs need before differencing.

    Scale shape: the fact aggregation is one hash shuffle; the dense
    grid is (types × buckets), built from a 1-row min/max aggregate
    cross-joined with the distinct types and an exploded sequence —
    tiny versus the fact table at any scale, and broadcast into the
    final left join by AQE.
    """
    bucket = (
        F.floor(F.unix_timestamp("ts") / BUCKET_SECONDS) * BUCKET_SECONDS
    ).cast("long")
    actual = events.groupBy(
        F.col("event_type"), bucket.alias("bucket_epoch")
    ).agg(F.count(F.lit(1)).cast("long").alias("event_count"))
    # bucket bounds fold in as ONE scalar subquery (a struct of both
    # bounds — a single aggregate pass over events), no join in the grid
    # construction, so the plan sweep's cartesian guard stays clean
    bounds = events.agg(
        F.struct(
            F.min(bucket).alias("lo"), F.max(bucket).alias("hi")
        ).alias("b")
    ).scalar()
    grid = (
        events.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    bounds.getField("lo"),
                    bounds.getField("hi"),
                    F.lit(BUCKET_SECONDS),
                )
            ).alias("bucket_epoch"),
        )
    )
    return grid.join(actual, ["event_type", "bucket_epoch"], "left").select(
        "event_type",
        "bucket_epoch",
        F.coalesce("event_count", F.lit(0)).cast("long").alias("event_count"),
    )


def forward_fill_values(events: DataFrame) -> DataFrame:
    """Last-observation-carried-forward resampling: per event_type, the
    last observed ``value`` in each bucket, carried FORWARD through
    empty buckets (the sensor/metrics companion to
    :func:`resample_counts`, which zero-fills counts).  Buckets before a
    type's first observation stay NULL.

    Determinism: "last in bucket" is resolved by (ts, event_id) —
    event_id breaks equal-timestamp ties — so the result is a pure
    function of the input across engines.

    Scale shape: one hash aggregate per (type, bucket) via max_by over
    the tie-break struct, the same scalar-subquery dense grid as
    resample_counts, and ONE window pass per type for the fill — state
    bounded by (types × buckets), tiny versus the fact table.
    """
    from pyspark.sql.window import Window

    bucket = (
        F.floor(F.unix_timestamp("ts") / BUCKET_SECONDS) * BUCKET_SECONDS
    ).cast("long")
    observed = events.groupBy(
        F.col("event_type"), bucket.alias("bucket_epoch")
    ).agg(
        F.max_by(
            F.col("value"), F.struct(F.col("ts"), F.col("event_id"))
        ).alias("obs")
    )
    bounds = events.agg(
        F.struct(F.min(bucket).alias("lo"), F.max(bucket).alias("hi")).alias("b")
    ).scalar()
    grid = (
        events.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    bounds.getField("lo"),
                    bounds.getField("hi"),
                    F.lit(BUCKET_SECONDS),
                )
            ).alias("bucket_epoch"),
        )
    )
    dense = grid.join(observed, ["event_type", "bucket_epoch"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(
        "event_type",
        "bucket_epoch",
        pround(F.last("obs", ignorenulls=True).over(w), 4).alias("value_filled"),
        F.col("obs").isNotNull().alias("was_observed"),
    )


def anomaly_flags(events: DataFrame) -> DataFrame:
    """Trailing z-score anomaly flags over the gap-filled series: each
    bucket's count against the mean/std of the previous 24 buckets of
    the same event_type, flagged when |z| > 3 — the standard ops-monitoring
    composition of :func:`resample_counts` + a bounded ROWS frame.

    The frame is deterministic (bucket_epoch is unique per type and the
    frame order is the sort order), so the float mean/std are
    reproducible across engines.  Early buckets with no variance emit a
    null z-score and never flag.
    """
    from pyspark.sql.window import Window

    dense = resample_counts(events)
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_epoch")
        .rowsBetween(-24, -1)
    )
    mean = F.avg("event_count").over(w)
    std = F.stddev_pop("event_count").over(w)
    z = F.when(std > 0, (F.col("event_count") - mean) / std)
    return dense.select(
        "event_type",
        "bucket_epoch",
        "event_count",
        pround(z, 4).alias("zscore"),
        F.coalesce(F.abs(z) > 3.0, F.lit(False)).alias("is_anomaly"),
    )


def trend_stats(events: DataFrame) -> DataFrame:
    """Per-type linear trend of ``value`` over event time via the SQL2016
    linear-regression aggregates (``regr_slope``/``regr_intercept``/``corr``)
    — the drift-detection summary a corpus-ingestion monitor computes per
    source before alerting on slope changes.

    All four statistics are algebraic aggregates: Spark computes them with
    map-side partials (one shuffle of constant-size state per group), so the
    plan is a single hash aggregate at any scale.  The x-axis is *days since
    a fixed origin* (:data:`TREND_ORIGIN`) rather than raw epoch seconds:
    it keeps x ~O(10²), which makes the covariance arithmetic
    well-conditioned and the rounded output
    reproducible across engines (raw epochs ~1.7e9 would eat 10 of the 16
    double digits before the variance even starts).
    """
    origin = F.unix_timestamp(F.lit(TREND_ORIGIN).cast("timestamp"))
    day_raw = (F.unix_timestamp("ts") - origin) / F.lit(86400.0)
    # explicit co-moment algebra with try_divide instead of
    # regr_slope/corr: under ANSI mode (Spark 4 default) the built-in
    # corr raises DIVIDE_BY_ZERO on a constant group; this form returns
    # NULL for degenerate groups (single event / constant value), which
    # is also what the DuckDB twins produce.
    # PAIRWISE-complete moments (SQL2016 regr_* semantics): a row where
    # EITHER value or ts is NULL contributes to neither moment — Spark's
    # column-wise var_pop/avg would otherwise keep the day of a
    # NULL-value row in the x-variance and diverge from regr_slope
    # (events-zoo-pinned).  n_events still counts every row.
    both = F.col("value").isNotNull() & day_raw.isNotNull()
    day = F.when(both, day_raw).alias("day")
    val = F.when(both, F.col("value")).alias("val")
    sxy = F.covar_pop("val", "day")
    sx = F.var_pop("day")
    sy = F.var_pop("val")
    slope = F.try_divide(sxy, sx)
    return (
        events.select("event_type", F.col("value"), val, day)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            pround(slope, 4).alias("value_slope_per_day"),
            pround(F.avg("val") - slope * F.avg("day"), 4).alias(
                "value_intercept"
            ),
            pround(F.try_divide(sxy, F.sqrt(sx * sy)), 4).alias(
                "value_time_corr"
            ),
        )
    )


def debounce_first_per_burst(
    events: DataFrame, gap_seconds: int = 1800
) -> DataFrame:
    """Telemetry debounce: keep only the FIRST event of each per-user
    burst, where a burst breaks when the gap from the previous event
    exceeds ``gap_seconds`` — the batch anchor-row twin of
    :func:`sessionize` (same chained-gap semantics as session_window),
    used to collapse rapid-fire duplicate signals at ingestion.

    One lag window per user (ties broken by event_id, so the kept set is
    deterministic); no state beyond the single previous row.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        events.withColumn("_gap", gap)
        .where(F.col("_gap").isNull() | (F.col("_gap") > gap_seconds))
        .drop("_gap")
    )


def rolling_counts(events: DataFrame) -> DataFrame:
    """Trailing moving aggregate at every event: count and value sum of
    the same event_type within the past hour (inclusive),
    via a RANGE frame over epoch seconds — the event-time frame-spec
    windowing the reference never uses (SURVEY.md §2.5 notes no
    ``rowsBetween``/``rangeBetween`` anywhere; this is the idiomatic
    Spark form).  One shuffle+sort per event_type partition; rows with
    equal timestamps all see the same frame, so the result is
    deterministic under ties.

    Scale note: partitioning only by event_type concentrates each type
    into ONE sort partition — fine for bounded type cardinality and
    bounded history, but at 100 TB repartition by (event_type, day)
    first and compute the frame within day boundaries plus a horizon
    overlap carried from the previous day (the standard windowed-
    overlap split), or keep the trailing stat incrementally via the
    streaming plane instead of recomputing it in batch."""
    from pyspark.sql.window import Window

    sec = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("event_type")
        .orderBy(sec)
        .rangeBetween(-3600, 0)
    )
    return events.select(
        "event_id",
        "event_type",
        F.count(F.lit(1)).over(w).cast("long").alias("trailing_count"),
        pround(F.sum("value").over(w), 4).alias("trailing_value_sum"),
    )


def dedup_events_batch(events: DataFrame) -> DataFrame:
    """Replay dedup: one row per ``event_id`` carrying the first-seen
    (min-ts) values plus the replay count — the record a watermarked
    streaming dedup would retain inside its horizon.
    Batch ``dropDuplicates`` keeps an arbitrary row, so the twin pins
    keep-semantics with min aggregates to stay engine-reproducible."""
    return events.groupBy("event_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_seen"),
        F.min("ts").alias("ts"),
        F.min("user_id").cast("long").alias("user_id"),
        F.min("event_type").alias("event_type"),
        pround(F.min("value"), 4).alias("value"),
    )


def hll_user_sketches(events: DataFrame, bucket_seconds: int = 86400) -> DataFrame:
    """Per-(event_type, bucket) mergeable HLL sketches of distinct users
    (DataSketches ``hll_sketch_agg``) — the materialization a 100 TB
    telemetry store keeps so distinct-count questions over ARBITRARY
    time ranges are answered by unioning pre-built kilobyte sketches
    instead of rescanning raw events.  Register-max union is
    order-independent, so sketches merge across partitions, days and
    ingestion replays without bias.
    """
    bucket = (
        F.floor(F.unix_timestamp("ts") / bucket_seconds) * bucket_seconds
    ).cast("long")
    return events.groupBy(
        F.col("event_type"), bucket.alias("bucket_epoch")
    ).agg(F.hll_sketch_agg("user_id").alias("user_sketch"))


def hll_range_estimate(sketches: DataFrame) -> DataFrame:
    """Union the per-bucket sketches per event_type and estimate the
    distinct-user count for the whole covered range — the query-time
    half of :func:`hll_user_sketches` (rollup reads sketches only,
    never raw events)."""
    return sketches.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("user_sketch"))
        .cast("long")
        .alias("approx_users")
    )


def theta_user_setops(events: DataFrame) -> DataFrame:
    """Distinct-user SET ALGEBRA from Theta sketches: |A∖B|, |A∩B| and
    |A∪B| for A = users who clicked and B = users who purchased,
    computed by combining two pre-built
    sketches — the question ("how many users clicked but never
    purchased?") that HLL cannot answer (HLL only unions) and that
    exactly requires a full anti-join over raw events.  At 100 TB the
    per-segment Theta sketches are kilobytes and the set ops are
    constant-time post-aggregation.
    """
    # both sketches come from ONE scan: conditional aggregation builds
    # each side's sketch over the same pass (the production shape — a
    # per-segment sketch build never needs a scan per segment)
    both = events.agg(
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("sa"),
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("sb"),
    )
    return both.select(
        F.theta_sketch_estimate(F.theta_difference("sa", "sb"))
        .cast("long")
        .alias("a_not_b"),
        F.theta_sketch_estimate(F.theta_intersection("sa", "sb"))
        .cast("long")
        .alias("a_and_b"),
        F.theta_sketch_estimate(F.theta_union("sa", "sb"))
        .cast("long")
        .alias("a_or_b"),
    )


def kll_value_quantiles(events: DataFrame) -> DataFrame:
    """Per-type mergeable quantile sketches (DataSketches KLL) for the
    ``value`` column: p50/p95 estimates whose sketches — unlike exact
    ``percentile`` state — merge associatively across partitions, days
    and reruns, the same materialize-once pattern as
    :func:`hll_user_sketches` but for order statistics."""
    sk = F.kll_sketch_agg_double("value")
    return events.groupBy("event_type").agg(
        F.kll_sketch_get_quantile_double(sk, F.lit(0.5)).alias("p50_est"),
        F.kll_sketch_get_quantile_double(sk, F.lit(0.95)).alias("p95_est"),
    )


def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon_seconds: int = 300,
) -> DataFrame:
    """Stream-stream interval join: purchases attributed to the same
    user's click within the horizon.  On streaming inputs both sides
    must carry watermarks (state is then bounded by the horizon +
    watermark delay — the canonical two-stream join pattern); on batch
    inputs the identical expression is a plain range join.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon_seconds} SECONDS")
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def attribution_models(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon_seconds: int = 300,
) -> DataFrame:
    """First-touch / last-touch attribution per purchase: among the
    qualifying clicks of :func:`attribution_join`, credit the earliest
    and the latest (deterministic (ts, id) lexicographic tie-break via
    struct min/max — an ordered arg-min without a window sort, so the
    roll-up stays ONE hash aggregate after the interval join).
    """
    j = attribution_join(clicks, purchases, horizon_seconds)
    first = F.min(F.struct("click_ts", "click_id"))
    last = F.max(F.struct("click_ts", "click_id"))
    return j.groupBy("user_id", "purchase_id", "purchase_ts").agg(
        first.getField("click_id").alias("first_click_id"),
        last.getField("click_id").alias("last_click_id"),
        F.count(F.lit(1)).cast("long").alias("n_touches"),
    )
