"""Change-data-capture operators: latest-state apply and SCD type-2
history building.

Additive to the reference (SURVEY.md §2.12) — a 100 TB pipeline that
ingests upstream changelogs (Debezium-style I/U/D streams) needs two
canonical materialisations:

* :func:`cdc_latest_state` — collapse a changelog to the current row
  per key (newest change wins; a terminal delete removes the key).
  One ``row_number`` window partitioned by the key — the shuffle is on
  the key, exactly the partitioning the downstream merge needs.
* :func:`scd2_history` — rebuild the slowly-changing-dimension type-2
  version table from the same changelog: one row per (key, attribute
  run), with validity bounds and an ``is_current`` flag.  A lag()
  dedups consecutive identical attribute values, a lead() closes each
  version — two windows over ONE shuffle (same partitioning + ordering,
  Spark reuses the sort).

Both read the events changelog columns: key ``user_id``, attribute
``event_type``, and a total order of ``(ts, event_id)`` so replays and
ties are deterministic.  Validity bounds are exposed as epoch seconds (BIGINT)
— engine-portable, no timestamp-zone ambiguity in the hash compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def cdc_latest_state(changes: DataFrame) -> DataFrame:
    """Newest-change-wins state: keep the last change per ``user_id``,
    drop keys whose last change is a delete (``event_type == 'error'``
    in the events fixture).
    """
    delete_when = F.col("event_type") == "error"
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        # coalesce: a NULL predicate (e.g. null event_type) must mean
        # "not a delete", not silently tombstone the key
        .where(~F.coalesce(delete_when, F.lit(False)))
        .drop("_rn")
    )


def scd2_history(changes: DataFrame) -> DataFrame:
    """SCD2 version table: one row per run of equal ``event_type`` values
    per ``user_id``, ordered by (ts, event_id).

    Consecutive duplicate values collapse into the earlier version
    (standard changelog compaction); each version's ``valid_to_epoch``
    is the next version's start, NULL on the current one.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    opens = (
        changes.withColumn("_prev", F.lag("event_type").over(w))
        .where(F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type")))
        .select(
            F.col("user_id"),
            F.col("event_type"),
            F.col("ts").alias("_ts"),
            F.unix_timestamp("ts").cast("long").alias("valid_from_epoch"),
            F.col("event_id").alias("_seq"),
        )
    )
    # version order must be the SAME (ts, event_id) order that detected the
    # runs — ordering by the second-truncated epoch would mis-order two
    # opens landing in the same second when their seq order disagrees
    # with their sub-second time order
    w2 = Window.partitionBy("user_id").orderBy(F.col("_ts").asc(), F.col("_seq").asc())
    return opens.select(
        "user_id",
        "event_type",
        "valid_from_epoch",
        F.lead("valid_from_epoch").over(w2).alias("valid_to_epoch"),
        F.lead("valid_from_epoch").over(w2).isNull().alias("is_current"),
    )


def point_in_time_join(facts: DataFrame, history: DataFrame) -> DataFrame:
    """Temporal (point-in-time) join: each fact row picks the dimension
    version active at its event time ``ts`` for its ``user_id`` —
    ``valid_from <= t < valid_to`` (open version: ``valid_to IS NULL``).

    Scale shape: an equi-join on the key plus a range predicate — the
    shuffle co-locates each key's facts with its (few) versions, so the
    range check is a within-partition filter, never an interval
    cross-product.  Versions are contiguous and non-overlapping by
    construction (scd2_history), so each fact matches at most one row.
    """
    # rename the history key before joining: facts and history often
    # share lineage (versions built from the same changelog), and
    # ``facts.user_id == history.user_id`` can resolve both sides to the SAME
    # attribute — a trivially-true predicate that silently degrades the
    # equi-join to a range-only cross join
    # the validity epochs are renamed too: a fact frame that itself
    # carries valid_from/to_epoch (e.g. the output of a previous
    # point-in-time join being joined to a second dimension) would make
    # the bare column references ambiguous
    h = (
        history.withColumnRenamed("user_id", "_h_key")
        .withColumnRenamed("valid_from_epoch", "_h_vf")
        .withColumnRenamed("valid_to_epoch", "_h_vt")
    )
    t_epoch = F.unix_timestamp(F.col("ts")).cast("long")
    joined = facts.join(
        h,
        (F.col("user_id") == F.col("_h_key"))
        & (t_epoch >= F.col("_h_vf"))
        & (F.col("_h_vt").isNull() | (t_epoch < F.col("_h_vt"))),
    ).drop("_h_key")
    # restore the history column names; on collision with a fact-side
    # column keep the dimension's copy under a dim_ prefix, escalating
    # dim2_, dim3_… so a third-level chain never emits duplicate names
    for orig, tmp in (
        ("valid_from_epoch", "_h_vf"),
        ("valid_to_epoch", "_h_vt"),
    ):
        name = orig
        k = 1
        while name in facts.columns:
            name = f"dim_{orig}" if k == 1 else f"dim{k}_{orig}"
            k += 1
        joined = joined.withColumnRenamed(tmp, name)
    return joined


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """Change detection between two dataset snapshots: one full-outer
    join on the key, comparing a content fingerprint of the tracked
    columns.  Output: (key, change_type ∈ added|removed|changed) —
    unchanged rows are dropped, so the result is delta-sized.

    This is the snapshot-diff a data-versioning layer runs between
    corpus publishes; at 100 TB both sides hash map-side first so the
    join carries (key, md5) only, never the payload columns.
    """
    def fp(df: DataFrame, alias: str) -> DataFrame:
        return df.select(
            F.col(key),
            F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in compare_cols])).alias(alias),
        )

    o = fp(old, "_old_fp")
    n = fp(new, "_new_fp")
    joined = o.join(n, key, "full_outer")
    return joined.select(
        key,
        F.when(F.col("_old_fp").isNull(), F.lit("added"))
        .when(F.col("_new_fp").isNull(), F.lit("removed"))
        .when(F.col("_old_fp") != F.col("_new_fp"), F.lit("changed"))
        .alias("change_type"),
    ).where(F.col("change_type").isNotNull())
