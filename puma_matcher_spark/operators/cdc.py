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
    # equi-join to a range-only cross join (see the
    # scd2_apply_increment NOTE for the same hazard in unions)
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


def scd2_apply_increment(
    history: DataFrame,
    new_changes: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    seq: str = "event_id",
    attr: str = "event_type",
) -> DataFrame:
    """Incrementally maintain an SCD2 table built by :func:`scd2_history`:
    fold a new changelog batch (all changes strictly AFTER the history's
    horizon) into the existing version table without re-reading the old
    changelog.

    At 100 TB this is the whole point of SCD2 maintenance — the daily
    batch touches a small key subset, so the update is:

    * untouched keys' rows pass through unread beyond one anti-join;
    * per touched key, only the OPEN version participates: the batch is
      run-compacted (lag), a leading run equal to the open version's
      attribute merges into it, and one lead() over (open ∪ new runs)
      re-closes validity bounds.

    Output is identical (asserted by test) to rebuilding from the full
    concatenated changelog.
    """
    # NOTE on naming: every frame built here that re-enters a union with
    # ``history`` uses FRESH internal column names (_k/_attr/_vf/_seq)
    # until the final projection.  The obvious formulation — reusing the
    # history column names through the tail-rebuild window and unioning
    # the branches — silently misresolves: the union branches share the
    # ``history`` subplan, the rebuilt branch's same-named window outputs
    # collide with history's original attributes, and rebuilt rows come
    # back with history's (open) validity columns instead of the
    # recomputed ones.  Distinct names make every reference unambiguous.
    affected = new_changes.select(key).distinct()
    untouched = history.join(affected, key, "left_anti")
    closed = history.join(affected, key, "left_semi").where(~F.col("is_current"))
    cur = (
        history.join(affected, key, "left_semi")
        .where("is_current")
        .select(
            F.col(key).alias("_k"),
            F.col(attr).alias("_attr"),
            F.col("valid_from_epoch").alias("_vf"),
            F.lit(None).cast("timestamp").alias("_ts"),
            F.lit(-1).cast("long").alias("_seq"),
        )
    )

    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col(seq).asc())
    batch_opens = (
        new_changes.withColumn("_prev", F.lag(attr).over(w))
        .where(F.col("_prev").isNull() | (F.col("_prev") != F.col(attr)))
        .select(
            F.col(key).alias("_k"),
            F.col(attr).alias("_attr"),
            F.unix_timestamp(ts).cast("long").alias("_vf"),
            F.col(ts).alias("_ts"),
            F.col(seq).cast("long").alias("_seq"),
        )
    )
    # a leading batch run with the same attribute as the key's open
    # version is the SAME run continuing across the horizon — drop it
    wb = Window.partitionBy("_k").orderBy(F.col("_ts").asc(), F.col("_seq").asc())
    cur_attr = cur.select(F.col("_k"), F.col("_attr").alias("_cur_attr"))
    fresh_opens = (
        batch_opens.withColumn("_rn", F.row_number().over(wb))
        .join(cur_attr, "_k", "left")
        .where(
            ~((F.col("_rn") == 1) & (F.col("_cur_attr") == F.col("_attr")))
            | F.col("_cur_attr").isNull()
        )
        .select("_k", "_attr", "_vf", "_ts", "_seq")
    )
    # recompute the tail: the open version sorts first (its true ts is
    # unknown from the history but is strictly BEFORE the horizon, so
    # before every batch change — nulls_first encodes that); batch runs
    # then follow in the same (ts, seq) order that detected them
    tail = cur.unionByName(fresh_opens)
    w2 = Window.partitionBy("_k").orderBy(
        F.asc_nulls_first("_ts"), F.col("_seq").asc()
    )
    rebuilt = tail.select(
        F.col("_k").alias(key),
        F.col("_attr").alias(attr),
        F.col("_vf").alias("valid_from_epoch"),
        F.lead("_vf").over(w2).alias("valid_to_epoch"),
        F.lead("_vf").over(w2).isNull().alias("is_current"),
    )
    return untouched.unionByName(closed).unionByName(rebuilt)


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
