"""Data-quality plane: column profiling and expectation checks.

Additive to the reference (SURVEY.md §2.12) — a 100 TB ingestion
pipeline gates every batch on a profile + expectations report before
publishing, the way dbt tests / Deequ / Great Expectations do, but
expressed as plain Catalyst aggregates so the whole report is ONE job:

* :func:`profile_columns` — per-column row/null/distinct counts in a
  single aggregate pass (no per-column scans: one wide agg, then an
  explode to long form).
* :func:`expectation_report` — not-null / unique / accepted-values /
  range rules as conditional aggregates over one scan per table, plus
  referential integrity as an anti-join count.  Each rule yields
  (rule, n_checked, violations, passed).

Scale shape: profiling is map-side partial aggregation into one final
reduce (count-distinct is the only shuffle-bearing term); expectations
are the same plus one distributed anti-join for FK rules.  Nothing
collects to the driver; the report frames are a handful of rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-pass column profile: (column, n_rows, n_nulls, n_distinct).

    All counts in a single groupBy-less aggregate — at any scale this is
    one scan with map-side partials; count(DISTINCT) per column rewrites
    to expand+aggregate inside the same job.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("_rows")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"_nulls_{c}")
        )
        aggs.append(F.countDistinct(c).cast("long").alias(f"_nd_{c}"))
    wide = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"_nulls_{c}").alias("n_nulls"),
                F.col(f"_nd_{c}").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    return wide.select(
        F.col("_rows").alias("n_rows"), F.explode(entries).alias("e")
    ).select("e.col_name", "n_rows", "e.n_nulls", "e.n_distinct")


def k_anonymity_report(
    df: DataFrame, quasi_ids: list[str], k: int = 5
) -> DataFrame:
    """Privacy-plane check: group sizes over the quasi-identifier tuple.
    Rows whose quasi-id combination appears fewer than ``k`` times are
    re-identifiable — the standard k-anonymity audit run before a
    dataset leaves a trust boundary.

    Output: one row per risky group (size < k) with its size; empty
    output means the table is k-anonymous at the given k.  One hash
    aggregate on the quasi-id tuple — map-side combining makes this
    linear at any scale.
    """
    return (
        df.groupBy(*quasi_ids)
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
        .where(F.col("group_size") < k)
    )


def expectation_report(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Expectations over the orders/lineitem pair:

    * ``not_null:o_custkey`` — no null customer keys
    * ``unique:o_orderkey`` — the order key is a primary key
    * ``accepted_values:o_orderstatus`` — status within the enum
    * ``non_negative:o_totalprice`` — no negative totals
    * ``ref_integrity:l_orderkey`` — every lineitem has its order
      (anti-join violation count)

    The four orders rules come out of ONE conditional aggregate over the
    orders scan; the FK rule is one left-anti join counted.  Output is
    (rule, n_checked, violations, passed) — tiny at any input scale.
    """
    o = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_cust"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("dup_keys"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        )
        .cast("long")
        .alias("bad_status"),
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0))
        .cast("long")
        .alias("neg_price"),
    )
    rules = F.array(
        F.struct(
            F.lit("not_null:o_custkey").alias("rule"),
            F.col("n").alias("n_checked"),
            F.col("null_cust").alias("violations"),
        ),
        F.struct(
            F.lit("unique:o_orderkey").alias("rule"),
            F.col("n").alias("n_checked"),
            F.col("dup_keys").alias("violations"),
        ),
        F.struct(
            F.lit("accepted_values:o_orderstatus").alias("rule"),
            F.col("n").alias("n_checked"),
            F.col("bad_status").alias("violations"),
        ),
        F.struct(
            F.lit("non_negative:o_totalprice").alias("rule"),
            F.col("n").alias("n_checked"),
            F.col("neg_price").alias("violations"),
        ),
    )
    order_rules = o.select(F.explode(rules).alias("r")).select(
        "r.rule", "r.n_checked", "r.violations"
    )
    # FK check as ONE left-join + conditional aggregate (a separate
    # anti-join count would need a second lineitem scan and a 1×1 cross
    # join to pair the counts — this form is one pass and keeps the
    # registry's no-cartesian plan guard clean)
    fk_rule = (
        lineitem.select("l_orderkey")
        .join(
            # distinct: duplicate build-side keys (the exact condition
            # the unique rule exists to catch) must not fan out probe
            # rows and inflate n_checked
            orders.select(F.col("o_orderkey").alias("l_orderkey"))
            .distinct()
            .withColumn("_hit", F.lit(1)),
            "l_orderkey",
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_checked"),
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("violations"),
        )
        .select(
            F.lit("ref_integrity:l_orderkey").alias("rule"),
            "n_checked",
            "violations",
        )
    )
    return order_rules.unionByName(fk_rule).select(
        "rule",
        "n_checked",
        "violations",
        (F.col("violations") == 0).alias("passed"),
    )


def route_dead_letters(
    df: DataFrame, rules: list[tuple[str, Column]]
) -> DataFrame:
    """Row-level contract routing (the dead-letter-queue pattern): every
    row gets ``status`` ('ok' | 'quarantined') and ``reason`` — the name
    of the FIRST violated rule in list order, NULL when all pass.

    ``rules`` are (name, is-valid predicate) pairs; a predicate that
    evaluates to NULL (e.g. a comparison on an unparseable field) counts
    as violated — contract checks must never let nulls slip through as
    vacuously true.

    Scale shape: pure map-side column logic — no shuffle, no UDF; the
    quarantine split downstream is a predicate on ``status``, so both
    sides stay one scan.  Table-level expectations (rates/aggregates)
    live in :func:`expectation_report`; this is its row-level sibling.
    """
    reason = F.lit(None).cast("string")
    # fold in REVERSE so the first rule in list order takes precedence
    for name, pred in reversed(rules):
        violated = ~F.coalesce(pred, F.lit(False))
        reason = F.when(violated, F.lit(name)).otherwise(reason)
    return df.withColumn("reason", reason).withColumn(
        "status",
        F.when(F.col("reason").isNull(), F.lit("ok")).otherwise(
            F.lit("quarantined")
        ),
    )
