"""Unit tests for the data-quality plane (operators/quality.py) and the
CDC/SCD2 operators (operators/cdc.py).  Oracle parity at sf0.001 is
covered by test_oracle_parity; these pin the semantics on hand-built
frames where the expected output is knowable by eye."""

from __future__ import annotations

from pyspark.sql import functions as F

from puma_matcher_spark.operators.cdc import cdc_latest_state, scd2_history
from puma_matcher_spark.operators.quality import (
    expectation_report,
    profile_columns,
)


def test_profile_counts_nulls_and_distincts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b")], "k INT, v STRING"
    )
    rows = {r["col_name"]: r for r in profile_columns(df, ["k", "v"]).collect()}
    assert rows["k"]["n_rows"] == 4
    assert rows["k"]["n_nulls"] == 0
    assert rows["k"]["n_distinct"] == 4
    assert rows["v"]["n_nulls"] == 1
    assert rows["v"]["n_distinct"] == 2  # NULL not counted as a value


def test_expectations_flag_injected_violations(spark):
    orders = spark.createDataFrame(
        [
            (1, 10, "F", 5.0),
            (1, 11, "O", 6.0),  # duplicate key
            (2, None, "X", -1.0),  # null custkey, bad status, negative
        ],
        "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, o_totalprice DOUBLE",
    )
    lineitem = spark.createDataFrame(
        [(1,), (99,)], "l_orderkey LONG"  # 99 → orphan
    )
    rep = {
        r["rule"]: r for r in expectation_report(orders, lineitem).collect()
    }
    assert rep["not_null:o_custkey"]["violations"] == 1
    assert rep["unique:o_orderkey"]["violations"] == 1
    assert rep["accepted_values:o_orderstatus"]["violations"] == 1
    assert rep["non_negative:o_totalprice"]["violations"] == 1
    assert rep["ref_integrity:l_orderkey"]["violations"] == 1
    assert not any(r["passed"] for r in rep.values())


def _changelog(spark):
    # user 1: view → click → click (dup) → purchase (current)
    # user 2: view → error (deleted)
    return spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1, "view", 1.0),
            (2, "2024-01-01 00:01:00", 1, "click", 1.0),
            (3, "2024-01-01 00:02:00", 1, "click", 1.0),
            (4, "2024-01-01 00:03:00", 1, "purchase", 9.0),
            (5, "2024-01-01 00:00:00", 2, "view", 1.0),
            (6, "2024-01-01 00:05:00", 2, "error", 0.0),
        ],
        "event_id LONG, ts STRING, user_id LONG, event_type STRING, value DOUBLE",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_cdc_latest_state_keeps_newest_and_applies_deletes(spark):
    out = cdc_latest_state(_changelog(spark)).collect()
    assert len(out) == 1
    assert out[0]["user_id"] == 1 and out[0]["event_type"] == "purchase"


def test_scd2_collapses_runs_and_closes_versions(spark):
    hist = scd2_history(_changelog(spark))
    u1 = [
        r.asDict()
        for r in hist.where("user_id = 1")
        .orderBy("valid_from_epoch")
        .collect()
    ]
    # view → click (two clicks collapse) → purchase
    assert [r["event_type"] for r in u1] == ["view", "click", "purchase"]
    assert [r["is_current"] for r in u1] == [False, False, True]
    # each closed version's end is the next version's start
    assert u1[0]["valid_to_epoch"] == u1[1]["valid_from_epoch"]
    assert u1[1]["valid_to_epoch"] == u1[2]["valid_from_epoch"]
    assert u1[2]["valid_to_epoch"] is None
    # user 2's delete record still opens a version (history keeps it)
    assert hist.where("user_id = 2").count() == 2


def test_scd2_orders_same_second_versions_by_event_time(spark):
    """Two opens in the same epoch second whose seq order disagrees with
    their sub-second time order must still version in TIME order — the
    truncated valid_from_epoch is output only, never the sort key."""
    ch = spark.createDataFrame(
        [
            (9, "2024-01-01 00:00:00.100", 1, "A", 1.0),
            (3, "2024-01-01 00:00:00.900", 1, "B", 1.0),
        ],
        "event_id LONG, ts STRING, user_id LONG, event_type STRING, value DOUBLE",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = {r["event_type"]: r for r in scd2_history(ch).collect()}
    assert rows["A"]["is_current"] is False
    assert rows["B"]["is_current"] is True
    assert rows["A"]["valid_to_epoch"] == rows["B"]["valid_from_epoch"]


def test_cdc_latest_state_null_type_is_not_a_delete(spark):
    ch = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, None, 1.0)],
        "event_id LONG, ts STRING, user_id LONG, event_type STRING, value DOUBLE",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert cdc_latest_state(ch).count() == 1


def test_expectation_fk_count_immune_to_duplicate_orders(spark):
    orders = spark.createDataFrame(
        [(1, 10, "F", 5.0), (1, 11, "O", 6.0)],
        "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, o_totalprice DOUBLE",
    )
    lineitem = spark.createDataFrame([(1,), (99,)], "l_orderkey LONG")
    rep = {
        r["rule"]: r for r in expectation_report(orders, lineitem).collect()
    }
    fk = rep["ref_integrity:l_orderkey"]
    assert fk["n_checked"] == 2  # NOT fanned out by the duplicate key
    assert fk["violations"] == 1


def test_point_in_time_join_matches_exactly_one_version(spark, sf_small):
    """Every fact must land in exactly one SCD2 interval (contiguous,
    non-overlapping versions) — no dupes, no drops."""
    from puma_matcher_spark.operators.cdc import point_in_time_join
    from puma_matcher_spark.sources.testdata import load_tables

    ev = load_tables(spark, sf_small).events()
    hist = scd2_history(ev).withColumnRenamed("event_type", "active_type")
    facts = ev.select("user_id", "event_id", "ts")
    joined = point_in_time_join(facts, hist)
    assert joined.count() == facts.count()
    assert joined.select("event_id").distinct().count() == facts.count()


def test_incremental_near_dups_match_full_scan(spark, sf_small):
    """Batch×corpus LSH candidates (uncapped) must equal the full-corpus
    candidate set restricted to cross pairs."""
    from puma_matcher_spark.llmdata import dedup as dd
    from puma_matcher_spark.sources.testdata import load_tables

    docs = load_tables(spark, sf_small).llm_documents()
    batch = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    inc = {
        (r["new_doc_id"], r["corpus_doc_id"])
        for r in dd.minhash_incremental_pairs(
            batch, corpus, max_bucket_size=None
        ).collect()
    }
    full = dd.minhash_dedup_pairs(docs, max_bucket_size=None).collect()
    cross = set()
    for r in full:
        a, b = r["doc1_id"], r["doc2_id"]
        if (a % 10 == 0) != (b % 10 == 0):
            new_id, corp_id = (a, b) if a % 10 == 0 else (b, a)
            cross.add((new_id, corp_id))
    assert inc == cross


def test_snapshot_diff_classifies_all_change_kinds(spark):
    from puma_matcher_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "will vanish")],
        "id LONG, text STRING",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (4, "brand new")],
        "id LONG, text STRING",
    )
    out = {r["id"]: r["change_type"] for r in snapshot_diff(old, new, "id", ["text"]).collect()}
    assert out == {2: "changed", 3: "removed", 4: "added"}  # id 1 absent


def test_point_in_time_join_chains_onto_second_dimension(spark, sf_small):
    """A fact frame that already carries valid_from/to_epoch from one
    PIT join must join cleanly onto a second history (regression: bare
    column references were ambiguous); the dimension's copies arrive
    under a dim_ prefix."""
    from puma_matcher_spark.operators.cdc import (
        point_in_time_join,
        scd2_history,
    )
    from puma_matcher_spark.sources.testdata import load_tables

    ev = load_tables(spark, sf_small).events()
    hist = scd2_history(ev)
    once = point_in_time_join(ev, hist)
    assert "valid_from_epoch" in once.columns
    twice = point_in_time_join(once, hist)
    assert "dim_valid_from_epoch" in twice.columns
    assert twice.count() == once.count()


def test_route_dead_letters_first_rule_wins_and_nulls_violate(spark):
    from puma_matcher_spark.operators.quality import route_dead_letters

    df = spark.createDataFrame(
        [(1, 5, 10.0), (2, None, 10.0), (3, 95, 10.0), (4, 95, 500.0), (5, 5, 500.0)],
        "id INT, k INT, value DOUBLE",
    )
    rules = [
        ("k_parse", F.col("k").isNotNull()),
        ("k_range", F.col("k") < 90),
        ("value_cap", F.col("value") <= 400.0),
    ]
    got = {r["id"]: (r["status"], r["reason"])
           for r in route_dead_letters(df, rules).collect()}
    assert got == {
        1: ("ok", None),
        2: ("quarantined", "k_parse"),      # null predicate counts as violated
        3: ("quarantined", "k_range"),
        4: ("quarantined", "k_range"),      # first violated rule wins
        5: ("quarantined", "value_cap"),
    }


def test_deadletter_unparseable_json_quarantines_instead_of_crashing(spark):
    # Spark 4 ANSI mode: a plain cast('long') would CRASH on 'abc'/'12.5';
    # the query path must try_cast so bad inputs route to quarantine
    from puma_matcher_spark.operators.quality import route_dead_letters

    df = spark.createDataFrame(
        [
            (1, '{"k": "abc"}', 5.0),
            (2, '{"k": 12.5}', 5.0),
            (3, "not json at all", 5.0),
            (4, '{"k": 5}', None),
            (5, '{"k": 5}', 5.0),
        ],
        "event_id INT, props STRING, value DOUBLE",
    )
    e = df.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("long").alias("k"),
        "value",
    )
    rules = [
        ("k_parse", F.col("k").isNotNull()),
        ("k_range", F.col("k") < 90),
        ("value_cap", F.col("value") <= 400.0),
    ]
    got = {r["event_id"]: r["reason"] for r in route_dead_letters(e, rules).collect()}
    assert got == {1: "k_parse", 2: "k_parse", 3: "k_parse",
                   4: "value_cap", 5: None}
