"""Events plane: the event-time operators of streaming/events.py and
operators/events_analytics.py on hand-built event frames."""

from pyspark.sql import functions as F

import pytest

from puma_matcher_spark.streaming import events as se


def test_sessionize_gap_semantics(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 2.0),   # same session (gap 10m < 30m)
        (1, "2024-01-01 01:00:00", 3.0),   # new session (gap 50m)
        (2, "2024-01-01 00:00:00", 4.0),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "value"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = se.sessionize(ev, gap="30 minutes").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 2
    assert len(by_user[2]) == 1
    first = sorted(by_user[1], key=lambda r: r["session_start"])[0]
    assert first["n_events"] == 2
    assert first["session_value"] == 3.0


def test_resample_fills_gaps_with_zeros(spark):
    rows = [
        (1, "2024-01-01 00:10:00", "a", 1.0),
        (2, "2024-01-01 03:20:00", "a", 1.0),  # hours 1 and 2 are gaps
        (3, "2024-01-01 01:00:00", "b", 1.0),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"]) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(r["event_type"], r["bucket_epoch"]): r["event_count"]
           for r in se.resample_counts(ev).collect()}
    # grid = 2 types x 4 hourly buckets
    assert len(out) == 8
    assert sum(out.values()) == 3
    a_counts = [v for (t, _), v in sorted(out.items()) if t == "a"]
    assert a_counts == [1, 0, 0, 1]


def test_rolling_counts_trailing_window(spark):
    rows = [
        (1, "2024-01-01 00:00:00", "a", 2.0),
        (2, "2024-01-01 00:30:00", "a", 3.0),   # within 1h of e1
        (3, "2024-01-01 02:00:00", "a", 5.0),   # alone
        (4, "2024-01-01 00:30:00", "b", 7.0),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"]) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["event_id"]: (r["trailing_count"], r["trailing_value_sum"])
           for r in se.rolling_counts(ev).collect()}
    assert out[1] == (1, 2.0)
    assert out[2] == (2, 5.0)
    assert out[3] == (1, 5.0)
    assert out[4] == (1, 7.0)


def test_funnel_strict_ordering(spark):
    from puma_matcher_spark.operators.events_analytics import funnel_counts

    rows = [
        # user 1 completes the funnel in order
        (1, 1, "2024-01-01 00:00:00", "view"),
        (2, 1, "2024-01-01 00:05:00", "click"),
        (3, 1, "2024-01-01 00:10:00", "purchase"),
        # user 2 purchases BEFORE clicking -> reaches click, not purchase
        (4, 2, "2024-01-01 00:00:00", "view"),
        (5, 2, "2024-01-01 00:01:00", "purchase"),
        (6, 2, "2024-01-01 00:02:00", "click"),
        # user 3 never views -> reaches nothing
        (7, 3, "2024-01-01 00:00:00", "click"),
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r["step"]: r["n_users"] for r in funnel_counts(ev).collect()}
    assert got == {"view": 2, "click": 2, "purchase": 1}


def test_retention_cohorts_offsets(spark):
    from puma_matcher_spark.operators.events_analytics import retention_cohorts

    rows = [
        (1, 1, "2024-01-01 10:00:00"), (2, 1, "2024-01-03 10:00:00"),
        (3, 2, "2024-01-01 11:00:00"),
        (4, 3, "2024-01-02 09:00:00"), (5, 3, "2024-01-02 23:00:00"),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = {
        (str(r["cohort_day"]), r["day_offset"]): r["n_users"]
        for r in retention_cohorts(ev).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 2): 1,
        ("2024-01-02", 0): 1,
    }


def test_debounce_keeps_burst_anchors(spark):
    rows = [
        (1, 1, "2024-01-01 00:00:00"),   # anchor
        (2, 1, "2024-01-01 00:10:00"),   # within 30m of previous -> dropped
        (3, 1, "2024-01-01 00:35:00"),   # within 30m of e2 (chained) -> dropped
        (4, 1, "2024-01-01 02:00:00"),   # new burst
        (5, 2, "2024-01-01 00:00:00"),   # other user anchor
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    kept = {r["event_id"] for r in se.debounce_first_per_burst(ev).collect()}
    assert kept == {1, 4, 5}


def test_forward_fill_carries_last_observation(spark):
    rows = [
        (1, "2024-01-01 00:10:00", "a", 2.0),
        (2, "2024-01-01 00:50:00", "a", 3.0),   # same bucket: later ts wins
        (3, "2024-01-01 03:20:00", "a", 9.0),   # hours 1-2 are gaps
        (4, "2024-01-01 01:00:00", "b", 7.0),   # b unseen in hour 0
    ]
    ev = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"]) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(r["event_type"], r["bucket_epoch"]): (r["value_filled"], r["was_observed"])
           for r in se.forward_fill_values(ev).collect()}
    assert len(out) == 8  # 2 types x 4 hourly buckets
    a = [v for (t, _), v in sorted(out.items()) if t == "a"]
    assert a == [(3.0, True), (3.0, False), (3.0, False), (9.0, True)]
    b = [v for (t, _), v in sorted(out.items()) if t == "b"]
    # NULL before b's first observation, carried forward after
    assert b == [(None, False), (7.0, True), (7.0, False), (7.0, False)]


def test_forward_fill_bucket_tie_breaks_on_event_id(spark):
    rows = [
        (5, "2024-01-01 00:30:00", "a", 1.0),
        (9, "2024-01-01 00:30:00", "a", 4.0),   # equal ts: higher id wins
    ]
    ev = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"]) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    row = se.forward_fill_values(ev).collect()[0]
    assert row["value_filled"] == 4.0


def test_markov_transitions_probabilities(spark):
    rows = [
        (1, 1, "2024-01-01 00:00:00", "a"),
        (2, 1, "2024-01-01 00:01:00", "b"),
        (3, 1, "2024-01-01 00:02:00", "a"),
        (4, 2, "2024-01-01 00:00:00", "a"),
        (5, 2, "2024-01-01 00:01:00", "a"),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"]) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    from puma_matcher_spark.operators.events_analytics import markov_transitions

    got = {(r["from_type"], r["to_type"]): (r["n_transitions"], r["p"])
           for r in markov_transitions(ev).collect()}
    # from 'a': a->b once, a->a once (p=0.5 each); from 'b': b->a once
    assert got == {("a", "b"): (1, 0.5), ("a", "a"): (1, 0.5), ("b", "a"): (1, 1.0)}


def test_session_paths_caps_steps_and_orders_by_time(spark):
    rows = [
        (3, 1, "2024-01-01 00:02:00", "c"),
        (1, 1, "2024-01-01 00:00:00", "a"),
        (2, 1, "2024-01-01 00:01:00", "b"),
        (4, 2, "2024-01-01 00:00:00", "a"),
        (5, 2, "2024-01-01 00:01:00", "b"),
        (6, 2, "2024-01-01 00:02:00", "c"),
        (7, 2, "2024-01-01 00:03:00", "d"),  # beyond max_steps=3
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"]) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    from puma_matcher_spark.operators.events_analytics import session_paths

    got = {r["path"]: r["n_users"] for r in session_paths(ev, max_steps=3).collect()}
    assert got == {"a>b>c": 2}


@pytest.mark.slow
def test_events_zoo_broad_parity(spark, tmp_path):
    """Round 8: every events-only oracled query must match DuckDB on an
    edge-case corpus (NULL ts / NULL user / NULL type / NULL value /
    NULL + malformed props / empty type / same-ts ties / single-event
    users).  The probe behind this caught: DuckDB json_extract erroring
    on malformed JSON where Spark's get_json_object returns NULL (three
    oracles), equi-joins dropping the NULL event_type group, the cdc
    delete filter treating NULL type as 'error', Spark-vs-DuckDB NULL
    ordering divergence in the SCD2 sort, trend moments mixing
    column-wise and pairwise NULL handling vs regr_*, sessionization of
    NULL-ts rows, and the KLL rank band being ill-posed for tiny
    groups."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from puma_matcher_spark.oracle import compare_query
    from puma_matcher_spark.queries import REGISTRY

    T = lambda m: dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)
    rows = [
        (0, T(0), 1, "signup", 10.0, '{"k": 1}'),
        (1, T(1), 1, "view", 5.0, '{"k": 2}'),
        (2, T(1), 1, "view", 5.0, '{"k": 2}'),
        (3, T(2), 1, "purchase", 100.0, None),
        (4, T(3), 2, "view", None, '{"k": 3}'),
        (5, None, 2, "view", 1.0, '{"k": 4}'),
        (6, T(5), None, "purchase", 7.0, '{"k": 5}'),
        (7, T(6), 3, "", 0.0, '{"k": 6}'),
        (8, T(7), 3, None, -3.0, "not json"),
        (9, T(8), 4, "signup", 2.0, '{"k": 7}'),
        (10, T(9), 5, "error", 1e9, '{"k": 8}'),
        (11, T(9), 5, "error", 1e9, '{"k": 8}'),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    failures, n_checked = [], 0
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        try:
            res = compare_query(
                spark, con, name, spec.spark_fn, spec.oracle, str(tmp_path)
            )
        except Exception as e:
            msg = str(e)
            if "PATH_NOT_FOUND" in msg or "Table with name" in msg:
                continue  # needs tables beyond events — out of scope
            failures.append(f"{name}: EXC {type(e).__name__}: {msg[:150]}")
            continue
        n_checked += 1
        if not res.ok:
            failures.append(f"{name}: {res}")
    assert n_checked >= 28, f"events-zoo scope shrank: only {n_checked}"
    assert not failures, "events-zoo divergence:\n" + "\n".join(failures)
