"""Tests of the benchmark itself: metric declarations, span arithmetic,
output fingerprints and checks, the engine-counter reader and the
expected entity-dedup outputs against the DuckDB oracle twins.

Run from the repository root::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import engine  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench() -> dict:
    with open(run.BENCHMARK_PATH, encoding="utf-8") as fh:
        return json.load(fh)


# -- metric declarations ------------------------------------------------


def test_end_to_end_metrics_are_the_ones_a_run_reports(bench):
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert declared == {
        "setup_s": "s",
        "cold_s": "s",
        "items_per_s": "1/s",
    }
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_per_layer_metrics_exist_in_code_with_the_declared_units(bench):
    tracer = spans.Tracer(types.SimpleNamespace(sparkContext=None))
    span_names = set(tracer.layer_metrics({}))
    code_units = dict(engine.SPARK_METRICS)
    code_units.update(
        {
            f"{layer}.{m}": unit
            for layer in spans.LAYERS
            for m, unit in spans.SPAN_METRICS
        }
    )
    for m in bench["per_layer"]:
        name = m["name"]
        assert name in span_names or name in code_units or name in (
            "functions.caching.cached_bytes",
            "pass.warm_s",
            "process.peak_rss_mb",
            "trace.overhead_s",
        ), name
        if name in code_units:
            assert m["unit"] == code_units[name], name


def test_metric_names_and_units_are_well_formed(bench):
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert len(bench["per_layer"]) <= 128
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    for w in bench["workloads"]:
        assert NAME.match(w["name"]) and len(w["why"]) <= 200
        assert w["name"] in workloads.PASSES


# -- span arithmetic ----------------------------------------------------


def _span(i, start, end, parent=None, layer="operators.matcher"):
    return spans.Span(i, f"{layer}.f{i}", layer, 0, parent, start, end)


def test_self_time_subtracts_the_union_of_children():
    root = _span(0, 0.0, 10.0)
    a = _span(1, 1.0, 3.0, root)
    b = _span(2, 2.0, 5.0, root)  # overlaps a: another thread
    c = _span(3, 8.0, 12.0, root)  # clipped at the parent's end
    grandchild = _span(4, 1.5, 2.5, a)
    selfs = spans.self_times([root, a, b, c, grandchild])
    assert selfs[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert selfs[1] == pytest.approx(2.0 - 1.0)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[4] == pytest.approx(1.0)


def test_covered_seconds_merges_overlaps_and_gaps():
    assert engine.covered_seconds([]) == 0.0
    assert engine.covered_seconds([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert engine.covered_seconds([(3, 4), (0, 1), (1, 2)]) == pytest.approx(3.0)


def test_layer_metrics_sum_self_time_and_group_counters_per_layer():
    tracer = spans.Tracer(types.SimpleNamespace(sparkContext=None))
    outer = _span(0, 0.0, 4.0, layer="operators.stats")
    inner = _span(1, 1.0, 2.0, outer, layer="operators.matcher")
    inner.rows_out = 7
    tracer.spans = [outer, inner]
    m = tracer.layer_metrics(
        {inner.group: {"jobs": 2, "task_s": 0.5, "shuffle_write_bytes": 10}}
    )
    assert m["operators.stats.self_s"] == pytest.approx(3.0)
    assert m["operators.matcher.self_s"] == pytest.approx(1.0)
    assert m["operators.matcher.jobs"] == 2
    assert m["operators.matcher.rows_out"] == 7
    assert m["operators.stats.jobs"] == 0


# -- fingerprints and checks -------------------------------------------


def test_fingerprint_ignores_row_order_and_float_noise():
    rows = [(1, 0.1 + 0.2, "a"), (2, 1.0, "b")]
    fp = workloads.fingerprint_rows(["k", "v", "s"], rows)
    assert fp[0] == 2
    assert workloads.fingerprint_rows(["k", "v", "s"], rows[::-1]) == fp
    assert workloads.fingerprint_rows(["k", "v", "s"], [(1, 0.3, "a"), (2, 1.0, "b")]) == fp
    # column order does not matter, names and values do
    assert workloads.fingerprint_rows(["s", "k", "v"], [(s, k, v) for k, v, s in rows]) == fp
    assert workloads.fingerprint_rows(["k", "v", "s"], [(1, 0.31, "a"), (2, 1.0, "b")]) != fp


def test_check_flags_wrong_missing_and_extra_outputs():
    good = {"a": [1, "x"], "b": [2, "y"]}
    assert workloads.check(good, good) == []
    assert workloads.check({"a": [1, "x"], "b": [2, "z"]}, good) == ["b"]
    assert workloads.check({"a": [1, "x"]}, good) == ["b"]
    assert workloads.check({**good, "c": [0, "w"]}, good) == ["c"]


def test_every_workload_has_recorded_expected_outputs():
    expected = workloads.load_expected()
    assert set(expected) == set(workloads.PASSES)
    for outputs in expected.values():
        assert outputs and all(n > 0 for n, _ in outputs.values())


def test_inputs_are_the_fixture_rows_in_a_seeded_layout(tmp_path):
    import pyarrow.parquet as pq

    a, b = tmp_path / "a", tmp_path / "b"
    rows_a = inputs.write_inputs("dedup", str(a), seed=1)
    assert inputs.write_inputs("dedup", str(b), seed=2) == rows_a
    fixture = pq.read_table(inputs.fixture_path("dedup", "customer"))
    assert rows_a["customer"] == fixture.num_rows
    ta = pq.read_table(str(a / "customer.parquet"))
    tb = pq.read_table(str(b / "customer.parquet"))
    assert ta.column("c_custkey").to_pylist() != tb.column("c_custkey").to_pylist()
    assert ta.sort_by("c_custkey").equals(fixture.sort_by("c_custkey"))
    assert tb.sort_by("c_custkey").equals(fixture.sort_by("c_custkey"))


# -- entity dedup against the DuckDB oracle twins ---------------------


@pytest.mark.parametrize(
    "query", ["dedup_person_chain", "dedup_components_cc", "dedup_exact"]
)
def test_expected_entity_dedup_outputs_match_the_duckdb_oracle(query):
    import duckdb

    from puma_matcher_spark.queries import REGISTRY

    con = duckdb.connect()
    for table in inputs.TABLES["dedup"][1]:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM "
            f"read_parquet('{inputs.fixture_path('dedup', table)}')"
        )
    rel = con.sql(REGISTRY[query].oracle)
    got = workloads.fingerprint_rows(list(rel.columns), rel.fetchall())
    assert got == workloads.load_expected()["dedup"][query]


# -- with a Spark session ---------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    run.session_env("1g", work)
    session = run.start_spark(work)
    yield session
    session.stop()


def test_counter_reader_on_a_pass_at_sf0_001(spark, tmp_path):
    from puma_matcher_spark.queries import REGISTRY

    rows = inputs.write_inputs("matcher", str(tmp_path), seed=0)
    store = engine.StatusStore(spark)
    before = store.last_job_id()
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "test-group")
    start_ms = time.time() * 1e3
    try:
        out = REGISTRY["pricing_summary"].spark_fn(spark, str(tmp_path)).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    end_ms = time.time() * 1e3
    assert 0 < sum(r["count_order"] for r in out) <= rows["lineitem"]

    c = engine.pass_counters(store, before, start_ms, end_ms)
    assert c["spark.jobs"] >= 1
    assert c["spark.stages"] >= c["spark.jobs"]
    assert c["spark.tasks"] >= 1
    assert c["spark.task_s"] > 0
    assert c["spark.input_bytes"] > 0
    assert c["spark.shuffle_write_bytes"] > 0  # the groupBy
    assert 0 <= c["spark.driver_gap_s"] <= (end_ms - start_ms) / 1e3
    groups = engine.group_totals(store, before)
    assert groups["test-group"]["jobs"] == c["spark.jobs"]


def test_a_wrong_expected_fingerprint_fails_the_pass(spark, tmp_path):
    runner = run.Runner(spark, "dedup", str(tmp_path), str(tmp_path))
    runner.fn = lambda s, data_dir, out_dir: {
        "ids": workloads.fingerprint(s.range(5))
    }
    runner.expected = {"ids": workloads.fingerprint_rows(["id"], [(i,) for i in range(5)])}
    assert runner.run_pass("warm")["ok"]
    runner.expected = {"ids": [5, "0" * 64]}
    rec = runner.run_pass("warm")
    assert not rec["ok"] and rec["mismatched"] == ["ids"]
    assert (runner.attempted, runner.failed) == (2, 1)
