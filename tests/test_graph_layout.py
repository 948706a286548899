"""Unit tests for the graph (PageRank), Z-order layout, weighted-sampling,
edit-distance, and trend operators added in round 3."""

from __future__ import annotations

import pytest

import math
import random

from pyspark.sql import functions as F

from puma_matcher_spark.llmdata.sampling import weighted_sample_topk
from puma_matcher_spark.operators.dedup import edit_distance_pairs
from puma_matcher_spark.operators.graph import pagerank, pagerank_mass_check
from puma_matcher_spark.sources.maintenance import zorder_by, zvalue
from puma_matcher_spark.streaming.events import trend_stats


def _reference_pagerank(edges, n_iter=10, d=0.85):
    """Plain-Python power iteration with dangling redistribution —
    the independent fixture the distributed loop must reproduce."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    out = {}
    for a, _ in edges:
        out[a] = out.get(a, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        contrib = {v: 0.0 for v in nodes}
        for a, b in edges:
            contrib[b] += rank[a] / out[a]
        dangle = sum(rank[v] for v in nodes if v not in out)
        rank = {
            v: (1 - d) / n + d * (contrib[v] + dangle / n) for v in nodes
        }
    return rank


def test_pagerank_matches_reference_loop(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=10).collect()}
    want = _reference_pagerank(edges)
    assert set(got) == set(want)
    for v in want:
        assert math.isclose(got[v], want[v], rel_tol=1e-9), (v, got[v], want[v])


def test_pagerank_mass_conserved_with_dangling(spark):
    # "c" and "d" are dangling sinks — without redistribution mass decays
    edges = [("a", "c"), ("b", "c"), ("a", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    row = pagerank_mass_check(df).collect()[0]
    assert row["n_nodes"] == 4
    assert row["total_mass"] == 1.0
    assert row["all_positive"] and row["has_spread"]


def test_zvalue_interleaves_bits(spark):
    def py_z(a, b, bits=16):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i + 1)
            z |= ((b >> i) & 1) << (2 * i)
        return z

    cases = [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame(cases, "a long, b long").select(
        "a", "b", zvalue("a", "b").alias("z")
    )
    for r in df.collect():
        assert r["z"] == py_z(r["a"], r["b"]), (r["a"], r["b"])


def test_zorder_by_sorts_and_preserves_rows(spark):
    rows = [(i, (i * 37) % 101, (i * 91) % 103) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    out = zorder_by(df, "a", "b", n_ranges=4)
    assert out.count() == 1000
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))
    # within every partition the Morton key must be non-decreasing, and
    # ranges must not overlap across partition ids (range partitioning)
    check = out.withColumn("z", zvalue("a", "b")).withColumn(
        "pid", F.spark_partition_id()
    )
    per = (
        check.groupBy("pid")
        .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
        .orderBy("pid")
        .collect()
    )
    for prev, cur in zip(per, per[1:]):
        assert prev["hi"] <= cur["lo"]


def test_weighted_sample_is_deterministic_and_weight_biased(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    s1 = {r["doc_id"] for r in weighted_sample_topk(docs, "n_chars", k=40).collect()}
    # different partitioning must not change the selected set
    s2 = {
        r["doc_id"]
        for r in weighted_sample_topk(docs.repartition(13), "n_chars", k=40).collect()
    }
    assert s1 == s2 and len(s1) == 40
    med = docs.agg(F.expr("percentile(n_chars, 0.5)")).collect()[0][0]
    heavy = docs.where(F.col("n_chars") > med).count()
    heavy_sampled = (
        docs.where(F.col("doc_id").isin(s1)).where(F.col("n_chars") > med).count()
    )
    # heavier docs must be overrepresented vs their population share
    assert heavy_sampled / 40 > heavy / docs.count()


def test_edit_distance_pairs_blocked(spark):
    rows = [
        (1, "red widget"),
        (2, "blue widget"),
        (3, "red gadget"),
        (4, "rod widget"),
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    pairs = {
        (r["id1"], r["id2"]): r["edit_distance"]
        for r in edit_distance_pairs(df, "id", "name", max_dist=4).collect()
    }
    # widget-block pairs within distance; gadget blocked apart from widgets
    assert pairs[(1, 2)] == 4 and pairs[(1, 4)] == 1 and pairs[(2, 4)] == 4
    assert not any(3 in p for p in pairs)


def test_trend_stats_recovers_planted_slope(spark):
    # value = 2.5 * day + 1.0 exactly → slope/intercept/corr are exact
    rows = [
        (i, f"2024-01-{1 + i:02d} 00:00:00", 2.5 * i + 1.0)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, value double").select(
        F.lit("t").alias("event_type"), F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    r = trend_stats(df).collect()[0]
    assert r["n_events"] == 10
    assert r["value_slope_per_day"] == 2.5
    assert r["value_intercept"] == 1.0
    assert r["value_time_corr"] == 1.0


def test_trend_pandas_twin_matches_catalyst(spark, sf_small):
    from puma_matcher_spark.streaming.events import trend_stats_pandas
    from puma_matcher_spark.sources.testdata import load_tables

    events = load_tables(spark, sf_small).events()
    cat = {tuple(r) for r in trend_stats(events).collect()}
    pd_ = {tuple(r) for r in trend_stats_pandas(events).collect()}
    assert cat == pd_


def test_trend_pandas_twin_degenerate_groups(spark):
    from puma_matcher_spark.streaming.events import trend_stats_pandas

    # one single-event group (no x variance) and one constant-value
    # group — slope/corr must be NULL in both engines, not a crash
    rows = [
        ("solo", "2024-01-05 10:00:00", 3.0),
        ("flat", "2024-01-01 00:00:00", 7.0),
        ("flat", "2024-01-02 00:00:00", 7.0),
        ("flat", "2024-01-03 00:00:00", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    cat = {tuple(r) for r in trend_stats(df).collect()}
    pd_ = {tuple(r) for r in trend_stats_pandas(df).collect()}
    assert cat == pd_
    by_type = {r["event_type"]: r for r in trend_stats_pandas(df).collect()}
    assert by_type["solo"]["value_slope_per_day"] is None
    assert by_type["flat"]["value_time_corr"] is None


def test_zorder_frequency_strategy_spreads_skewed_keys(spark):
    from puma_matcher_spark.sources.maintenance import zorder_by_quantized

    # column `a` is 99% a single hot value — equal-width quantization
    # collapses the hot mass into one cell; equal-frequency must still
    # produce a layout whose rows are preserved and partitions ordered
    rows = [(i, 7 if i % 100 else i, i % 1000) for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    out = zorder_by_quantized(df, "a", "b", bits=4, n_ranges=4, strategy="frequency")
    assert out.count() == 5000
    assert sorted(r["id"] for r in out.select("id").collect()) == list(range(5000))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        zorder_by_quantized(df, "a", "b", strategy="bogus")


def test_hll_sketch_union_is_bucket_invariant(spark, sf_small):
    """Register-max union is associative: per-hour sketches unioned per
    type must give EXACTLY the estimate of one whole-range sketch — the
    property that makes stored sketches answer arbitrary ranges."""
    from puma_matcher_spark.streaming.events import (
        hll_range_estimate,
        hll_user_sketches,
    )
    from puma_matcher_spark.sources.testdata import load_tables

    ev = load_tables(spark, sf_small).events()
    fine = {
        (r["event_type"], r["approx_users"])
        for r in hll_range_estimate(hll_user_sketches(ev, 3600)).collect()
    }
    coarse = {
        (r["event_type"], r["approx_users"])
        for r in hll_range_estimate(
            hll_user_sketches(ev, 365 * 86400)
        ).collect()
    }
    assert fine == coarse


def test_edit_distance_pairs_block_cap_drops_hot_block(spark):
    rows = [(i, f"name{i} widget") for i in range(50)] + [
        (100, "aa gizmo"),
        (101, "ab gizmo"),
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    capped = edit_distance_pairs(df, "id", "name", max_dist=2, max_block=10)
    got = {(r["id1"], r["id2"]) for r in capped.collect()}
    # the 50-member widget block is dropped entirely; the gizmo pair stays
    assert got == {(100, 101)}
    uncapped = edit_distance_pairs(df, "id", "name", max_dist=2)
    assert len(uncapped.collect()) > 1


def test_theta_setops_are_consistent(spark, sf_small):
    """Difference + intersection must reconstruct each side's total and
    the union must match inclusion-exclusion (exactly, at this scale —
    theta sketches are exact below their sampling threshold)."""
    from puma_matcher_spark.streaming.events import theta_user_setops
    from puma_matcher_spark.sources.testdata import load_tables

    ev = load_tables(spark, sf_small).events()
    r = theta_user_setops(ev).collect()[0]
    a_total = ev.where(F.col("event_type") == "click").agg(
        F.countDistinct("user_id")
    ).collect()[0][0]
    b_total = ev.where(F.col("event_type") == "purchase").agg(
        F.countDistinct("user_id")
    ).collect()[0][0]
    assert r["a_not_b"] + r["a_and_b"] == a_total
    assert r["a_or_b"] == a_total + b_total - r["a_and_b"]


def test_kll_quantiles_ordered(spark, sf_small):
    from puma_matcher_spark.streaming.events import kll_value_quantiles
    from puma_matcher_spark.sources.testdata import load_tables

    ev = load_tables(spark, sf_small).events()
    for r in kll_value_quantiles(ev).collect():
        assert r["p50_est"] <= r["p95_est"]


def test_label_propagation_finds_planted_communities(spark):
    from puma_matcher_spark.operators.graph import label_propagation

    # two 4-cliques joined by one bridge edge — LPA must label each
    # clique uniformly with its min member
    def clique(prefix, n=4):
        nodes = [f"{prefix}{i}" for i in range(n)]
        return [(a, b) for a in nodes for b in nodes if a != b]

    edges = clique("a") + clique("b") + [("a0", "b0"), ("b0", "a0")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["label"] for r in label_propagation(df, n_iter=5).collect()}
    assert {got[f"a{i}"] for i in range(4)} == {"a0"}
    assert {got[f"b{i}"] for i in range(1, 4)} == {got["b1"]}
    assert got["b1"] in ("a0", "b0")


def test_composed_light_rounds_match_per_round_barrier(spark):
    """r11: single-consumer loops (sink-free pagerank, LPA) let light
    cadence rounds COMPOSE instead of checkpointing (every lazy
    localCheckpoint executes the round's stages as its own job).  The
    composed window must produce bitwise-identical results to the
    forced per-round barrier, and multi-consumer loops (k-core) must
    stay on the per-round path."""
    import puma_matcher_spark.operators.graph as g

    rng = random.Random(11)
    edges = [(i, (i + 1) % 40) for i in range(40)] + [
        (rng.randrange(40), rng.randrange(40)) for _ in range(60)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(sorted(set(edges)), "src LONG, dst LONG")
    sym = df.union(
        df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist()

    orig_init = g._CadencedBarrier.__init__

    def no_compose(self, n_rounds, cadence=g.BARRIER_CADENCE, compose=False):
        orig_init(self, n_rounds, cadence, False)

    try:
        composed_pr = {
            r["node"]: r["rank"] for r in pagerank(sym, n_iter=6).collect()
        }
        composed_lpa = {
            r["node"]: r["label"]
            for r in g.label_propagation(sym, n_iter=6).collect()
        }
        g._CadencedBarrier.__init__ = no_compose
        barrier_pr = {
            r["node"]: r["rank"] for r in pagerank(sym, n_iter=6).collect()
        }
        barrier_lpa = {
            r["node"]: r["label"]
            for r in g.label_propagation(sym, n_iter=6).collect()
        }
    finally:
        g._CadencedBarrier.__init__ = orig_init
        sym.unpersist()

    assert composed_pr == barrier_pr  # bitwise: same per-round plans
    assert composed_lpa == barrier_lpa
    # k-core's survivor frame is consumed twice per round (degree +
    # semi-joins) — composing would re-execute per reference
    assert not g._CadencedBarrier(4).compose


def test_k_core_peels_planted_structure(spark):
    from puma_matcher_spark.operators.graph import k_core

    # a 4-clique (3-core) with a pendant path hanging off one corner —
    # peeling at k=3 must keep exactly the clique
    clique = [(f"c{a}", f"c{b}") for a in range(4) for b in range(4) if a != b]
    tail = [("c0", "t1"), ("t1", "c0"), ("t1", "t2"), ("t2", "t1")]
    df = spark.createDataFrame(clique + tail, "src string, dst string")
    got = {r["node"]: r["degree"] for r in k_core(df, k=3, n_rounds=3).collect()}
    assert set(got) == {"c0", "c1", "c2", "c3"}
    assert all(d == 3 for d in got.values())


def test_zvalue_n_matches_reference_interleave(spark):
    from puma_matcher_spark.sources.maintenance import zvalue_n

    def py_zn(vals, bits):
        n = len(vals)
        z = 0
        for i in range(bits):
            for j, v in enumerate(vals):
                z |= ((v >> i) & 1) << (i * n + (n - 1 - j))
        return z

    rows = [(1, 2, 3), (1023, 0, 512), (7, 7, 7), (0, 0, 0), (513, 257, 129)]
    df = spark.createDataFrame(rows, "a long, b long, c long").select(
        "a", "b", "c", zvalue_n(["a", "b", "c"], bits=10).alias("z")
    )
    for r in df.collect():
        assert r["z"] == py_zn([r["a"], r["b"], r["c"]], 10)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        zvalue_n(["a"] * 8, bits=10)  # 80 bits > long


def test_k_core_raises_when_peel_cascade_outruns_rounds(spark):
    """Round 9 (same contract as connected_components): a fixed-round
    peel that has NOT converged must fail loudly — both engines agreeing
    on a truncated peel is exactly the failure parity cannot catch.  A
    10-chain's 2-core is empty but peels only 2 endpoints per round."""
    import pytest
    from pyspark.sql import functions as F

    from puma_matcher_spark.operators.graph import k_core

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src LONG, dst LONG"
    )
    sym = chain.unionByName(
        chain.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    with pytest.raises(RuntimeError, match="not converged"):
        k_core(sym, k=2, n_rounds=4).collect()
    # enough rounds: converges to the (empty) exact 2-core
    assert k_core(sym, k=2, n_rounds=5).count() == 0
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src LONG, dst LONG"
    )
    tri_sym = tri.unionByName(
        tri.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    assert k_core(tri_sym, k=2, n_rounds=2).count() == 3


@pytest.mark.slow
def test_iterative_loops_flat_per_round_at_depth_30(spark):
    """r9 verdict #3: the Catalyst size-estimate blowup (BigInteger
    stats arithmetic compounding ~3x per round, exponential driver CPU
    from ~round 16) was fixed in the CC loop; pagerank / LPA / k-core
    now share the same stats-reset barrier (_round_barrier).  Drive all
    three 30 rounds deep and assert wall-clock stays flat — under the
    old bare-localCheckpoint loops round 30 took ORDERS of magnitude
    longer than round 1, so a loose 5x tail/head bound is noise-proof
    while still catching any regression.

    Since the r11 barrier CADENCE only every 4th round materializes
    (light rounds measure ~0: plan construction only), so flatness is
    asserted over the FULL-barrier rounds' times, each normalized by
    the number of rounds its job executed — a full barrier that
    re-computed its whole window per downstream reference (the exact
    re-nesting failure this test pins) inflates the late windows
    relative to the early ones."""
    from puma_matcher_spark.operators.graph import (
        k_core,
        label_propagation,
        normalized_barrier_times,
        pagerank,
    )

    rng = random.Random(30)
    edges = [(i, (i + 1) % 120) for i in range(120)] + [
        (rng.randrange(120), rng.randrange(120)) for _ in range(200)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    sym = df.union(df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()

    def head_tail_ratio(times):
        fulls = normalized_barrier_times(times)
        assert len(fulls) >= 4, fulls
        head = sum(fulls[:2]) / 2
        tail = sum(fulls[-2:]) / 2
        return tail / max(head, 1e-9)

    pr_times: list = []
    pagerank(df, n_iter=30, round_times=pr_times)
    assert len(pr_times) == 30
    assert head_tail_ratio(pr_times) < 5, pr_times

    lpa_times: list = []
    label_propagation(sym, n_iter=30, round_times=lpa_times)
    assert len(lpa_times) == 30
    assert head_tail_ratio(lpa_times) < 5, lpa_times

    kc_times: list = []
    k_core(sym, k=2, n_rounds=30, round_times=kc_times)
    assert len(kc_times) == 30
    assert head_tail_ratio(kc_times) < 5, kc_times


def test_iterative_loops_leave_no_cache_entries(spark, monkeypatch):
    """r10: every iterative loop persists per-round frames for the
    stats-reset barrier and helper frames for reuse — ALL of them must
    be unpersisted on exit (the final frame stays checkpoint-backed),
    oreach call leaks O(nodes) CacheManager entries for the session's
    lifetime.  Pin it through the JVM cache manager."""
    from puma_matcher_spark.operators import graph
    from puma_matcher_spark.operators.dedup import connected_components
    from puma_matcher_spark.operators.graph import (
        k_core,
        label_propagation,
        pagerank,
    )

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    df = spark.createDataFrame(
        [(i, (i + 1) % 40) for i in range(40)] + [(i, (i + 7) % 40) for i in range(40)],
        "src LONG, dst LONG",
    )
    sym = df.union(
        df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    pagerank(df, n_iter=3).count()
    label_propagation(sym, n_iter=2).count()
    k_core(sym, k=2, n_rounds=2).count()
    edges = df.select(F.col("src").alias("id1"), F.col("dst").alias("id2"))
    connected_components(edges).count()  # driver path, under the gate
    with monkeypatch.context() as m:
        m.setattr(graph, "BROADCAST_NODES_MAX", 0)  # force the loop
        connected_components(edges).count()
    assert cm.isEmpty(), "an iterative loop leaked a CacheManager entry"


def test_normalized_barrier_times_windows():
    """Pure-function pin for the cadence bookkeeping: windows are
    CADENCE long, the tail window is the remainder, and each entry is
    the materializing round's time divided by its window length."""
    from puma_matcher_spark.operators.graph import normalized_barrier_times

    # 10 rounds at cadence 4 -> windows of 4, 4, 2; the PARTIAL tail
    # window is dropped (its per-round share over-weights the fixed
    # per-window job overhead -- measured 1.7x hot on a 2-round tail)
    times = [0.0] * 3 + [8.0] + [0.0] * 3 + [4.0] + [0.0] + [3.0]
    assert normalized_barrier_times(times, cadence=4) == [2.0, 1.0]
    # shorter than one cadence -> the single (partial) window is kept
    assert normalized_barrier_times([6.0, 0.0, 3.0], cadence=4) == [1.0]
    assert normalized_barrier_times([5.0], cadence=4) == [5.0]
    # exact multiple: no remainder window, nothing dropped
    assert normalized_barrier_times([0, 0, 0, 4.0], cadence=4) == [1.0]
    assert normalized_barrier_times(
        [0, 0, 0, 8.0, 0, 0, 0, 4.0], cadence=4
    ) == [2.0, 1.0]


def test_loop_shuffle_partition_count_scales_with_edges(spark, monkeypatch):
    """r12: the iterative loops derive their shuffle-partition count
    from the measured edge count — small graphs get a few real-core
    partitions (not a 32-way tiny-task storm), huge graphs get the
    ~128 MB/partition floor regardless of core count, and the env
    override wins when set."""
    from puma_matcher_spark.operators.graph import (
        _EDGE_ROW_BYTES,
        _LOOP_SCALE_TARGET,
        loop_shuffle_partition_count,
    )

    monkeypatch.delenv("PUMA_SPARK_LOOP_SHUFFLE_PARTITIONS", raising=False)
    cores = spark.sparkContext.defaultParallelism
    assert loop_shuffle_partition_count(spark, 0) == 1
    assert loop_shuffle_partition_count(spark, 1_000) == 1
    # sf0.1 purchase graph scale: more than 1, no more than the cores
    mid = loop_shuffle_partition_count(spark, 1_173_742)
    assert 1 < mid <= cores
    # cluster scale: the 128 MB floor dominates the core count
    huge_rows = 10**12
    want_floor = -(-huge_rows * _EDGE_ROW_BYTES // _LOOP_SCALE_TARGET)
    assert loop_shuffle_partition_count(spark, huge_rows) == want_floor
    assert want_floor > cores
    # monotone in the row count
    counts = [
        loop_shuffle_partition_count(spark, n)
        for n in (10**3, 10**5, 10**6, 10**8, 10**10)
    ]
    assert counts == sorted(counts)
    # env override: >0 forces the count
    monkeypatch.setenv("PUMA_SPARK_LOOP_SHUFFLE_PARTITIONS", "5")
    assert loop_shuffle_partition_count(spark, 10**10) == 5
