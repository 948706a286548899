"""The local correctness gate: every registered query with an oracle must
match DuckDB exactly at sf0.001 (the driver runs the same comparison at
sf0.01 — see __spark_entry__.py)."""

import pytest

from puma_matcher_spark.oracle import run_all
from puma_matcher_spark.queries import REGISTRY


@pytest.mark.slow
def test_all_queries_match_oracle(spark, sf_small):
    results = run_all(spark, sf_small)
    failed = [str(r) for r in results if not r.ok]
    assert not failed, "\n".join(failed)
    assert len(results) == len(
        [s for s in REGISTRY.values() if s.oracle is not None]
    )


#: every query whose result goes through connected components
CC_QUERIES = [
    "dedup_components_cc",
    "dedup_person_chain",
    "near_dup_clusters",
    "near_dup_best_rep",
    "cluster_representatives",
    "embedding_dup_clusters",
    "semantic_dedup",
]

#: the purchase-graph queries over the PageRank, label-propagation and
#: k-core loops
GRAPH_LOOP_QUERIES = [
    "pagerank_top",
    "pagerank_mass",
    "purchase_communities",
    "purchase_kcore",
]


#: the matcher → scorer chain (operators.scorer.scored_entity_candidates)
#: and the registry queries downstream of it; the last three are the
#: property twins of normalised_scores_approx, pic_clusters and
#: weight_refined, which have no row-level oracle
MATCHER_QUERIES = [
    "entity_pairs",
    "entity_scores",
    "match_candidates",
    "multi_type_filter",
    "match_stats",
    "total_score",
    "normalised_scores",
    "weight_eval",
    "normalised_approx_bounds",
    "pic_cluster_quality",
    "weight_refined_convergence",
]

#: the near-dup (SimHash, MinHash-LSH), incremental exact-dedup and
#: lexical-retrieval kernels
NEAR_DUP_QUERIES = [
    "simhash",
    "simhash128",
    "simhash_near_dups",
    "hamming_pairs",
    "picture_lsh_pairs",
    "minhash_pairs",
    "incremental_ingest",
    "incremental_near_dups",
    "doc_keywords",
    "bm25_search",
]


def test_matcher_and_graph_queries_match_oracle(spark, sf_small, monkeypatch):
    """Fast-lane parity for the matcher chain, the near-dup and
    retrieval kernels and the iterative graph loops: the candidate
    builder's consumers, the SimHash / MinHash / BM25 queries, every
    connected-components consumer on the default (driver) path, two
    with the CC loop forced, and the PageRank / LPA / k-core queries."""
    from puma_matcher_spark.operators import graph
    from puma_matcher_spark.sources.testdata import reset_table_cache

    names = MATCHER_QUERIES + NEAR_DUP_QUERIES + CC_QUERIES + GRAPH_LOOP_QUERIES
    try:
        results = run_all(spark, sf_small, names=names)
        assert sorted(r.name for r in results) == sorted(names)
        monkeypatch.setattr(graph, "BROADCAST_NODES_MAX", 0)  # force the loop
        results += run_all(
            spark, sf_small, names=["dedup_components_cc", "near_dup_clusters"]
        )
    finally:
        # the queries leave cached frames behind, and a cached sub-plan
        # changes the physical plans the plan-shape tests count
        reset_table_cache()
        spark.catalog.clearCache()
    failed = [str(r) for r in results if not r.ok]
    assert not failed, "\n".join(failed)


#: ceiling on the Spark jobs of a graph-loop query at sf0.001 in the test
#: session, on its second run (the memoized purchase edge list built).
#: Measured on 4 cores; with the loops' scoped shuffle width and the edge
#: counts that sized it they ran 42 / 43 / 22 / 21.
GRAPH_QUERY_MAX_JOBS = {
    "pagerank_top": 41,
    "pagerank_mass": 42,
    "purchase_communities": 20,
    "purchase_kcore": 21,
}


@pytest.mark.parametrize("name", GRAPH_LOOP_QUERIES)
def test_graph_loop_query_job_count(spark, sf_small, name):
    """A graph-loop query runs at most its pinned number of Spark jobs
    once its memoized edge list is built: a re-added sizing count or
    eager probe shows up here."""
    from puma_matcher_spark.functions import caching
    from puma_matcher_spark.sources.testdata import reset_table_cache

    def reset():
        caching.drain()
        reset_table_cache()
        spark.catalog.clearCache()

    sc = spark.sparkContext
    group = f"test-graph-loop-{name}"
    reset()
    try:
        REGISTRY[name].spark_fn(spark, sf_small).collect()
        sc.setJobGroup(group, name)
        REGISTRY[name].spark_fn(spark, sf_small).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        reset()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= GRAPH_QUERY_MAX_JOBS[name], (
        f"{name} ran {n_jobs} Spark jobs, above {GRAPH_QUERY_MAX_JOBS[name]}"
    )


def test_run_all_rejects_names_it_cannot_compare(spark, sf_small):
    """A requested name that has no oracle twin (``weight_refined``) or
    is not registered fails loudly before any query runs, instead of
    being dropped from the results."""
    with pytest.raises(ValueError, match="weight_refined") as err:
        run_all(spark, sf_small, names=["simhash", "weight_refined", "nope"])
    assert "nope" in str(err.value) and "'simhash'" not in str(err.value)


@pytest.mark.slow
def test_rows_only_queries_execute(spark, sf_small):
    """Queries without oracles still must run and return a stable row
    count twice (determinism smoke)."""
    for name, spec in REGISTRY.items():
        if spec.oracle is not None:
            continue
        n1 = spec.spark_fn(spark, sf_small).count()
        n2 = spec.spark_fn(spark, sf_small).count()
        assert n1 == n2, name
        assert n1 >= 0


def test_driver_window_budget():
    """The external driver's CORRECTNESS gate covers only the first 50
    entries of queries().  Every _PRIORITY name must exist, the list
    must fit inside the window (an overflow silently costs the last
    entries their driver row), and presentation order must start with
    exactly the priority list."""
    from puma_matcher_spark.queries import _PRIORITY, queries

    q = list(queries())
    missing = [n for n in _PRIORITY if n not in q]
    assert not missing, f"_PRIORITY names not registered: {missing}"
    assert len(_PRIORITY) <= 50, (
        f"_PRIORITY has {len(_PRIORITY)} entries — the driver checks only "
        "the first 50 queries; trim already-green names"
    )
    assert q[: len(_PRIORITY)] == _PRIORITY
    assert len(set(_PRIORITY)) == len(_PRIORITY)


def test_retired_names_stay_testable():
    """Queries retired from the exported surface must (a) not appear in
    queries()/oracle_sql(), (b) stay registered so the CLI and the
    pytest sweeps still execute them (the oracle-backed retirees keep
    their full DuckDB parity check in test_oracle_parity — only their
    driver-window slot is released), and (c) each keep an exported
    sibling/twin carrying their hard signal.  pagerank_top left this set
    in r10 when its unrolled-SQL oracle made it a full value-checked
    export."""
    from puma_matcher_spark.queries import (
        _PYTEST_ONLY,
        REGISTRY,
        oracle_sql,
        queries,
    )

    q = queries()
    twins = {
        # rows-only originals → oracle-backed property twins
        "pic_clusters": "pic_cluster_quality",
        "weight_refined": "weight_refined_convergence",
        "embedding_ivf_topk": "ivf_recall",
        "media_features": "media_features_shape",
        "normalised_scores_approx": "normalised_approx_bounds",
        # r10 capacity retirements → stronger exported siblings
        "embedding_near_dups": "embedding_lsh_tables",
        "dedup_components_exact": "dedup_components_cc",
    }
    assert set(twins) == set(_PYTEST_ONLY)
    osql = oracle_sql()
    for retired, twin in twins.items():
        assert retired in REGISTRY
        assert retired not in q
        assert twin in q and twin in osql, twin
    # the r10 promotions keep their full oracles and window slots
    for promoted in ("pagerank_top", "fs_em_params"):
        assert promoted in q and promoted in osql, promoted


@pytest.mark.gate
@pytest.mark.slow
def test_driver_gate_preflight(spark):
    """The SAME comparison the external driver runs: first 50 entries of
    the ordered registry against their DuckDB oracles at sf0.01.  Run
    this (``pytest -m gate``) before every round snapshot — a rotation
    mistake here burns a whole round's CORRECTNESS signal."""
    from puma_matcher_spark.oracle import compare_query, duck_connection
    from puma_matcher_spark.queries import _PRIORITY, _ordered

    ordered = list(_ordered().items())[:50]
    k = min(50, len(_PRIORITY))
    assert [n for n, _ in ordered[:k]] == _PRIORITY[:k]
    con = duck_connection(SF_ORACLE := "/root/testdata/sf0.01")
    failures = []
    for name, spec in ordered:
        if spec.oracle is None:
            try:
                assert spec.spark_fn(spark, SF_ORACLE).count() >= 0
            except Exception as e:  # noqa: BLE001
                failures.append(f"{name}: EXC {type(e).__name__}: {e}")
            continue
        try:
            res = compare_query(
                spark, con, name, spec.spark_fn, spec.oracle, SF_ORACLE
            )
            if not res.ok:
                failures.append(str(res))
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: EXC {type(e).__name__}: {e}")
    assert not failures, "\n".join(failures)


def test_entry_smoke(spark):
    import importlib
    import sys

    sys.path.insert(0, "/root/repo")
    entry_mod = importlib.import_module("__spark_entry__")
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) >= {
        "id",
        "document_version1_id",
        "document_version2_id",
        "score",
        "score_type",
    }
    names = set(entry_mod.queries())
    assert set(entry_mod.oracle_sql()) <= names


def test_window_freshness_policy():
    """Round-6 policy (VERDICT r5 #2/#8): every exported query must earn
    a hard driver row at least every MAX_ROW_AGE rounds (window capacity
    arithmetic: 50 slots x 4 rounds >= exported count) and net-new
    exports per round stay inside the budget.  The audit projects ages
    through the CURRENT _PRIORITY window, so this fails at build time —
    before the driver window runs with a stale registry."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
    )
    from driver_gate_check import freshness_audit

    assert freshness_audit(verbose=False) == []


def test_no_two_registry_names_share_a_function():
    """Round-6 regression guard: inserting a @register block between
    another query's decorator and its def silently stacks both names
    onto ONE function (the gate then compares the wrong result against
    the orphaned oracle — live-reproduced with ngram_containment /
    manifest_roundtrip).  Every registered name must own a distinct
    callable."""
    from collections import Counter

    from puma_matcher_spark.queries import REGISTRY

    owners = Counter(id(s.spark_fn) for s in REGISTRY.values())
    dupes = [
        n for n, s in REGISTRY.items() if owners[id(s.spark_fn)] > 1
    ]
    assert not dupes, f"registry names sharing one function: {dupes}"
