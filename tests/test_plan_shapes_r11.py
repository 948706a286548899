"""Physical-plan invariants for the round-11 single-derivation fixes.

Round 11's duplicate-scan audit found several operators whose plan
re-derived an expensive intermediate once per consumer (the planner
broadcasts one side of a self-join, and a BroadcastExchange can never
reuse the other side's shuffle exchange, so the WHOLE upstream chain ran
per side).  The fixes persist the shared intermediate; these tests pin
the resulting plan shape — an InMemoryTableScan carrying the chain, and
a bounded count of parquet scans / explode generates in the printed
plan — so a refactor that silently re-inlines the chain fails CI, not
the 100 TB run.  Thresholds are the measured post-fix counts at
sf0.001; the pre-fix plans sat well above every one of them
(plans/r11/*_before.txt).
"""

from __future__ import annotations

import math

from puma_matcher_spark.plans import inspect as pi
from puma_matcher_spark.sources.testdata import load_tables


def test_pmi_bigrams_scalar_fold_exact_values(spark):
    """r11 rewrote the n_uni / n_bi scalar subqueries from standalone
    explode-and-count passes to aggregates over the persisted frames
    (n_uni = Σ unigram counts, n_bi = Σ max(len-1, 0)).  Pin the exact
    PMI on a fixture with empty / single-token / whitespace docs so the
    fold's edge cases stay value-identical to the explode formulation:
    13 tokens ('solo' + 6x'neutron flux'), 11 adjacent pairs."""
    from puma_matcher_spark.llmdata.textstats import pmi_bigrams

    docs = spark.createDataFrame(
        [(1, ""), (2, "solo"), (3, "  "), (4, "neutron flux " * 6)],
        ["doc_id", "text"],
    )
    out = {(r["w1"], r["w2"]): r for r in pmi_bigrams(docs, min_count=2).collect()}
    nf = out[("neutron", "flux")]
    assert nf["n_pair"] == 6
    # pmi = ln((6/11) / ((6/13) * (6/13)))
    assert abs(nf["pmi"] - round(math.log((6 / 11) / ((6 / 13) ** 2)), 4)) < 1e-9
    fn = out[("flux", "neutron")]
    assert fn["n_pair"] == 5
    assert abs(fn["pmi"] - round(math.log((5 / 11) / ((6 / 13) ** 2)), 4)) < 1e-9


def test_pmi_bigrams_single_tokenize_plan(spark, sf_small):
    from puma_matcher_spark.llmdata.textstats import pmi_bigrams

    docs = load_tables(spark, sf_small).llm_documents()
    plan = pi.formatted_plan(pmi_bigrams(docs, min_count=5, k=50))
    assert "InMemoryTableScan" in plan
    # pre-fix: 12 parquet scans / 12 generates printed (6 tokenize passes)
    assert plan.count("Scan parquet") <= 7
    assert plan.count("Generate") <= 7


def test_bm25_search_single_tokenize_plan(spark, sf_small):
    from puma_matcher_spark.llmdata.retrieval import bm25_scores

    docs = load_tables(spark, sf_small).llm_documents()
    plan = pi.formatted_plan(bm25_scores(docs, ["dup", "window", "scan"]))
    assert "InMemoryTableScan" in plan
    # pre-fix: 10 parquet scans / 8 generates (4 tokenize passes over 5 scans)
    assert plan.count("Scan parquet") <= 7
    assert plan.count("Generate") <= 5


def test_ngram_jaccard_single_shingle_window_plan(spark, sf_small):
    from puma_matcher_spark.llmdata.dedup import ngram_jaccard_pairs

    docs = load_tables(spark, sf_small).llm_documents()
    plan = pi.formatted_plan(ngram_jaccard_pairs(docs))
    assert "InMemoryTableScan" in plan
    # pre-fix: 8 parquet scans / 8 generates (sizes + the df window once
    # per self-join side)
    assert plan.count("Scan parquet") <= 5
    assert plan.count("Generate") <= 5


def test_minhash_pairs_persisted_buckets_plan(spark, sf_small):
    from puma_matcher_spark.llmdata import dedup as dd

    docs = load_tables(spark, sf_small).llm_documents()
    plan = pi.formatted_plan(dd.minhash_dedup_pairs(docs))
    assert "InMemoryTableScan" in plan
    # pre-fix: 4 parquet scans / 8 generates (full chain once per side)
    assert plan.count("Scan parquet") <= 3
    assert plan.count("Generate") <= 6


def test_lsh_candidate_pairs_persist_opt_out(spark):
    """The curation pipeline's band_keys lineage goes through a fresh
    localCheckpoint each run, so persisting it can never hit the cache
    again — persist_buckets=False must leave the plan cache-free."""
    from puma_matcher_spark.llmdata import dedup as dd

    bk = spark.createDataFrame(
        [(1, 0, "k1"), (2, 0, "k1"), (3, 1, "k2")],
        ["doc_id", "band", "band_key"],
    )
    plan = pi.formatted_plan(dd.lsh_candidate_pairs(bk, persist_buckets=False))
    assert "InMemoryTableScan" not in plan
    rows = {
        (r["doc1_id"], r["doc2_id"])
        for r in dd.lsh_candidate_pairs(bk, persist_buckets=False).collect()
    }
    assert rows == {(1, 2)}


def test_persist_rotating_dedupes_identical_plans(spark):
    """Identical-plan calls must share ONE ring slot: CacheManager
    dedupes persist by canonicalized plan, so enrolling every call
    separately let ring rollover unpersist the entry an identical
    in-flight plan was still reading (r11: a repeated picture_lsh_pairs
    loop recomputed its whole chain on the rollover run)."""
    from puma_matcher_spark.functions import caching

    a = caching.persist_rotating(spark.range(100).selectExpr("id", "id * 2 AS v"))
    a.count()
    b = caching.persist_rotating(spark.range(100).selectExpr("id", "id * 2 AS v"))
    try:
        with caching._LOCK:
            assert sum(1 for df in caching._RING if df is b) == 0
            assert sum(1 for df in caching._RING if df is a) == 1
        # the shared entry stays readable through extra identical calls
        assert b.count() == 100
    finally:
        a.unpersist(blocking=False)


def test_persist_rotating_plan_match_refreshes_fifo_position(spark):
    """r12 (r11 advice): a plan-match must move the OWNING entry to the
    ring tail — without the refresh, a hot identical-plan frame was
    still evicted once _CAPACITY other persists interleaved, silently
    reintroducing the recompute the single-slot dedup fixed."""
    from puma_matcher_spark.functions import caching

    hot = caching.persist_rotating(
        spark.range(64).selectExpr("id", "id + 7 AS w")
    )
    hot.count()
    fillers = [
        caching.persist_rotating(
            spark.range(64 + i).selectExpr("id", f"id * {i + 2} AS w")
        )
        for i in range(caching._CAPACITY - 1)
    ]
    try:
        # ring is now exactly at capacity with `hot` the OLDEST entry;
        # an identical-plan call must refresh it to the tail...
        caching.persist_rotating(spark.range(64).selectExpr("id", "id + 7 AS w"))
        with caching._LOCK:
            assert caching._RING[-1] is hot
        # ...so the NEXT enrollment evicts the stalest filler, not hot
        extra = caching.persist_rotating(
            spark.range(999).selectExpr("id", "id * 99 AS w")
        )
        fillers.append(extra)
        with caching._LOCK:
            assert any(df is hot for df in caching._RING)
        lvl = hot.storageLevel
        assert lvl.useMemory or lvl.useDisk
    finally:
        hot.unpersist(blocking=False)
        for f in fillers:
            f.unpersist(blocking=False)


def test_semantic_contamination_single_shingle_pass_plan(spark, sf_small):
    from puma_matcher_spark.llmdata import similarity as sim

    docs = load_tables(spark, sf_small).llm_documents()
    corpus = docs.where("doc_id % 17 != 3")
    benchmark = docs.where("doc_id % 17 = 3").limit(40)
    plan = pi.formatted_plan(sim.semantic_contamination(corpus, benchmark))
    assert "InMemoryTableScan" in plan
    # pre-fix: 8 parquet scans / 8 generates (each side's shingle chain
    # computed for the df aggregate AND the candidate join)
    assert plan.count("Scan parquet") <= 6
    assert plan.count("Generate") <= 6
