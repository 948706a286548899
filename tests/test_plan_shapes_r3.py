"""Physical-plan invariants for the round-3 operators — the CI guards
that keep their scale shapes from regressing (same pattern as
test_scale_helpers: assert on the formatted plan, not on timings)."""

from __future__ import annotations

from pyspark.sql import functions as F

from puma_matcher_spark.plans import inspect as pi
from puma_matcher_spark.sources.testdata import load_tables


def test_dq_profile_is_single_scan(spark, sf_small):
    """The whole column profile must come from ONE pass over the table —
    a per-column-scan formulation would multiply IO by the column count
    at 100 TB."""
    from puma_matcher_spark.operators.quality import profile_columns

    orders = load_tables(spark, sf_small).raw("orders")
    df = profile_columns(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    )
    assert len(pi.scan_read_schemas(df)) == 1


def test_dq_expectations_scan_budget(spark, sf_small):
    """One conditional aggregate per table plus one anti-join: at most
    two scans of orders (rules + FK build side) and two of lineitem
    (count + FK probe side)."""
    from puma_matcher_spark.operators.quality import expectation_report

    t = load_tables(spark, sf_small)
    df = expectation_report(t.raw("orders"), t.raw("lineitem"))
    scans = pi.scan_read_schemas(df)
    assert len(scans) <= 4
    assert not pi.has_cartesian(df)


def test_cdc_operators_single_key_shuffle(spark, sf_small):
    """Latest-state and SCD2 both hash-partition once on the key; the
    stacked windows in scd2_history share that one exchange (Spark
    reuses the sort order).  num_shuffles counts each Exchange node
    once in the tree and once in the detail section, hence budget 2."""
    from puma_matcher_spark.operators.cdc import cdc_latest_state, scd2_history

    ev = load_tables(spark, sf_small).events()
    assert pi.num_shuffles(cdc_latest_state(ev)) <= 2
    assert pi.num_shuffles(scd2_history(ev)) <= 2


def test_winsorize_never_sorts_the_fact_table(spark, sf_small):
    """The percentile pair folds in as one scalar-subquery aggregate;
    the clip itself is map-side — no Sort and no Exchange in the main
    plan (the subquery aggregates internally, but the output side of
    the plan must stay scan → project)."""
    from puma_matcher_spark.queries import REGISTRY

    df = REGISTRY["winsorized_prices"].spark_fn(spark, sf_small)
    plan = pi.formatted_plan(df)
    main = plan.split("Subquery")[0]  # main plan section only
    assert "Sort" not in main
    assert "Exchange" not in main


def test_incremental_near_dups_never_self_joins_corpus(spark, sf_small):
    """The batch×corpus join's left side must be the (small) batch band
    keys: the corpus side appears exactly once in the plan — a
    corpus×corpus self-join would show the corpus scan twice on the
    join's input."""
    from puma_matcher_spark.llmdata import dedup as dd

    docs = load_tables(spark, sf_small).llm_documents()
    batch = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    df = dd.minhash_incremental_pairs(batch, corpus)
    assert not pi.has_cartesian(df)
    # both sides scan the same parquet file, but each exactly once
    assert len(pi.scan_read_schemas(df)) == 2


def test_phrase_lookup_is_mapside_gram_count(spark, sf_small):
    """r11: contiguous grams are matched IN-ROW over the token array —
    no token-row explode (Generate) and no per-doc window sort; the only
    shuffle aggregates small (doc_id, count) rows."""
    from puma_matcher_spark.llmdata.retrieval import phrase_lookup

    docs = load_tables(spark, sf_small).llm_documents()
    df = phrase_lookup(docs, "order fast")
    plan = pi.formatted_plan(df)
    assert not pi.has_cartesian(df)
    assert "Generate" not in plan  # no token-row explode
    assert "Window" not in plan  # no per-doc sort/window
    assert pi.num_shuffles(df) <= 2  # final agg only (AQE may double-print)


def test_edit_pairs_is_equi_join(spark, sf_small):
    """The blocked edit-distance join must plan as a hash/merge equi-join
    on the blocking key — a cartesian means the blocking key fell out of
    the join condition and the pair space went fully quadratic."""
    from puma_matcher_spark.operators.dedup import edit_distance_pairs

    part = load_tables(spark, sf_small).raw("part")
    df = edit_distance_pairs(part, id_col="p_partkey", name_col="p_name")
    assert not pi.has_cartesian(df)


def test_zorder_values_stays_in_codegen(spark, sf_small):
    """The Morton interleave is pure bit arithmetic — it must compile
    into a whole-stage-codegen projection over a single scan with no
    shuffle and no python runner."""
    from puma_matcher_spark.sources.maintenance import zvalue

    li = load_tables(spark, sf_small).raw("lineitem")
    df = li.select(zvalue("l_partkey", "l_suppkey").alias("z"))
    assert pi.num_shuffles(df) == 0
    plan = pi.formatted_plan(df)
    assert "codegen id" in plan
    assert "Python" not in plan


def test_tpch_shapes_semi_anti_joins(spark, sf_small):
    """Q4 must keep the EXISTS as a left-semi join (dedup inside the
    join), Q16 the NOT IN as an anti variant, and neither may cartesian."""
    from puma_matcher_spark.queries import REGISTRY

    q4 = REGISTRY["order_priority_late"].spark_fn(spark, sf_small)
    assert pi.count_occurrences(q4, "LeftSemi") >= 1
    assert not pi.has_cartesian(q4)
    q16 = REGISTRY["brand_supplier_counts"].spark_fn(spark, sf_small)
    assert pi.count_occurrences(q16, "LeftAnti") >= 1
    assert not pi.has_cartesian(q16)


def test_trend_stats_single_aggregate(spark, sf_small):
    """The whole per-type regression summary is algebraic — one scan,
    one hash shuffle of constant-size state."""
    from puma_matcher_spark.streaming.events import trend_stats

    ev = load_tables(spark, sf_small).events()
    df = trend_stats(ev)
    assert len(pi.scan_read_schemas(df)) == 1
    assert pi.num_shuffles(df) <= 2  # one exchange (tree + detail section)


def _jobs_run_during(spark, build):
    """Number of Spark jobs launched while ``build()`` constructs (but
    does not execute) a DataFrame.  Warm the path first so one-time
    file-index listing jobs don't count against the budget."""
    build()
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = build()
    after = len(tracker.getJobIdsForGroup(None) or [])
    return after - before, df


def test_entity_pairs_builds_without_eager_scan(spark, sf_small):
    """The P9 relative-cap doc count must be a scalar subquery inside
    the one real job (round-4 conversion) — the reference's eager
    plan-build-time ``.count()`` (EntitiesMatcherV2.scala:44-52) would
    double the IO per invocation at 100 TB."""
    from puma_matcher_spark.queries import REGISTRY

    n_jobs, df = _jobs_run_during(
        spark, lambda: REGISTRY["entity_pairs"].spark_fn(spark, sf_small)
    )
    assert n_jobs == 0, f"plan build launched {n_jobs} eager job(s)"
    assert "Subquery" in pi.formatted_plan(df)


def test_word_spec_builds_without_eager_scan(spark, sf_small):
    """word_spec's n_c/n_r corpus counts must fold in as scalar
    subqueries, not two extra exploded-token scans at plan-build time
    (DocumentWordSpecAnalyser.scala:113-118)."""
    from puma_matcher_spark.queries import REGISTRY

    n_jobs, df = _jobs_run_during(
        spark, lambda: REGISTRY["word_spec"].spark_fn(spark, sf_small)
    )
    assert n_jobs == 0, f"plan build launched {n_jobs} eager job(s)"
    assert pi.formatted_plan(df).count("Subquery") >= 2


def test_tpch_r4_decorrelation_shapes(spark, sf_small):
    """Q2/Q11/Q15/Q20 round-4 shapes: decorrelated aggregates + scalar
    subqueries + semi-join chains, never a cartesian or correlated
    re-scan per row."""
    from puma_matcher_spark.queries import REGISTRY

    q2 = REGISTRY["supplier_min_cost"].spark_fn(spark, sf_small)
    assert not pi.has_cartesian(q2)
    assert pi.count_occurrences(q2, "LeftSemi") >= 1  # part-size filter

    q11 = REGISTRY["important_stock"].spark_fn(spark, sf_small)
    assert not pi.has_cartesian(q11)
    assert "Subquery" in pi.formatted_plan(q11)  # global total in-plan

    q15 = REGISTRY["top_revenue_supplier"].spark_fn(spark, sf_small)
    assert not pi.has_cartesian(q15)
    assert "Subquery" in pi.formatted_plan(q15)  # max-over-view in-plan

    q20 = REGISTRY["excess_stock_suppliers"].spark_fn(spark, sf_small)
    assert not pi.has_cartesian(q20)
    assert pi.count_occurrences(q20, "LeftSemi") >= 3  # part→shipped→nation chain


import pytest


@pytest.fixture(scope="module")
def exported_dfs(spark, sf_small):
    """Every exported query's DataFrame, built ONCE for all the
    registry-wide sweeps below.  Building a frame is not free for every
    query — the iterative ones (connected-components loops) run their
    convergence actions at build time, and manifest_roundtrip
    materialises its file fixture — so the three sweeps sharing one
    build pass keeps this file inside the shell-call timeout (it tripled
    past it in round 6 when each sweep rebuilt all ~175 frames)."""
    from puma_matcher_spark.queries import _ordered

    return {
        name: spec.spark_fn(spark, sf_small)
        for name, spec in _ordered().items()
    }


@pytest.mark.slow
def test_no_cartesian_outside_documented_baselines(exported_dfs):
    """Registry-wide guard: no exported query may plan a cartesian /
    broadcast-nested-loop join EXCEPT the documented brute-force
    embedding baselines (all-pairs IS their semantic; the scale paths
    are the LSH/IVF/prefix variants) and the nearest-centroid scans
    whose broadcast side is a constant k centroids.  Anything new that
    plans a cartesian fails here before it can reach a 100 TB run."""
    allowed = {
        "embedding_topk",          # brute-force cosine baseline (doc'd)
        "embedding_near_dups",     # brute-force near-dup baseline
        "embedding_int8_topk",     # int8 re-scoring over the same all-pairs base
        "embedding_prefix_rerank", # matryoshka prefix stage (bounded query side)
        "centroid_confusion",      # k-centroid broadcast side (constant k)
        "semantic_dedup",          # exact all-pairs edge stage (documented
                                   # baseline; LSH/IVF pairs= at scale)
    }
    offenders = []
    for name, df in exported_dfs.items():
        if pi.has_cartesian(df) and name not in allowed:
            offenders.append(name)
    assert not offenders, f"undocumented cartesian plans: {offenders}"


@pytest.mark.slow
def test_no_row_at_a_time_python_udfs_anywhere(exported_dfs):
    """Registry-wide guard: every Python kernel in every exported query
    must be Arrow-batched (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas).  A row-at-a-time ``@udf`` plans a
    BatchEvalPython node — the 10-100x-slower path the scale notes
    forbid — and fails here before it can ship."""
    offenders = []
    for name, df in exported_dfs.items():
        if "BatchEvalPython" in pi.formatted_plan(df):
            offenders.append(name)
    assert not offenders, f"row-at-a-time Python UDF plans: {offenders}"


@pytest.mark.slow
def test_exported_queries_have_flat_schemas(exported_dfs):
    """Registry-wide guard (round 5): the round driver canonicalises each
    result by ``DataFrame.sort_values`` over EVERY column before hashing,
    and pandas cannot order list/dict cells — an exported query returning
    an array/map/struct column errors at the driver even when the local
    oracle harness passes it (round-4 CORRECTNESS: ``label_centroids``).
    Export complex values in long form (one row per element) instead."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name, df in exported_dfs.items():
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders.append((name, bad))
    assert not offenders, f"complex-typed exported columns: {offenders}"


def test_simhash_near_dups_plan_is_blocked_128bit(spark, sf_small):
    """Round-8 (VERDICT r7 #6): the 128-bit block-combination join is the
    most load-bearing dedup plan — a refactor going back to a 60-bit
    single-band layout or degrading the candidate join to a nested loop
    must fail CI, not a future bench run.

    Asserts: (a) the exported query's plan carries the two-long
    combination-key equi-join (val_lo/val_hi join keys present, no
    CartesianProduct / BroadcastNestedLoop); (b) the key explode fans out
    exactly C(5,2)=10 combination rows per document; (c) the 128-bit
    fingerprint (simhash_hi/simhash_lo) feeds the verify join — the
    legacy 60-bit layout has neither."""
    from puma_matcher_spark.queries import REGISTRY

    df = REGISTRY["simhash_near_dups"].spark_fn(spark, sf_small)
    plan = pi.formatted_plan(df)
    assert "val_lo" in plan and "val_hi" in plan, "combination key gone"
    assert "simhash_hi" in plan, "128-bit fingerprint not in the plan"
    assert not pi.has_cartesian(df)
    assert "BroadcastNestedLoop" not in plan

    # explode fan-out: exactly C(5,2)=10 key rows per kept document,
    # each a distinct combination id
    from puma_matcher_spark.llmdata import dedup as dd
    from puma_matcher_spark.sources.testdata import load_tables

    docs = load_tables(spark, sf_small).llm_documents().limit(20)
    sh = dd.simhash128_mapside(docs)
    n_docs = sh.count()
    keys = dd.simhash128_keys(sh, max_hamming=3)
    assert keys.count() == 10 * n_docs
    per_doc = keys.groupBy("doc_id").agg(
        F.countDistinct("combo").alias("n")
    )
    assert per_doc.where(F.col("n") != 10).count() == 0


def test_vocab_coverage_window_is_pre_limited(spark, sf_small):
    """Round-8 (VERDICT r7 #4): only ranks <= max(ks) contribute to
    covered_share, so the single-partition ranking window must be fed by
    a distributed TakeOrdered over max(ks) rows — never the full distinct
    -token frame."""
    from puma_matcher_spark.queries import REGISTRY

    df = REGISTRY["vocab_coverage"].spark_fn(spark, sf_small)
    plan = pi.formatted_plan(df)
    assert "TakeOrdered" in plan, "pre-limit gone — window ranks full vocab"
    assert "Window" in plan


def test_curation_report_stage_frames_are_checkpointed(spark, sf_small):
    """Round-8 barrier guard (the semantic_dedup_blocked precedent): the
    three marker joins must read the localCheckpoint'ed stage ID frames
    ("Scan ExistingRDD"), not re-derive the LSH + verify chain once per
    branch (measured 7.9 s -> 4.6 s at sf0.1).  Over the parquet fixture
    the checkpoints are the only RDD sources in the DAG, so >= 3
    ExistingRDD scans prove all three barriers; removing any
    .localCheckpoint() in pipeline.curation_report drops the count."""
    from puma_matcher_spark.queries import REGISTRY

    df = REGISTRY["curation_report"].spark_fn(spark, sf_small)
    plan = pi.formatted_plan(df)
    assert plan.count("ExistingRDD") >= 3, "stage-frame barrier removed"


def test_pagerank_top_selects_topk_without_global_window(spark, sf_small):
    """r10: pagerank_top's oracle orders the cutoff by the ROUNDED rank,
    and the Spark side must implement that as orderBy+limit
    (TakeOrderedAndProject — a distributed per-partition top-k + merge),
    never a global row_number window, whose single-partition sort would
    funnel every supplier row through one task at scale."""
    from puma_matcher_spark.queries import REGISTRY

    df = REGISTRY["pagerank_top"].spark_fn(spark, sf_small)
    plan = pi.formatted_plan(df)
    assert "TakeOrdered" in plan, "top-20 lost its TakeOrderedAndProject"
    assert "Window" not in plan, "global window crept into the top-k path"
