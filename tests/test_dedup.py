"""Dedup: name cleaning, blocked pairs, connected components."""

import random
import unicodedata

from pyspark.sql import functions as F

from puma_matcher_spark.operators import dedup as dd
from puma_matcher_spark.plans import inspect as pi

import pytest


def test_clean_names_folds_diacritics_and_initials(spark):
    persons = spark.createDataFrame(
        [(1, "Jean-Pièrre  Müller"), (2, "J. P. Muller"), (3, None)],
        ["id", "name"],
    )
    got = {r["id"]: (r["clean_name"], r["blocking_key"]) for r in dd.clean_names(persons).collect()}
    assert got[1][0] == "jean-pierre muller"
    assert got[2][0] == "muller"
    assert got[1][1] == "jean-pierre#muller"


def _fold_reference(v):
    """NFD, then drop nonspacing marks: the fold in pure Python."""
    if v is None:
        return None
    return "".join(
        c for c in unicodedata.normalize("NFD", v)
        if unicodedata.category(c) != "Mn"
    )


#: code point ranges where the JVM's fold (ICU's decomposition and mark
#: class) and Python's ``unicodedata`` use the same Unicode data; the
#: first difference above U+0020 is at U+0897, a mark that ICU's Unicode
#: version has and Python 3.11's does not
FOLD_AGREED_RANGES = [
    (0x0020, 0x0896),  # Latin through Samaritan and Mandaic
    (0x1E00, 0x1FFF),  # Latin Extended Additional, Greek Extended
    (0x3040, 0x30FF),  # Hiragana, Katakana (voiced-mark decomposition)
    (0xAC00, 0xD7A3),  # Hangul syllables (decompose to conjoining jamo)
]


def test_fold_diacritics_matches_unicodedata_reference(spark):
    values = [None, ""] + [
        chr(c) for lo, hi in FOLD_AGREED_RANGES for c in range(lo, hi + 1)
    ]
    df = spark.createDataFrame(list(enumerate(values)), "i INT, s STRING")
    got = {
        r["i"]: r["f"]
        for r in df.select("i", dd.fold_diacritics(F.col("s")).alias("f")).collect()
    }
    diff = [
        (f"U+{ord(v):04X}" if v else v, got[i], _fold_reference(v))
        for i, v in enumerate(values)
        if got[i] != _fold_reference(v)
    ]
    assert not diff, f"{len(diff)} code points fold differently: {diff[:10]}"


def test_fold_diacritics_drops_every_icu_mark(spark):
    """Every code point that ICU types as a nonspacing mark folds away:
    the mark class follows the Unicode version of the decomposition, not
    the JDK's older one."""
    nsm = spark._jvm.com.ibm.icu.lang.UCharacterCategory.NON_SPACING_MARK
    icu_type = F.expr(
        "reflect('com.ibm.icu.lang.UCharacter', 'getType', CAST(id AS INT))"
    )
    marks = [
        r["id"]
        for r in spark.range(0x110000).where(icu_type == str(nsm)).collect()
    ]
    assert len(marks) > 1900, len(marks)
    df = spark.createDataFrame(
        [(cp, "a" + chr(cp)) for cp in marks], "cp INT, s STRING"
    )
    kept = [
        f"U+{r['cp']:04X}"
        for r in df.where(dd.fold_diacritics(F.col("s")) != "a").collect()
    ]
    assert not kept, f"{len(kept)} ICU marks survive the fold: {kept[:10]}"


#: plan nodes of Python kernels: each starts Python worker processes
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")


def test_dedup_workload_plans_run_no_python(spark, sf_small):
    """The dedup queries and the curation app plan no Python kernel, so
    a pass starts no Python worker."""
    from puma_matcher_spark.apps import run_curation_app
    from puma_matcher_spark.functions import caching
    from puma_matcher_spark.queries import REGISTRY

    frames = {
        name: REGISTRY[name].spark_fn(spark, sf_small)
        for name in (
            "person_clean",
            "dedup_person_chain",
            "dedup_components_cc",
            "dedup_exact",
        )
    }
    frames["curation clean"] = run_curation_app(spark, sf_small).clean
    try:
        offenders = {
            name: [n for n in PYTHON_NODES if n in pi.formatted_plan(df)]
            for name, df in frames.items()
        }
    finally:
        caching.drain()
    assert not any(offenders.values()), offenders


def test_blocked_pairs_within_key_only(spark):
    persons = spark.createDataFrame(
        [(1, "k1"), (2, "k1"), (3, "k1"), (4, "k2")], ["id", "blocking_key"]
    )
    got = {(r["id1"], r["id2"]) for r in dd.blocked_pairs(persons).collect()}
    assert got == {(2, 1), (3, 1), (3, 2)}


def test_connected_components_transitive_chain(spark):
    # chain 1-2, 2-3 plus separate 10-11; transitive closure must give
    # {1,2,3} -> 1 and {10,11} -> 10
    edges = spark.createDataFrame([(2, 1), (3, 2), (11, 10)], ["id1", "id2"])
    got = {r["id"]: r["component"] for r in dd.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    n = 12
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(n)], ["id1", "id2"]
    )
    got = {r["id"]: r["component"] for r in dd.connected_components(edges).collect()}
    assert set(got.values()) == {0}
    assert len(got) == n + 1


#: Spark jobs one connected-components round may run under AQE: the
#: labels broadcast, the cache scan, the round's shuffle and the three
#: stages of the materializing count.  A round that probes convergence
#: or sizes the graph with actions of its own runs ~11.
CC_JOBS_PER_ROUND_MAX = 7
#: jobs of the label init (its shuffle and the eager checkpoint)
CC_INIT_JOBS_MAX = 4
#: rounds on the 13-node chain 0-1-...-12: after the init (labels i-1)
#: the label of the label covers 2, 4, 8 and 12 hops, and a fifth round
#: sees no change
CHAIN_ROUNDS = 5


def test_connected_components_jobs_per_round(spark, monkeypatch):
    """Each round is one plan with one materializing action: the
    convergence test and the graph sizes are observed inside jobs the
    loop runs anyway, never probed with extra actions."""
    from puma_matcher_spark.operators import graph
    from puma_matcher_spark.operators.dedup import connected_components

    monkeypatch.setattr(graph, "BROADCAST_NODES_MAX", 0)  # force the loop
    df = spark.createDataFrame([(i + 1, i) for i in range(12)], "id1 LONG, id2 LONG")
    comp, n_jobs = _group_jobs(
        spark, "test-dedup-cc-jobs-per-round", lambda: connected_components(df)
    )
    assert {(r["id"], r["component"]) for r in comp.collect()} == {
        (i, 0) for i in range(13)
    }
    assert n_jobs <= CC_INIT_JOBS_MAX + CC_JOBS_PER_ROUND_MAX * CHAIN_ROUNDS, (
        f"connected_components ran {n_jobs} Spark jobs over {CHAIN_ROUNDS} "
        "rounds: a round is running actions beyond its materializing count"
    )


#: Spark jobs of connected components under the gate on an in-memory
#: edge list: the edge list's distinct shuffle and the one collect (the
#: loop ran 33 on the same 13-node chain)
CC_DRIVER_JOBS_MAX = 2
#: Spark jobs of dedup_components_cc on the sf_small fixture under the
#: gate: the blocked-pair build plus the one collect (the loop ran 17)
DEDUP_CC_JOBS_MAX = 8


def _group_jobs(spark, group, fn):
    """Run ``fn`` under its own job group; return (result, jobs run)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_connected_components_driver_path_jobs(spark):
    """Under the gate the graph is fetched in one collect and solved on
    the driver: no per-round jobs."""
    df = spark.createDataFrame([(i + 1, i) for i in range(12)], "id1 LONG, id2 LONG")
    comp, n_jobs = _group_jobs(
        spark, "test-dedup-cc-driver-jobs", lambda: dd.connected_components(df)
    )
    assert {(r["id"], r["component"]) for r in comp.collect()} == {
        (i, 0) for i in range(13)
    }
    assert n_jobs <= CC_DRIVER_JOBS_MAX, (
        f"connected_components under the gate ran {n_jobs} Spark jobs"
    )


def _random_edges(seed, n_ids, n_edges):
    rng = random.Random(seed)
    return [(rng.randrange(n_ids), rng.randrange(n_ids)) for _ in range(n_edges)]


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([(i + 1, i) for i in range(12)], "id1 LONG, id2 LONG"),
        ([(2, 1), (3, 2), (11, 10), (5, 5)], "id1 LONG, id2 LONG"),
        ([("b", "a"), ("c", "b"), ("z", "y")], "id1 STRING, id2 STRING"),
        ([], "id1 INT, id2 INT"),
        (_random_edges(seed=5, n_ids=150, n_edges=120), "id1 LONG, id2 LONG"),
    ],
    ids=["chain", "two-components-and-self-loop", "string-ids", "empty", "random"],
)
def test_connected_components_driver_path_matches_loop(spark, monkeypatch, rows, ddl):
    """The driver solve and the forced loop give the same rows and the
    same schema, whose id type is the input's."""
    from puma_matcher_spark.operators import graph

    edges = spark.createDataFrame(rows, ddl)
    driver = dd.connected_components(edges)
    monkeypatch.setattr(graph, "BROADCAST_NODES_MAX", 0)  # force the loop
    loop = dd.connected_components(edges)
    assert driver.schema == loop.schema
    assert driver.schema["id"].dataType == edges.schema["id1"].dataType
    assert sorted(driver.collect()) == sorted(loop.collect())
    assert driver.count() == len({v for r in rows for v in r})


def test_dedup_components_cc_jobs(spark, sf_small):
    """The M8 query under the gate: the blocked pairs plus one collect."""
    from puma_matcher_spark.queries import REGISTRY

    build = REGISTRY["dedup_components_cc"].spark_fn
    _, n_jobs = _group_jobs(
        spark, "test-dedup-components-cc-jobs", lambda: build(spark, sf_small)
    )
    assert n_jobs <= DEDUP_CC_JOBS_MAX, (
        f"dedup_components_cc ran {n_jobs} Spark jobs on sf_small"
    )


def test_dedup_lookup_includes_singletons(spark):
    persons = spark.createDataFrame([(1,), (2,), (3,), (9,)], ["id"])
    edges = spark.createDataFrame([(2, 1)], ["id1", "id2"])
    got = {r["person_id"]: r["lookup_id"] for r in dd.dedup_lookup(persons, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 3, 9: 9}


def test_enumerate_triangles_canonical(spark):
    from puma_matcher_spark.operators.dedup import enumerate_triangles

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 2), (5, 6)], ["src", "dst"]
    )
    got = {
        (r["a"], r["b"], r["c"]) for r in enumerate_triangles(edges).collect()
    }
    # triangles: (1,2,3) and (2,3,4); each listed once, a<b<c
    assert got == {(1, 2, 3), (2, 3, 4)}


def test_fs_linkage_weights_hand_computed(spark):
    """4 persons, one field with values [A, A, B, C]: u = (2/4)² + (1/4)²
    + (1/4)² = 0.375; agreement weight log2(0.9/0.375), disagreement
    log2(0.1/0.625) — checked to 4 decimals on one agreeing and one
    disagreeing pair."""
    import math

    from pyspark.sql import functions as F

    from puma_matcher_spark.operators.dedup import fs_linkage_weights

    persons = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "B"), (4, "C")], "id LONG, seg STRING"
    )
    pairs = spark.createDataFrame([(2, 1), (3, 1)], "id1 LONG, id2 LONG")
    rows = {
        (r["id1"], r["id2"]): r
        for r in fs_linkage_weights(persons, pairs, ["seg"]).collect()
    }
    u = 0.375
    agree = round(math.log2(0.9 / u), 4)
    disagree = round(math.log2((1 - 0.9) / (1 - u)), 4)
    assert rows[(2, 1)]["w_seg"] == agree and agree > 0
    assert rows[(3, 1)]["w_seg"] == disagree and disagree < 0
    assert rows[(2, 1)]["total_weight"] == agree


def test_fs_em_separates_m_from_u_on_planted_dupes(spark):
    """Persons with planted duplicate clusters (same seg+bucket) among
    random non-matches: EM must learn m > u for both fields and a match
    prior inside (0, 1)."""
    import random

    from pyspark.sql import functions as F

    from puma_matcher_spark.operators.dedup import blocked_pairs, fs_em_parameters

    rng = random.Random(11)
    rows = []
    # 20 duplicate clusters of 3 (agree on everything), 140 singletons
    pid = 0
    for c in range(20):
        seg, bucket = f"seg{c % 5}", c % 4
        for _ in range(3):
            rows.append((pid, 0, seg, bucket)); pid += 1
    for _ in range(140):
        rows.append((pid, 0, f"seg{rng.randrange(5)}", rng.randrange(4))); pid += 1
    persons = spark.createDataFrame(
        rows, "id LONG, nation INT, seg STRING, bal_bucket INT"
    )
    pairs = blocked_pairs(persons, key_col="nation")
    params, prior = fs_em_parameters(persons, pairs, ["seg", "bal_bucket"])
    got = {r["field"]: r for r in params.collect()}
    assert 0.0 < prior < 1.0
    for f in ("seg", "bal_bucket"):
        assert got[f]["m"] > got[f]["u"], f
        assert got[f]["w_agree"] > 0 > got[f]["w_disagree"], f


@pytest.mark.slow
def test_prefix_join_prunes_but_loses_nothing(spark, sf_small):
    """The PPJoin prefix filter must (a) generate strictly fewer
    candidates than the raw shingle self-join and (b) still return every
    pair at or above the threshold (lossless)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from puma_matcher_spark.llmdata import dedup as dd
    from puma_matcher_spark.sources.testdata import load_tables

    docs = load_tables(spark, sf_small).llm_documents()
    t = 0.5
    # candidate count the prefix filter generates
    sh = dd.shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    prefix = (
        sh.join(dfreq, "shingle").join(sizes, "doc_id")
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1)
        .select("doc_id", "shingle")
    )
    n_prefix_cand = (
        prefix.selectExpr("shingle", "doc_id AS a")
        .join(prefix.selectExpr("shingle", "doc_id AS b"), "shingle")
        .where("a < b").select("a", "b").distinct().count()
    )
    n_full_cand = (
        sh.selectExpr("shingle", "doc_id AS a")
        .join(sh.selectExpr("shingle", "doc_id AS b"), "shingle")
        .where("a < b").select("a", "b").distinct().count()
    )
    assert n_prefix_cand < n_full_cand
    # losslessness: equals the naive threshold join (exact pairs)
    naive = {
        (r["doc1_id"], r["doc2_id"])
        for r in dd.ngram_jaccard_pairs(docs, max_shingle_df=10**9)
        .where(F.col("jaccard") >= t)
        .collect()
    }
    got = {
        (r["doc1_id"], r["doc2_id"])
        for r in dd.jaccard_prefix_join(docs, threshold=t).collect()
    }
    assert got == naive


def test_component_argmax_keeps_best_scoring_member(spark):
    """Round 8: quality-aware representative selection — the kept
    duplicate is the best-scoring cluster member (score DESC NULLS LAST,
    id ASC), not the smallest id; NULL scores lose to any real score."""
    from puma_matcher_spark.operators.dedup import component_argmax

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "id LONG, component LONG",
    )
    scores = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (10, None), (11, 2.0)],
        "id LONG, score DOUBLE",
    )
    got = {
        r["component"]: r["rep_id"]
        for r in component_argmax(comp, scores).collect()
    }
    assert got == {1: 2, 10: 11}  # tie 2/3 -> smaller id; NULL loses


def test_component_argmax_unscored_component_falls_back_to_min_id(spark):
    """r8 ADVICE #3: a component whose members are ALL absent from the
    scores frame must still emit a rep row (min-id fallback via the LEFT
    join + desc_nulls_last), never silently disband."""
    from puma_matcher_spark.operators.dedup import component_argmax

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (20, 20), (21, 20), (22, 20)],
        "id LONG, component LONG",
    )
    scores = spark.createDataFrame(
        [(1, 1.0), (2, 3.0)], "id LONG, score DOUBLE"
    )  # component 20 entirely unscored
    got = {
        r["component"]: r["rep_id"]
        for r in component_argmax(comp, scores).collect()
    }
    assert got == {1: 2, 20: 20}


@pytest.mark.slow
def test_connected_components_long_chain_converges_in_log_rounds(spark, monkeypatch):
    """Round 9: path-halving makes the iteration cap a LOG bound — a
    150-hop chain (old hop-only loop: silently wrong past 20 rounds)
    must resolve every node to component 0 within the default cap."""
    from puma_matcher_spark.operators import graph
    from puma_matcher_spark.operators.dedup import connected_components

    monkeypatch.setattr(graph, "BROADCAST_NODES_MAX", 0)  # force the loop
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(150)], "id1 LONG, id2 LONG"
    )
    comp = {
        r["id"]: r["component"] for r in connected_components(edges).collect()
    }
    assert set(comp.values()) == {0}
    assert len(comp) == 151


def test_connected_components_raises_instead_of_truncating(spark, monkeypatch):
    """An under-provisioned iteration cap must FAIL LOUDLY, never return
    truncated (wrongly split) components."""
    import pytest

    from puma_matcher_spark.operators import graph
    from puma_matcher_spark.operators.dedup import connected_components

    monkeypatch.setattr(graph, "BROADCAST_NODES_MAX", 0)  # force the loop
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "id1 LONG, id2 LONG"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=3).collect()
    # the raise path releases the last round's cached label frame too
    assert cm.isEmpty(), "the convergence raise leaked a CacheManager entry"


def test_connected_components_rejects_zero_iterations(spark, monkeypatch):
    """max_iterations=0 would skip the loop entirely and return identity
    labels (every node its own component) without tripping the
    convergence raise — reject it up front (r9 ADVICE #5), on the driver
    path as well as on the loop."""
    import pytest

    from puma_matcher_spark.operators import graph
    from puma_matcher_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(0, 1)], "id1 LONG, id2 LONG")
    with pytest.raises(ValueError, match="max_iterations"):
        connected_components(edges, max_iterations=0)
    monkeypatch.setattr(graph, "BROADCAST_NODES_MAX", 0)  # force the loop
    with pytest.raises(ValueError, match="max_iterations"):
        connected_components(edges, max_iterations=0)


def test_blocked_pairs_envelope_guard(spark):
    """r11 (r10 verdict "missing" #1): the blocking-envelope contract is
    enforced in the generator — an over-coarse key raises the contract
    message (naming the hottest block) instead of regrowing the
    quadratic; a caller raises the ceiling through ``max_pairs``."""
    import pytest

    persons = spark.createDataFrame(
        [(i, "hot" if i < 30 else f"k{i}") for i in range(40)],
        ["id", "blocking_key"],
    )
    # 30-row hot block -> 435 pairs + 0 elsewhere
    with pytest.raises(
        ValueError, match=r"blocking-envelope ceiling \(hottest block 'hot' holds 30 "
    ):
        dd.blocked_pairs(persons, max_pairs=100)
    assert dd.blocked_pairs(persons, max_pairs=500).count() == 435
    assert dd.blocked_pairs(persons).count() == 435


def test_blocked_pairs_guard_ignores_null_keys(spark):
    """r11 review: NULL keys never equi-match, so the join emits zero
    pairs from them — the guard must not count the NULL group as a hot
    block (an unkeyable-heavy corpus would spuriously raise)."""
    persons = spark.createDataFrame(
        [(i, None if i < 30 else f"k{i % 3}") for i in range(40)],
        "id LONG, blocking_key STRING",
    )
    # 30 NULL rows would read as a 435-pair hot block and trip the 100
    # ceiling; the real join volume is C(4,2)+C(3,2)+C(3,2) = 12
    got = dd.blocked_pairs(persons, max_pairs=100)
    assert got.count() == 12
