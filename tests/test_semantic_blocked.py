"""Round-6 guards for the blocked SemDeDup plane (VERDICT r5 #1): the
exported ``semantic_dedup_blocked`` must (a) equal the exact all-pairs
definition — i.e. the candidate stage is COMPLETE on the fixtures, with
margin — and (b) keep its 100×-safe plan shape (equi-joins only, no
cartesian, no row-UDFs).  The measured analysis behind the design —
why the isotropic ``embeddings`` fixture at threshold 0.35 admits NO
sub-quadratic pair stage, and why text near-dups do — lives in
PLANS.md §round-6 semantic-dedup.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from puma_matcher_spark.llmdata import similarity as sim
from puma_matcher_spark.plans import inspect as pi
from puma_matcher_spark.sources.testdata import load_tables

THRESHOLD = 0.8


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir).llm_documents()


@pytest.mark.slow
def test_blocked_equals_exact_definition(spark, sf_small):
    """The blocked pipeline (rare-shingle candidates → exact verify → CC)
    must reproduce the unblocked all-pairs definition row-for-row."""
    docs = _docs(spark, sf_small)
    emb = sim.shingle_hash_embeddings(docs)
    exact = sim.semantic_dedup_groups(
        emb, threshold=THRESHOLD, id_col="doc_id"
    )
    blocked = sim.semantic_dedup_blocked(docs, threshold=THRESHOLD)
    assert blocked.exceptAll(exact).count() == 0
    assert exact.exceptAll(blocked).count() == 0
    assert blocked.count() > 0  # non-trivial: the fixture has real dups


@pytest.mark.slow
def test_candidate_stage_complete_with_margin(spark, sf_small):
    """Every true pair (exact cosine >= threshold) must appear among the
    shared-rare-shingle candidates — and not via a single lucky shingle:
    the fixtures' near-dup pairs each share >= 8 rare shingles (measured;
    re-checked here at >= 4 so fixture regeneration noise can't flip the
    gate), so blocking completeness has real margin."""
    from puma_matcher_spark.llmdata.dedup import shingles

    docs = _docs(spark, sf_small)
    emb = sim.shingle_hash_embeddings(docs)
    true_pairs = sim.cosine_threshold_pairs(
        emb, THRESHOLD, id_col="doc_id"
    )
    cands = sim.shared_shingle_pairs(docs)
    missed = true_pairs.join(cands, ["id1", "id2"], "left_anti")
    assert missed.count() == 0

    # margin: shared rare-shingle count per true pair
    sh = shingles(docs)
    w_df = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= 64)
    )
    rare = sh.join(w_df.select("shingle"), "shingle")
    a = rare.select(F.col("doc_id").alias("id1"), "shingle")
    b = rare.select(F.col("doc_id").alias("id2"), "shingle")
    shared = (
        a.join(b, "shingle")
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    min_shared = (
        true_pairs.join(shared, ["id1", "id2"])
        .agg(F.min("n_shared"))
        .first()[0]
    )
    assert min_shared is not None and min_shared >= 4, min_shared


def test_candidate_stage_actually_blocks(spark, sf_small):
    """The candidate set must be materially smaller than all-pairs —
    otherwise the 'blocked' plan is all-pairs with extra steps.  Measured
    at sf0.001/sf0.01: ~14k candidate rows (pre-distinct) vs 124,750
    all-pairs; assert the distinct candidate count stays under a third."""
    docs = _docs(spark, sf_small)
    n = docs.count()
    cands = sim.shared_shingle_pairs(docs).count()
    assert cands < (n * (n - 1) // 2) / 3, (cands, n)


def test_blocked_plan_shape(spark, sf_small):
    """No cartesian / broadcast-nested-loop anywhere in the exported
    query's DAG (the registry-wide guard also enforces this — the name is
    deliberately NOT on its whitelist), and no row-at-a-time Python."""
    from puma_matcher_spark.queries import REGISTRY

    df = REGISTRY["semantic_dedup_blocked"].spark_fn(spark, sf_small)
    assert not pi.has_cartesian(df)
    assert "BatchEvalPython" not in pi.formatted_plan(df)


def test_embeddings_are_map_side(spark, sf_small):
    """shingle_hash_embeddings must not shuffle: the whole hashed count
    vector folds inside the row (one scan, no exchange beyond the
    small-fixture round-robin spread that ``spread_input`` adds, which
    is the one deliberate repartition of the shingle kernel)."""
    from puma_matcher_spark.operators.skew import spread_input

    docs = _docs(spark, sf_small)
    emb = sim.shingle_hash_embeddings(docs)
    assert pi.num_shuffles(emb) == pi.num_shuffles(spread_input(docs)), (
        pi.formatted_plan(emb)
    )


def test_embedding_bucket_hash_hoisted_once(spark, sf_small):
    """r12: the md5 bucket pass must be computed ONCE per row — the
    bucket array is projected to an attribute (`_bk`) and the histogram
    keeps a second reference so CollapseProject cannot inline the
    md5 transform back into the per-bucket lambda (interpreted HOFs
    re-evaluate an inline child once per outer element: measured 128x
    the md5 work, 2.34 s → 0.33 s noop at sf0.1).  Pins (a) the
    optimized plan keeps the two-step projection and (b) the embeddings
    are bitwise-identical to the inline reference formulation."""
    from puma_matcher_spark.llmdata.dedup import portable_hash60, shingle_arrays

    docs = _docs(spark, sf_small)
    emb = sim.shingle_hash_embeddings(docs)
    # (a) the _bk attribute survives optimization as its own projection
    plan = pi.formatted_plan(emb)
    assert "_bk" in plan, "bucket-array projection was collapsed away"
    # (b) bitwise equality vs the inline (pre-r12) formulation
    base = shingle_arrays(docs, n=3)
    buckets = F.transform(
        F.col("shingle_arr"),
        lambda s: (portable_hash60(s) % F.lit(128)).cast("int"),
    )
    ref = base.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(127)),
            lambda b: F.size(F.filter(buckets, lambda x: x == b)).cast(
                "double"
            ),
        ).alias("embedding"),
    )
    a = emb.selectExpr("doc_id", "cast(embedding as string) AS e")
    b = ref.selectExpr("doc_id", "cast(embedding as string) AS e")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_blocked_dedup_handles_a_dup_free_corpus(spark):
    """A corpus with no near-duplicates must yield an EMPTY group frame
    (not crash in the CC loop on an empty edge list) — the common case
    for a well-curated shard."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"u{i}w{j}" for j in range(10))) for i in range(30)],
        ["doc_id", "text"],
    )
    out = sim.semantic_dedup_blocked(docs, threshold=0.8)
    assert out.count() == 0
    assert set(out.columns) == {
        "doc_id", "group_id", "group_size", "is_representative",
    }


@pytest.mark.slow
def test_verify_join_reads_checkpointed_embeddings(spark, sf_small, monkeypatch):
    """The materialization barrier of commit 068b131 (VERDICT r6 #4):
    the verify join's BOTH sides must be scans of the localCheckpoint'ed
    embedding frame ("Scan ExistingRDD"), not inlined re-computations of
    the O(n_buckets x shingles) embedding expression below the join —
    Catalyst's projection collapse otherwise re-executes the build per
    joined row (measured 75x at sf0.1).  The plan checked is the
    verified-pair frame handed to ``connected_components``: the grouping
    may solve small graphs on the driver and return a local table, whose
    plan no longer shows the join.  Over the parquet fixtures the
    checkpoint is the ONLY RDD source in the pair frame's DAG, so two
    ExistingRDD scans prove the barrier; removing the .localCheckpoint()
    at similarity.py drops the count to zero and fails this test."""
    from puma_matcher_spark.operators import dedup
    from puma_matcher_spark.queries import REGISTRY

    edges = []
    solve = dedup.connected_components

    def spy(pairs, *args, **kwargs):
        edges.append(pairs)
        return solve(pairs, *args, **kwargs)

    monkeypatch.setattr(dedup, "connected_components", spy)
    REGISTRY["semantic_dedup_blocked"].spark_fn(spark, sf_small)
    assert len(edges) == 1
    plan = pi.formatted_plan(edges[0])
    assert plan.count("ExistingRDD") >= 2, plan


@pytest.mark.slow
def test_semantic_contamination_finds_planted_leak(spark):
    """A benchmark doc paraphrase-leaked into the corpus (same content,
    one token changed) must be flagged; unrelated docs must not."""
    corpus = spark.createDataFrame(
        [
            (2, " ".join(f"leak{j}" for j in range(20)) + " tailA"),
            (4, " ".join(f"other{j}" for j in range(20))),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [
            (1, " ".join(f"leak{j}" for j in range(20)) + " tailB"),
            (3, " ".join(f"clean{j}" for j in range(20))),
        ],
        ["doc_id", "text"],
    )
    out = sim.semantic_contamination(corpus, bench, threshold=0.65).collect()
    assert {(r["corpus_id"], r["benchmark_id"]) for r in out} == {(2, 1)}
    assert out[0]["cosine_sim"] >= 0.9


@pytest.mark.slow
def test_semantic_contamination_rarity_is_global(spark):
    """A shingle that floods the CORPUS is no blocking key even when the
    benchmark uses it once: with every cross pair sharing only boiler
    shingles above the cap and nothing else rare in common, the operator
    must emit no candidates (and never an all-pairs product)."""
    boiler = "common boiler plate text repeated everywhere in the corpus"
    corpus = spark.createDataFrame(
        [(2 * i, boiler) for i in range(40)], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([(1, boiler)], ["doc_id", "text"])
    out = sim.semantic_contamination(corpus, bench, threshold=0.8, df_cap=8)
    assert out.count() == 0


def test_semantic_contamination_plan_shape(spark, sf_small):
    """No cartesian/broadcast-nested-loop; verify join reads the two
    checkpointed embedding frames (the 068b131 barrier, cross-frame)."""
    from puma_matcher_spark.queries import REGISTRY

    df = REGISTRY["semantic_contamination"].spark_fn(spark, sf_small)
    assert not pi.has_cartesian(df)
    assert pi.formatted_plan(df).count("ExistingRDD") >= 2


def test_centroid_drift_identical_halves_score_one(spark):
    """Mirrored halves (odd vec = copy of the preceding even vec) give
    identical per-label centroids -> cosine exactly 1.0 everywhere."""
    rows = []
    for i in range(40):
        vec = [float((i * 7 + d * 3) % 11 - 5) for d in range(8)]
        rows.append((2 * i, i % 3, vec))
        rows.append((2 * i + 1, i % 3, vec))
    emb = spark.createDataFrame(
        rows, "vec_id LONG, label INT, embedding ARRAY<DOUBLE>"
    )
    out = sim.centroid_drift(emb).collect()
    assert len(out) == 3
    assert all(r["centroid_cosine"] == 1.0 for r in out)
    assert all(r["n_ref"] == r["n_cur"] for r in out)
    assert sum(r["n_ref"] + r["n_cur"] for r in out) == len(rows)


def test_centroid_drift_detects_a_shifted_label(spark):
    """Flipping the current half of ONE label must drop that label's
    centroid cosine far below the stable labels'."""
    rows = []
    for i in range(60):
        label = i % 2
        base = [1.0 + 0.01 * ((i + d) % 5) for d in range(6)]
        cur = [-x for x in base] if label == 1 else base
        rows.append((2 * i, label, base))
        rows.append((2 * i + 1, label, cur))
    emb = spark.createDataFrame(
        rows, "vec_id LONG, label INT, embedding ARRAY<DOUBLE>"
    )
    got = {r["label"]: r["centroid_cosine"] for r in sim.centroid_drift(emb).collect()}
    assert got[0] >= 0.999
    assert got[1] <= -0.999


def test_semantic_contamination_empty_benchmark(spark):
    """An empty benchmark frame (pre-release with no eval suite wired
    yet) must yield an empty result, not a crash in the df-union or the
    checkpointed verify joins."""
    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(10))) for i in range(10)],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([], "doc_id LONG, text STRING")
    out = sim.semantic_contamination(corpus, bench)
    assert out.count() == 0
    assert set(out.columns) == {"corpus_id", "benchmark_id", "cosine_sim"}


def test_semantic_decontaminate_drops_exactly_the_flagged_ids(spark):
    """The action twin must equal corpus MINUS the scan's corpus_ids —
    and keep every unflagged row untouched (column-complete)."""
    corpus = spark.createDataFrame(
        [
            (2, " ".join(f"leak{j}" for j in range(20)) + " tailA"),
            (4, " ".join(f"other{j}" for j in range(20))),
            (6, " ".join(f"more{j}" for j in range(20))),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(1, " ".join(f"leak{j}" for j in range(20)) + " tailB")],
        ["doc_id", "text"],
    )
    flagged = {
        r["corpus_id"]
        for r in sim.semantic_contamination(corpus, bench).collect()
    }
    clean = sim.semantic_decontaminate(corpus, bench)
    kept = {r["doc_id"] for r in clean.collect()}
    assert flagged == {2}
    assert kept == {4, 6}
    assert set(clean.columns) == set(corpus.columns)


@pytest.mark.slow
def test_planted_leak_recall_at_operating_point(spark):
    """Round-9 recall gate (PLANS.md "Round-9: semantic-contamination
    recall on planted paraphrase leaks"): at the default operating point
    (min_shared=2, df_cap=64) the blocked scan catches EVERY planted
    rare-content leak the unblocked truth flags — exact copies, a 90%
    block paraphrase and a 90% scattered paraphrase — while the
    boilerplate-carried pair (every shared shingle over the df cap) is
    the designed blindspot: flagged by the unblocked truth, intentionally
    not by the scan."""
    L, POOL = 40, 12

    def toks(p, i):
        return [f"{p}{i}_{j}" for j in range(L)]

    def boiler(off):
        return [f"bp{(off + j) % POOL}" for j in range(L)]

    corpus_rows = [(i, " ".join(toks("u", i))) for i in range(300)]
    corpus_rows += [(1000 + i, " ".join(boiler(i))) for i in range(80)]
    bench_rows, planted = [], {}
    b0, b1, b2, b3 = toks("q", 0), toks("q", 1), toks("q", 2), boiler(5)
    # exact copy
    bench_rows.append((9000, " ".join(b0)))
    corpus_rows.append((5000, " ".join(b0)))
    planted[(5000, 9000)] = "exact"
    # 90% block paraphrase
    bench_rows.append((9001, " ".join(b1)))
    corpus_rows.append((5001, " ".join(b1[:36] + [f"x1_{j}" for j in range(4)])))
    planted[(5001, 9001)] = "block90"
    # 90% scattered paraphrase (4 evenly spaced replacements)
    repl = {0, 10, 20, 30}
    bench_rows.append((9002, " ".join(b2)))
    corpus_rows.append(
        (5002, " ".join(f"x2_{j}" if j in repl else b2[j] for j in range(L)))
    )
    planted[(5002, 9002)] = "scat90"
    # boilerplate pair: cosine 1.0, every shingle df ~ 81 > 64
    bench_rows.append((9003, " ".join(b3)))
    corpus_rows.append((5003, " ".join(b3)))
    planted[(5003, 9003)] = "boiler"

    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    bench = spark.createDataFrame(bench_rows, ["doc_id", "text"])

    # unblocked truth at 0.65 (the oracle definition; the scattered-90%
    # pair's cosine is hash-borderline around 0.8 — the study measured
    # it reliably above 0.65, and both sides use the SAME threshold)
    cv = sim.shingle_hash_embeddings(corpus).select(
        F.col("doc_id").alias("corpus_id"),
        F.col("embedding").alias("_ce"),
        sim.norm("embedding").alias("_cn"),
    )
    bv = sim.shingle_hash_embeddings(bench).select(
        F.col("doc_id").alias("benchmark_id"),
        F.col("embedding").alias("_be"),
        sim.norm("embedding").alias("_bn"),
    )
    truth = {
        (r["corpus_id"], r["benchmark_id"])
        for r in cv.where(F.col("_cn") > 0)
        .crossJoin(F.broadcast(bv.where(F.col("_bn") > 0)))
        .where(
            sim.dot(F.col("_ce"), F.col("_be")) / (F.col("_cn") * F.col("_bn"))
            >= 0.65
        )
        .select("corpus_id", "benchmark_id")
        .collect()
    }
    rare_content = {p for p, f in planted.items() if f != "boiler"}
    assert rare_content <= truth  # the planted paraphrases ARE leaks
    assert (5003, 9003) in truth  # and so is the boilerplate pair

    got = {
        (r["corpus_id"], r["benchmark_id"])
        for r in sim.semantic_contamination(corpus, bench, threshold=0.65)
        .collect()
    }
    # recall 1.0 on every rare-content truth pair
    assert rare_content <= got
    assert (truth - got) <= {(5003, 9003)} | {
        p for p in truth if p[0] >= 1000 and p[0] < 2000
    }
    # the designed blindspot, pinned: boilerplate-carried similarity is
    # excluded (every shared shingle's df exceeds the cap)
    assert (5003, 9003) not in got
