"""Plan inspection, scan spreading, publish, instrument analysers."""

import pytest

import os
import tempfile

from pyspark.sql import functions as F

from puma_matcher_spark.operators import instrument as instr
from puma_matcher_spark.plans import inspect as pi
from puma_matcher_spark.sources import publish


def test_flagship_plan_has_no_cartesian_and_prunes_columns(spark, sf_small):
    from puma_matcher_spark.queries import REGISTRY

    df = REGISTRY["match_candidates"].spark_fn(spark, sf_small)
    pi.assert_no_cartesian(df, "match_candidates")
    # the entity chain must never read lineitem's price columns
    pi.assert_column_pruned(df, "lineitem", "l_extendedprice")


def test_pricing_summary_pushes_filter_to_scan(spark, sf_small):
    from puma_matcher_spark.queries import REGISTRY

    df = REGISTRY["pricing_summary"].spark_fn(spark, sf_small)
    pushed = " ".join(p for p in pi.pushed_filters(df))
    assert "l_shipdate" in pushed


def test_publish_blue_green_swap(spark):
    with tempfile.TemporaryDirectory() as root:
        df1 = spark.createDataFrame([(1, "a")], ["id", "val"])
        publish.publish(df1, root)
        assert publish.read_live(spark, root).first()["val"] == "a"
        df2 = spark.createDataFrame([(1, "b")], ["id", "val"])
        publish.publish(df2, root)
        assert publish.read_live(spark, root).first()["val"] == "b"
        # old version retained exactly one generation back
        assert os.path.isdir(os.path.join(root, "old"))


def test_instrument_mentions_and_guard(spark):
    tokens = spark.createDataFrame(
        [(d, p, w) for d, p, w in [
            (1, 0, "in5"), (1, 1, "data"), (2, 0, "in5"),
            (3, 0, "d22"), (4, 0, "common"), (5, 0, "common"),
            (6, 0, "common"), (7, 0, "common"),
        ]],
        ["document_version_id", "pos", "word"],
    )
    aliases = spark.createDataFrame(
        [(100, "IN5"), (200, "D22"), (300, "common")],
        ["instrument_id", "alias"],
    )
    mentions = instr.instrument_mentions(tokens, aliases)
    assert mentions.count() == 7
    rollup = {
        (r["document_version_id"], r["instrument_id"]): r["mention_count"]
        for r in instr.document_instruments(mentions).collect()
    }
    assert rollup[(1, 100)] == 1


def test_person_technique_probability_hand_computed(spark):
    """P8 model on a tiny fixture: person 1 sees technique A twice and
    B once → P(A)=2/3, P(B)=1/3 (PersonTechniqueFilter.scala:49-62)."""
    tech = spark.createDataFrame(
        [(10, "A"), (11, "A"), (12, "B")],
        ["document_version_id", "technique_id"],
    )
    pers = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 1), (12, 2)],
        ["document_version_id", "person_id"],
    )
    model = {
        (r["person_id"], r["technique_id"]): (
            r["person_technique_count"],
            r["person_total_technique_count"],
            r["person_technique_probability"],
        )
        for r in instr.person_technique_probability(tech, pers).collect()
    }
    assert model[(1, "A")] == (2, 3, 2 / 3)
    assert model[(1, "B")] == (1, 3, 1 / 3)
    assert model[(2, "B")] == (1, 1, 1.0)


def test_mapside_operators_shuffle_budget(spark, sf_small):
    """Scale-shape invariants for the round-3 operators: the map-side
    shingle/fingerprint kernels must plan ZERO exchanges (their whole
    point — the heavy work pipelines with the scan), packing exactly one
    (the per-source running-total window), entropy at most two (the
    (doc, char) aggregation + the per-doc window; the final per-doc
    aggregate must reuse the window's partitioning).  num_shuffles
    counts each Exchange node twice in formatted plans (tree + detail
    line), hence the doubled budgets."""
    from puma_matcher_spark.llmdata import dedup as dd
    from puma_matcher_spark.llmdata.packing import sequence_packing
    from puma_matcher_spark.llmdata.textstats import char_entropy
    from puma_matcher_spark.operators.skew import spread_input
    from puma_matcher_spark.sources.testdata import load_tables

    docs = load_tables(spark, sf_small).llm_documents()
    # the shingle kernel's only exchange is spread_input's round-robin
    assert pi.num_shuffles(dd.shingles(docs)) == pi.num_shuffles(
        spread_input(docs)
    )
    assert pi.num_shuffles(dd.simhash64(docs)) == 0
    assert pi.num_shuffles(sequence_packing(docs)) <= 2
    assert pi.num_shuffles(char_entropy(docs)) <= 4


@pytest.mark.slow
def test_plan_sweep_no_accidental_cartesians(spark, sf_small):
    """Every registered query must plan without a cartesian product,
    except those that are intentionally all-pairs at fixture scale."""
    from puma_matcher_spark.queries import REGISTRY

    intentionally_quadratic = {
        "embedding_topk",       # brute-force baseline (broadcast query set)
        "embedding_near_dups",  # exact all-pairs baseline
        "ivf_recall",           # compares IVF against the brute-force baseline
        "embedding_dup_clusters",  # clusters over the exact all-pairs baseline
        "centroid_confusion",   # K-row centroid broadcast (bounded by labels)
        "embedding_int8_topk",  # quantized scan, broadcast query set
        "embedding_prefix_rerank",  # coarse stage scans corpus × broadcast queries
    }
    skip_heavy = {"picture_lsh_pairs", "embedding_ivf_topk", "pic_cluster_quality"}
    failures = []
    for name, spec in REGISTRY.items():
        if name in intentionally_quadratic or name in skip_heavy:
            continue
        df = spec.spark_fn(spark, sf_small)
        if pi.has_cartesian(df):
            failures.append(name)
    assert not failures, f"cartesian in plans: {failures}"


def test_no_forced_broadcast_on_unbounded_frames(spark, sf_small):
    """The per-doc / vocabulary frames in the text-match and n-gram
    Jaccard family grow linearly with the corpus, so they must NOT carry
    explicit broadcast hints (a hint forces a broadcast regardless of
    runtime size → driver/executor OOM at 100 TB).

    With autoBroadcastJoinThreshold=-1 the only way a BroadcastExchange
    can appear in these plans is an explicit hint, so asserting zero
    BroadcastExchange under that setting proves the hints are gone while
    leaving AQE free to broadcast at real runtime sizes.
    """
    from puma_matcher_spark.llmdata.dedup import ngram_jaccard_pairs
    from puma_matcher_spark.operators import textmatch as tm
    from puma_matcher_spark.sources.testdata import load_tables

    docs = load_tables(spark, sf_small).llm_documents()
    docs_dv = docs.select(
        F.col("doc_id").alias("document_version_id"),
        F.col("text"),
        F.col("text").alias("title"),
    )
    frames = {
        "text_match_scores": lambda: tm.text_match_scores(docs_dv),
        "single_word_scores": lambda: tm.single_word_scores(docs_dv),
        "rare_words": lambda: tm.rare_words(docs_dv),
        "cosine_title_matches": lambda: tm.cosine_title_matches(docs_dv),
        "ngram_jaccard_pairs": lambda: ngram_jaccard_pairs(docs),
    }
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        offenders = {
            name: pi.count_occurrences(make(), "BroadcastExchange")
            for name, make in frames.items()
        }
        offenders = {n: c for n, c in offenders.items() if c > 0}
        assert not offenders, f"forced broadcasts in: {offenders}"
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_no_forced_broadcast_in_scoring_filter_and_tpch_plans(spark, sf_small):
    """Same invariant for the entity-scoring spine, the filter chain, and
    the TPC-H anchors: the idf / per-doc-count / document-dim / customer /
    supplier frames all grow with the corpus, so none may carry a forced
    broadcast hint.  Only fixed-cardinality dims (nation=25, region=5) keep
    hints — local_supplier_volume is allowed exactly those two.

    The scoring spine is built by ``scorer.scored_entity_candidates``
    directly (not via the registry) because the registry memoizes +
    persists the candidate frame: an InMemoryRelation compiled earlier in
    the pytest session under the default threshold would leak stale
    BroadcastExchange nodes into this test's explain output."""
    from puma_matcher_spark.operators import scorer as sc
    from puma_matcher_spark.queries import REGISTRY
    from puma_matcher_spark.sources.testdata import load_tables

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # CacheManager splices persisted InMemoryRelations into any new
        # plan whose logical subtree matches — a candidate frame persisted
        # by an earlier test was compiled under the default threshold and
        # would leak its BroadcastExchange nodes into this explain.
        spark.catalog.clearCache()

        scored = sc.scored_entity_candidates(
            load_tables(spark, sf_small).entities(), "person"
        )

        offenders = {
            "entity_scoring_spine": pi.count_occurrences(
                scored, "BroadcastExchange"
            ),
            "shipping_priority": pi.count_occurrences(
                REGISTRY["shipping_priority"].spark_fn(spark, sf_small),
                "BroadcastExchange",
            ),
        }
        offenders = {n: c for n, c in offenders.items() if c > 0}
        assert not offenders, f"forced broadcasts in: {offenders}"
        q5 = REGISTRY["local_supplier_volume"].spark_fn(spark, sf_small)
        # formatted explain names each node in the tree AND in the detail
        # section — count detail headers "(n) BroadcastExchange" to get the
        # physical node count (nation + region hints = at most 2 nodes).
        import re

        n_nodes = len(
            re.findall(r"\(\d+\) BroadcastExchange", pi.formatted_plan(q5))
        )
        assert n_nodes <= 2, f"{n_nodes} BroadcastExchange nodes in Q5 plan"
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_absolute_frequency_cap_at_reference_threshold(spark):
    """An entity in >2000 docs must be dropped by the absolute guard
    even when the relative guard would admit it."""
    from puma_matcher_spark.operators import matcher as m

    rows = [(d, 1) for d in range(2001)] + [(1, 2), (2, 2)]
    ents = spark.createDataFrame(rows, ["document_version_id", "entity_id"])
    tf = m.entity_tf(ents)
    capped = m.cap_entity_frequency(tf, max_occurrence=2000, relative_cap_docs=None)
    kept = {r["entity_id"] for r in capped.select("entity_id").distinct().collect()}
    assert kept == {2}
    pairs = m.entity_pairs(capped)
    assert pairs.count() == 1  # linear, not 2001*2000/2


def test_partitioned_sink_prunes_partitions(spark, tmp_path):
    from puma_matcher_spark.operators.persister import persist_partitioned

    # every source spread over all 4 input partitions
    df = spark.createDataFrame(
        [(i, f"src{i % 4}", float(i)) for i in range(100)],
        ["doc_id", "source", "v"],
    ).repartition(4)
    assert df.rdd.getNumPartitions() == 4
    path = str(tmp_path / "part")
    persist_partitioned(df, path, ["source"])
    # four partition directories exist, each written by one task
    dirs = {d for d in os.listdir(path) if d.startswith("source=")}
    assert dirs == {f"source=src{i}" for i in range(4)}
    parts = {
        d: [f for f in os.listdir(os.path.join(path, d)) if f.startswith("part-")]
        for d in dirs
    }
    assert all(len(p) == 1 for p in parts.values()), parts
    # a filter on the partition column reaches PartitionFilters (pruning
    # whole directories), not just PushedFilters
    rd = spark.read.parquet(path).where(F.col("source") == "src1")
    pf = pi.partition_filters(rd)
    assert pf and any("src1" in line for line in pf), pf
    assert rd.count() == 25
