"""Unit tests for the matching spine on tiny hand-computed frames."""

import math

import pytest
from pyspark.sql import functions as F

from puma_matcher_spark.operators import filters as flt
from puma_matcher_spark.operators import matcher as m
from puma_matcher_spark.operators import scorer as sc
from puma_matcher_spark.operators.persister import canonicalize_pairs, dedup_candidates


def _entities(spark, rows):
    return spark.createDataFrame(rows, ["document_version_id", "entity_id"])


def test_entity_tf_counts_mentions(spark):
    tf = m.entity_tf(_entities(spark, [(1, 10), (1, 10), (1, 11), (2, 10)]))
    got = {(r["document_version_id"], r["entity_id"]): r["tf"] for r in tf.collect()}
    assert got == {(1, 10): 2, (1, 11): 1, (2, 10): 1}


def test_entity_pairs_canonical_and_complete(spark):
    # entity 10 in docs 1,2,3 → pairs (1,2),(1,3),(2,3); entity 11 only doc 1
    tf = m.entity_tf(_entities(spark, [(1, 10), (2, 10), (3, 10), (1, 11)]))
    pairs = m.entity_pairs(tf).collect()
    got = {(r["document_version1_id"], r["document_version2_id"]) for r in pairs}
    assert got == {(1, 2), (1, 3), (2, 3)}
    assert all(
        r["document_version1_id"] < r["document_version2_id"] for r in pairs
    )


def test_frequency_guard_drops_hot_entities(spark):
    # entity 99 occurs in 30 docs; with relative_cap_docs=60 (threshold 3)
    # it must be pruned; entity 10 (2 docs, df < 3) survives.
    rows = [(d, 99) for d in range(30)] + [(1, 10), (2, 10)]
    tf = m.entity_tf(_entities(spark, rows))
    capped = m.cap_entity_frequency(tf, max_occurrence=2000, relative_cap_docs=60)
    kept = {r["entity_id"] for r in capped.select("entity_id").distinct().collect()}
    assert kept == {10}
    # absolute cap alone
    capped2 = m.cap_entity_frequency(tf, max_occurrence=10, relative_cap_docs=None)
    kept2 = {r["entity_id"] for r in capped2.select("entity_id").distinct().collect()}
    assert kept2 == {10}


def test_scorer_formula_hand_computed(spark):
    # docs 1,2 share entity 10 (tf 1 each); 4 docs total, df(10)=2
    # raw = (1+1)*log10(4/2); n1=n2=1, common=1
    # score = raw * (1 + 3*1*(0.5/1+0.5/1)) = raw * 4
    ents = _entities(spark, [(1, 10), (2, 10), (3, 11), (4, 12)])
    tf = m.entity_tf(ents)
    pairs = m.entity_pairs(tf)
    scored = sc.score_entity_pairs(
        sc.with_idf(pairs, tf, 4), tf, "person", 1
    ).collect()
    assert len(scored) == 1
    r = scored[0]
    expected = 2 * math.log10(2.0) * 4
    assert abs(r["score"] - expected) < 1e-12
    assert r["pair_id"] == 1 * 1_000_000 + 2
    assert r["id"] == (1 * 1_000_000 + 2) * 100 + 1
    assert r["item_count"] == 2

    # the whole builder: 42 docs, so entity 10 (df 2 < 42/20) survives the
    # relative cap and entity 99 (df 3) does not; n1 = n2 = 2 count both
    # entities, so score = 2*log10(42/2) * (1 + 3*(0.5/2 + 0.5/2))
    rows = [(1, 10), (2, 10), (1, 99), (2, 99), (3, 99)]
    rows += [(d, 1000 + d) for d in range(3, 43)]
    built = sc.scored_entity_candidates(_entities(spark, rows), "laboratory")
    (r,) = built.collect()
    assert abs(r["score"] - 2 * math.log10(21.0) * 2.5) < 1e-12
    assert r["id"] == (1 * 1_000_000 + 2) * 100 + 10
    assert (r["score_type"], r["item_count"]) == ("laboratory", 2)


def test_scored_candidates_match_oracle_when_caps_bind(spark):
    """The fixtures never reach the frequency caps, so registry parity
    cannot tell a builder that skips them.  Here hub entity 99 sits in
    10 of N=60 documents (N/20 = 3): the builder must drop it exactly as
    the oracle's ``_tf_chain`` does, or its 45 hub pairs appear and the
    pairs that also share another entity, (4, 5) and (6, 7), score
    higher."""
    import duckdb
    import pandas as pd

    from puma_matcher_spark.queries import _tf_chain

    rows = [(d, 99) for d in range(1, 11)]  # the hub: df 10 >= 60/20
    rows += [(1, 10), (2, 10), (2, 11), (2, 11), (3, 11), (1, 12), (3, 12)]
    rows += [(4, 13), (5, 13), (5, 13), (6, 14), (7, 14)]
    rows += [(d, 1000 + d) for d in range(11, 61)]  # N = 60 documents
    built = sc.scored_entity_candidates(_entities(spark, rows), "person")
    got = {
        (r["document_version1_id"], r["document_version2_id"]): (
            r["score"],
            r["item_count"],
        )
        for r in built.collect()
    }

    con = duckdb.connect()
    con.register(
        "entities",
        pd.DataFrame(rows, columns=["document_version_id", "entity_id"]),
    )
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(
            f"WITH {_tf_chain('p_', 'entities')} "
            "SELECT document_version1_id, document_version2_id, score, "
            "item_count FROM p_cand"
        ).fetchall()
    }
    assert set(want) == {(1, 2), (1, 3), (2, 3), (4, 5), (6, 7)}
    assert set(got) == set(want)
    for pair, (score, items) in want.items():
        assert got[pair][1] == items, pair
        assert math.isclose(got[pair][0], score, rel_tol=1e-12), pair


#: (document_version_id, document_type, date, obsolete) for the P2-P4
#: pair-filter cases; document 99 is missing from the dim
_DOC_ROWS = [
    (1, "PROPOSAL", "2020-01-01", False),
    (2, "PUBLICATION", "2021-01-01", False),
    (3, "PUBLICATION", "2019-01-01", False),
    (4, "PROPOSAL", "2020-06-01", True),
    (5, "PROPOSAL", "2021-01-01", False),
    (6, None, "2020-01-01", False),
    (7, "PUBLICATION", "2021-01-01", None),
    (8, "PUBLICATION", None, False),
    (9, "PROPOSAL", None, False),
]

#: (id, pair, kept): every dropped pair fails exactly one predicate
_PAIR_FILTER_CASES = [
    ("keeps-proposal-first", (1, 2), True),  # 2020 proposal, 2021 publication
    ("keeps-proposal-second", (2, 1), True),
    ("keeps-undated-proposal", (9, 2), True),  # counts as 1900
    ("p2-both-publication", (2, 3), False),
    ("p2-both-proposal", (1, 5), False),
    ("p3-publication-earlier", (1, 3), False),  # 2020 proposal, 2019 publication
    ("p3-undated-publication", (1, 8), False),  # counts as 1900
    ("p4-obsolete", (4, 2), False),
    ("null-type", (1, 6), False),
    ("null-obsolete", (1, 7), False),
    ("missing-doc", (1, 99), False),
]


def _docs(spark):
    return spark.createDataFrame(
        _DOC_ROWS,
        "document_version_id BIGINT, document_type STRING, date STRING, obsolete BOOLEAN",
    ).withColumn("date", F.col("date").cast("timestamp"))


@pytest.fixture(scope="module")
def pair_filter_kept(spark):
    """The pairs of every case that ``pair_filters`` keeps."""
    pairs = spark.createDataFrame(
        [(a, b, 0.5) for _, (a, b), _ in _PAIR_FILTER_CASES],
        "document_version1_id BIGINT, document_version2_id BIGINT, score DOUBLE",
    )
    out = flt.pair_filters(pairs, _docs(spark))
    assert out.columns == pairs.columns
    return {(r[0], r[1]) for r in out.collect()}


@pytest.mark.parametrize(
    "pair, kept",
    [(p, k) for _, p, k in _PAIR_FILTER_CASES],
    ids=[i for i, _, _ in _PAIR_FILTER_CASES],
)
def test_pair_filters(pair_filter_kept, pair, kept):
    assert (pair in pair_filter_kept) == kept


def test_pair_filters_match_the_oracle_where(pair_filter_kept):
    """The same cases through the DuckDB twin of ``match_candidates``:
    its join and ``WHERE`` keep exactly what ``pair_filters`` keeps."""
    import duckdb
    import pandas as pd

    from puma_matcher_spark.queries import REGISTRY

    twin = REGISTRY["match_candidates"].oracle
    con = duckdb.connect()
    con.register(
        "p_cand",
        pd.DataFrame(
            [p for _, p, _ in _PAIR_FILTER_CASES],
            columns=["document_version1_id", "document_version2_id"],
        ),
    )
    con.execute(
        "CREATE TABLE documents_dim (document_version_id BIGINT, "
        "document_type VARCHAR, date TIMESTAMP, obsolete BOOLEAN)"
    )
    con.executemany("INSERT INTO documents_dim VALUES (?, ?, ?, ?)", _DOC_ROWS)
    got = con.execute(
        "SELECT c.document_version1_id, c.document_version2_id "
        + twin[twin.index("FROM p_cand c"):]
    ).fetchall()
    assert set(got) == pair_filter_kept


def test_multiple_type_match_filter(spark):
    cand = spark.createDataFrame(
        [
            (1, 2, "person", 1.0),
            (1, 2, "laboratory", 1.0),
            (3, 4, "person", 1.0),
            (5, 6, "doi", 1.0),
        ],
        ["document_version1_id", "document_version2_id", "score_type", "score"],
    )
    out = flt.multiple_type_match_filter(cand, ["doi"])
    got = {
        (r["document_version1_id"], r["document_version2_id"], r["score_type"])
        for r in out.collect()
    }
    assert got == {(1, 2, "person"), (1, 2, "laboratory"), (5, 6, "doi")}


def test_canonicalize_and_dedup(spark):
    cand = spark.createDataFrame(
        [
            (7, 3, "person", 5.0, 2),
            (3, 7, "person", 9.0, 4),
            (3, 7, "doi", 1.0, 1),
        ],
        [
            "document_version1_id",
            "document_version2_id",
            "score_type",
            "score",
            "item_count",
        ],
    )
    out = dedup_candidates(canonicalize_pairs(cand))
    rows = {
        (r["pair_id"], r["score_type"]): (r["score"], r["item_count"])
        for r in out.collect()
    }
    pid = 3 * 1_000_000 + 7
    assert rows == {(pid, "person"): (9.0, 6), (pid, "doi"): (1.0, 1)}


def test_pipeline_fork_shares_results(spark):
    from puma_matcher_spark.pipeline import Pipeline, PipelineConfig, Stage

    def produce(config, inputs):
        return spark.createDataFrame([(1,)], ["x"])

    p1 = Pipeline("up", [Stage(name="s", input=[], output="out", fn=produce)])
    p1.run([PipelineConfig(name="a"), PipelineConfig(name="b")])
    p2 = p1.fork("down", [])
    assert p2.as_data_source("out").count() == 2


def test_as_data_source_unions_in_config_order(spark):
    """The cross-config union follows the ``configs`` list, not thread
    completion: the first config's stage finishes last here, and its
    rows must still come first."""
    import time

    from puma_matcher_spark.pipeline import Pipeline, PipelineConfig, Stage

    def produce(config, inputs):
        if config.name == "slow":
            time.sleep(2.0)
        return spark.createDataFrame([(config.name,)], ["cfg"])

    p = Pipeline("p", [Stage(name="s", input=[], output="out", fn=produce)])
    p.run([PipelineConfig(name="slow"), PipelineConfig(name="fast")])
    assert [r["cfg"] for r in p.as_data_source("out").collect()] == ["slow", "fast"]


def test_concurrent_query_invocation_thread_safe(spark, sf_small):
    # the driver may call queries from several threads at once
    from concurrent.futures import ThreadPoolExecutor

    from puma_matcher_spark.queries import REGISTRY

    names = ["entity_scores", "matcher_number", "score_pivot", "total_score"]
    with ThreadPoolExecutor(max_workers=4) as ex:
        futs = [
            ex.submit(lambda n=n: REGISTRY[n].spark_fn(spark, sf_small).count())
            for n in names
        ]
        counts = [f.result() for f in futs]
    assert all(c > 0 for c in counts)
    # the memo must hold exactly one frame per (app, sf, family) and
    # concurrent callers must receive the identical cached object
    from puma_matcher_spark.functions import caching
    from puma_matcher_spark.queries import _entity_candidates
    from puma_matcher_spark.sources.testdata import load_tables

    t = load_tables(spark, sf_small)
    app = spark.sparkContext.applicationId
    keys = [k for k in caching._MEMO if k[:3] == ("candidates", app, sf_small)]
    assert len(keys) == 2  # person + laboratory, no duplicates
    assert all(caching._MEMO[k].is_cached for k in keys)
    with ThreadPoolExecutor(max_workers=4) as ex:
        frames = [f.result() for f in [ex.submit(_entity_candidates, t) for _ in range(4)]]
    assert all(f is frames[0] for f in frames)


def test_reset_table_cache_releases_every_session_cache(spark, sf_small):
    """``reset_table_cache()`` must leave the CacheManager empty: the
    memoized candidate and edge frames AND the intermediates persisted
    while building them are released, and a query rebuilt afterwards
    returns the same rows."""
    from puma_matcher_spark.queries import REGISTRY
    from puma_matcher_spark.sources.testdata import reset_table_cache

    reset_table_cache()
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    rows = {
        name: REGISTRY[name].spark_fn(spark, sf_small).collect()
        for name in ("entity_scores", "match_stats", "pagerank_top")
    }
    assert all(rows.values())
    reset_table_cache()
    assert cm.isEmpty(), "a session cache outlived reset_table_cache()"
    rebuilt = REGISTRY["entity_scores"].spark_fn(spark, sf_small).collect()
    assert sorted(rebuilt) == sorted(rows["entity_scores"])


def test_fork_child_does_not_mutate_parent(spark):
    from puma_matcher_spark.pipeline import Pipeline, PipelineConfig, Stage

    def produce(v):
        def fn(config, inputs):
            return spark.createDataFrame([(v,)], ["x"])
        return fn

    p1 = Pipeline("up", [Stage(name="s", input=[], output="out", fn=produce(1))])
    p1.run([PipelineConfig(name="a")])
    child = p1.fork("down", [Stage(name="s2", input=[], output="out", fn=produce(2))])
    child.run([PipelineConfig(name="a")])  # same (config, output) key
    # parent still sees its own frame
    assert p1.as_data_source("out").first()["x"] == 1
    assert child.as_data_source("out").first()["x"] == 2


def test_asof_join_picks_latest_prior_row(spark):
    from puma_matcher_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 25, "p2"), (2, 5, "p3")],
        ["user_id", "ts", "label"],
    )
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 10, 200.0), (1, 20, 300.0), (2, 9, 400.0)],
        ["user_id", "ts", "v"],
    )
    rows = {r["label"]: r for r in asof_join(left, right).collect()}
    # p1 at ts=10: right rows at 8 and 10 -> inclusive tie picks ts=10
    assert rows["p1"]["asof_ts"] == 10 and rows["p1"]["asof_v"] == 200.0
    # p2 at ts=25: latest prior is ts=20
    assert rows["p2"]["asof_ts"] == 20 and rows["p2"]["asof_v"] == 300.0
    # p3 at ts=5: right row at 9 is AFTER -> no match
    assert rows["p3"]["asof_ts"] is None and rows["p3"]["asof_v"] is None


def test_asof_join_dedups_equal_ts_right_rows(spark):
    from puma_matcher_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], ["user_id", "ts"])
    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 10, 9.0)], ["user_id", "ts", "v"]
    )
    r = asof_join(left, right).first()
    assert r["asof_v"] == 9.0  # max payload per (key, ts) wins deterministically


def test_asof_join_no_payload_columns(spark):
    from puma_matcher_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10), (1, 3)], ["user_id", "ts"])
    right = spark.createDataFrame([(1, 5)], ["user_id", "ts"])
    rows = {r["ts"]: r["asof_ts"] for r in asof_join(left, right).collect()}
    assert rows == {10: 5, 3: None}


def test_asof_join_preserves_colliding_left_column(spark):
    from puma_matcher_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, 111.0)], ["user_id", "ts", "v"])
    right = spark.createDataFrame([(1, 5, 222.0)], ["user_id", "ts", "v"])
    r = asof_join(left, right).first()
    assert r["v"] == 111.0       # left's own column survives
    assert r["asof_v"] == 222.0  # right payload arrives under the prefix
