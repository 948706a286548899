"""End-to-end FullMatcherApp-shape integration over the fixture corpus."""

import tempfile
from collections import Counter

import pytest

from pyspark.sql import functions as F

from puma_matcher_spark.apps import run_full_matcher


@pytest.mark.slow
def test_full_matcher_publishes_to_jdbc(spark, sf_small):
    """The reference's actual deployment shape: the match pipeline's
    MATCH_CANDIDATE output is published over JDBC and read back with the
    partitioned scan — exercised against embedded Derby end-to-end."""
    from puma_matcher_spark.sources.jdbc import partitioned_jdbc_read, write_jdbc

    result = run_full_matcher(spark, sf_small, train_weights=False)
    out = result.candidates.select(
        F.col("pair_id").alias("PAIR_ID"),
        F.col("score_type").alias("SCORE_TYPE"),
        F.col("score").alias("SCORE"),
    )
    with tempfile.TemporaryDirectory() as root:
        url = f"jdbc:derby:{root}/db;create=true"
        props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
        write_jdbc(out, url, "match_candidate", mode="overwrite", properties=props)
        back = partitioned_jdbc_read(
            spark,
            url,
            "select pair_id, score_type, score from match_candidate",
            partition_column="PAIR_ID",
            num_partitions=8,
            properties=props,
        )
        assert back.count() == out.count()
        sent = out.agg(F.sum("SCORE")).first()[0]
        got = back.agg(F.sum("SCORE")).first()[0]
        assert abs(sent - got) < 1e-6


@pytest.mark.slow
def test_full_matcher_end_to_end(spark, sf_small):
    result = run_full_matcher(spark, sf_small)

    cand = result.candidates
    n = cand.count()
    assert n > 1000
    # canonical: one row per (pair, type), dv1 < dv2
    assert cand.where(
        F.col("document_version1_id") >= F.col("document_version2_id")
    ).count() == 0
    assert (
        cand.groupBy("pair_id", "score_type").count().where("count > 1").count() == 0
    )
    # multi-type filter semantics: person-only pairs are gone
    types_per_pair = cand.groupBy("pair_id").agg(
        F.collect_set("score_type").alias("ts")
    )
    person_only = types_per_pair.where(
        (F.size("ts") == 1) & F.array_contains("ts", "person")
    )
    assert person_only.count() == 0

    # stats cover every candidate document
    assert result.statistics.count() > 0
    stat_docs = {
        r["document_version_id"]
        for r in result.statistics.select("document_version_id").distinct().collect()
    }
    some_doc = cand.select(
        F.col("document_version1_id").alias("d")
    ).first()["d"]
    assert some_doc in stat_docs

    # weights: sum to 1 over the optimized types
    w = {r["score_type"]: r["weight"] for r in result.weights.collect()}
    assert abs(sum(w.values()) - 1.0) < 1e-9
    assert set(w) == {"person", "laboratory"}

    # totals exist for every surviving pair
    assert result.total_scores.count() == types_per_pair.count()


#: ceiling on the Spark jobs one matcher pass submits from its calling
#: thread (build plus collecting all four outputs).  A pass that computes
#: the shared candidate chain once runs ~23; one that re-derives it per
#: output runs ~230.
MATCHER_PASS_MAX_JOBS = 60

OUTPUTS = ("candidates", "statistics", "weights", "total_scores")


def _row_multiset(rows) -> Counter:
    """Rows as a multiset, floats rounded: a recompute may sum a shuffle's
    partial aggregates in another order."""
    return Counter(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in rows
    )


@pytest.fixture(scope="module")
def matcher_pass(spark, sf_small):
    """One cold ``run_full_matcher`` pass under its own job group, with
    all four outputs collected: ``(result, rows per output, job count)``.
    The creator pipeline's per-family threads do not inherit the group,
    so the count covers the pass's own thread: the saver, the weight
    training and the four collects."""
    from puma_matcher_spark.functions import caching

    caching.drain()
    sc = spark.sparkContext
    group = "test-apps-matcher-pass"
    sc.setJobGroup(group, "run_full_matcher pass")
    try:
        result = run_full_matcher(spark, sf_small)
        rows = {name: getattr(result, name).collect() for name in OUTPUTS}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_full_matcher_pass_outputs_and_job_count(matcher_pass):
    _, rows, n_jobs = matcher_pass
    cand = rows["candidates"]
    assert len(cand) > 1000
    assert all(r["document_version1_id"] < r["document_version2_id"] for r in cand)
    keys = [(r["pair_id"], r["score_type"]) for r in cand]
    assert len(keys) == len(set(keys))
    types_per_pair: dict = {}
    for r in cand:
        types_per_pair.setdefault(r["pair_id"], set()).add(r["score_type"])
    assert {"person"} not in types_per_pair.values()
    assert rows["statistics"]
    w = {r["score_type"]: r["weight"] for r in rows["weights"]}
    assert set(w) == {"person", "laboratory"}
    assert abs(sum(w.values()) - 1.0) < 1e-9
    assert len(rows["total_scores"]) == len(types_per_pair)
    assert n_jobs <= MATCHER_PASS_MAX_JOBS, (
        f"matcher pass ran {n_jobs} Spark jobs: the shared candidate chain "
        "is being recomputed per output"
    )


def test_cli_app_matcher_prints_every_output(sf_small, capsys):
    from puma_matcher_spark.__main__ import main

    assert main(["app", "matcher", "--sf-dir", sf_small]) == 0
    out = capsys.readouterr().out
    for name in OUTPUTS:
        assert f"{name}: " in out


def test_full_matcher_outputs_survive_cache_eviction(spark, matcher_pass):
    """The persisted intermediates keep their lineage: once every cache
    is dropped, the returned frames recompute the same rows."""
    from puma_matcher_spark.functions import caching

    result, rows, _ = matcher_pass
    caching.drain()
    spark.catalog.clearCache()
    for name in ("candidates", "total_scores"):
        assert _row_multiset(getattr(result, name).collect()) == _row_multiset(
            rows[name]
        )


@pytest.mark.slow
def test_curation_app_end_to_end(spark, sf_small, tmp_path):
    from puma_matcher_spark.apps import run_curation_app

    out = str(tmp_path / "clean_corpus")
    res = run_curation_app(spark, sf_small, out_root=out)
    c = res.stage_counts
    # monotone drops through the funnel
    assert c["input"] >= c["after_exact_dedup"] >= c["after_near_dedup"] >= c["after_quality"]
    assert c["after_quality"] > 0
    assert c["tokens_cut"] >= 0
    # the published corpus is partitioned by source and matches the frame
    import os

    assert any(d.startswith("source=") for d in os.listdir(out))
    back = spark.read.parquet(out)
    assert back.count() == res.clean.count() == c["after_quality"]
    assert set(back.columns) == {"doc_id", "lang", "source", "clean_text", "n_tokens_removed"}


#: Spark jobs of one sf0.001 curation app run.  The pipeline's stage
#: counts are observed inside jobs it runs anyway and a publish sums
#: ``tokens_cut`` from the written files (32-35 jobs); resolving the
#: counts with actions of their own cost 43-44 jobs without a publish
#: and 53 with one.
CURATION_APP_MAX_JOBS = 38
#: the llm_curation query folds the observed counts in as literals (26-27
#: jobs); scalar count subqueries over the stage frames cost 35
LLM_CURATION_MAX_JOBS = 31
#: curation_report never read the counts: its 27-28 jobs are the
#: pipeline's stage jobs plus the report aggregate, and observing adds
#: none
CURATION_REPORT_MAX_JOBS = 29
#: the sf0.001 documents through exact dedup, near dedup, the quality
#: gate, and the tokens the span cutting removes
CURATION_COUNTS = {
    "input": 500,
    "after_exact_dedup": 500,
    "after_near_dedup": 476,
    "after_quality": 476,
    "tokens_cut": 70,
}


def _jobs_of(spark, fn):
    """``(fn(), Spark jobs it ran)``, counted under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"test-apps-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_curation_counts_ride_existing_jobs(spark, sf_small, tmp_path):
    """The curation app returns the same counts and rows with and without
    a publish, the per-source report and the llm_curation query agree
    with those counts, and none of them spends a Spark job on counting."""
    from puma_matcher_spark.apps import run_curation_app
    from puma_matcher_spark.llmdata.pipeline import curation_report
    from puma_matcher_spark.queries import REGISTRY
    from puma_matcher_spark.sources.testdata import load_tables

    out_root = str(tmp_path / "published")
    runs = {
        "no publish": _jobs_of(
            spark, lambda: run_curation_app(spark, sf_small)
        ),
        "publish": _jobs_of(
            spark, lambda: run_curation_app(spark, sf_small, out_root=out_root)
        ),
    }
    rows = {}
    for label, (res, n_jobs) in runs.items():
        assert res.stage_counts == CURATION_COUNTS, label
        assert n_jobs <= CURATION_APP_MAX_JOBS, (label, n_jobs)
        rows[label] = sorted(tuple(r) for r in res.clean.collect())
    assert rows["publish"] == rows["no publish"]
    assert len(rows["publish"]) == CURATION_COUNTS["after_quality"]
    assert sum(r[-1] for r in rows["publish"]) == CURATION_COUNTS["tokens_cut"]
    published = spark.read.parquet(out_root).select(
        "doc_id", "lang", "source", "clean_text", "n_tokens_removed"
    )
    assert sorted(tuple(r) for r in published.collect()) == rows["publish"]

    docs = load_tables(spark, sf_small).llm_documents()
    report, n_jobs = _jobs_of(spark, lambda: curation_report(docs).collect())
    assert n_jobs <= CURATION_REPORT_MAX_JOBS, n_jobs
    by_outcome = Counter()
    for r in report:
        by_outcome[r["outcome"]] += r["n_docs"]
    c = CURATION_COUNTS
    # an outcome no document lands in has no report row
    assert by_outcome == +Counter(
        {
            "exact_dup": c["input"] - c["after_exact_dedup"],
            "near_dup": c["after_exact_dedup"] - c["after_near_dedup"],
            "low_quality": c["after_near_dedup"] - c["after_quality"],
            "accepted": c["after_quality"],
        }
    )

    llm, n_jobs = _jobs_of(
        spark, lambda: REGISTRY["llm_curation"].spark_fn(spark, sf_small).collect()
    )
    assert n_jobs <= LLM_CURATION_MAX_JOBS, n_jobs
    assert sorted(r["doc_id"] for r in llm) == [r[0] for r in rows["publish"]]
    stages = ("input", "after_exact_dedup", "after_near_dedup", "after_quality")
    assert {tuple(r[f"n_{s}"] for s in stages) for r in llm} == {
        tuple(c[s] for s in stages)
    }


def test_mllib_models_transform_after_observed_counts(spark, monkeypatch):
    """The observed counts must not leave the session unable to ship an
    MLlib model: a registered ``pyspark.sql.Observation`` makes every
    model with a training summary fail to serialize (Spark 4.1)."""
    from puma_matcher_spark.llmdata.pipeline import curate_documents
    from puma_matcher_spark.operators import graph
    from puma_matcher_spark.operators.dedup import connected_components
    from puma_matcher_spark.operators.instrument_ml import train_rf_classifier

    # the loop observes its graph sizes; the driver path observes nothing
    monkeypatch.setattr(graph, "BROADCAST_NODES_MAX", 0)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "tiny")],
        ["doc_id", "text"],
    )
    assert curate_documents(docs).stage_counts["after_quality"] == 1
    edges = spark.createDataFrame([(2, 1)], "id1 LONG, id2 LONG")
    assert connected_components(edges).count() == 2
    rows = [(float(i % 2), float(i % 2) * 10 + (i % 3) * 0.1) for i in range(60)]
    _, acc = train_rf_classifier(
        spark.createDataFrame(rows, ["label", "f1"]), ["f1"], num_trees=3
    )
    assert acc > 0.95


def test_cli_list_and_oracle(capsys):
    from puma_matcher_spark.__main__ import main

    assert main(["list", "events_trend"]) == 0
    out = capsys.readouterr().out
    assert "events_trend" in out and "[oracle]" in out
    assert main(["oracle", "events_trend"]) == 0
    assert "regr_slope" in capsys.readouterr().out
    assert main(["oracle", "nope_not_real"]) == 2
    # pagerank_top gained a full oracle in r10; pic_clusters stays the
    # canonical rows-only example
    assert main(["oracle", "pagerank_top"]) == 0
    assert main(["oracle", "pic_clusters"]) == 1  # rows-only


def test_cli_run_and_explain(spark, sf_small, capsys):
    from puma_matcher_spark.__main__ import main

    assert main(["run", "events_trend", "--sf-dir", sf_small, "--limit", "3"]) == 0
    out = capsys.readouterr().out
    assert "rows total" in out and "event_type" in out
    assert main(["explain", "large_orders", "--sf-dir", sf_small]) == 0
    assert "Physical Plan" in capsys.readouterr().out
    assert main(["run", "nope", "--sf-dir", sf_small]) == 2


@pytest.mark.slow
def test_curation_app_via_manifest_text_connector(spark, tmp_path):
    """Round 6 (VERDICT r5 #7): the native manifest_text DataSource must
    carry a REAL pipeline — the curation app ingests through the
    connector, derives lang/source, and the planner pushdown prunes a
    missing file behind a filtered-out doc_id BEFORE open (strict=True
    would crash if the entry were stat-ed: the e2e pushdown probe)."""
    from puma_matcher_spark.apps import run_curation_app

    src_dir = tmp_path / "journals"
    src_dir.mkdir()
    texts = {
        1: "the detector measured the neutron flux during the first cycle "
           "and the instrument recorded stable count rates all night",
        2: "the detector measured the neutron flux during the first cycle "
           "and the instrument recorded stable count rates all night",  # exact dup of 1
        3: "a beam of cold neutrons scattered from the deuterated sample "
           "while the spectrometer resolved the small energy transfers",
        4: "tiny doc",
        5: "scientists analysed the diffraction patterns carefully and "
           "the software processed the raw data within a few minutes",
    }
    lines = ["doc_id,file_path"]
    for did, text in texts.items():
        p = src_dir / f"doc_{did}.txt"
        p.write_text(text)
        lines.append(f"{did},{p}")
    # pushdown probe: entry 999 points at a file that DOES NOT EXIST;
    # with doc_ids filtering it out, pushFilters prunes it pre-open
    lines.append(f"999,{src_dir / 'missing.txt'}")
    manifest = tmp_path / "manifest.csv"
    manifest.write_text("\n".join(lines) + "\n")

    out = str(tmp_path / "clean_manifest_corpus")
    res = run_curation_app(
        spark,
        source="manifest_text",
        manifest=str(manifest),
        doc_ids=[1, 2, 3, 4, 5],
        out_root=out,
    )
    c = res.stage_counts
    assert c["input"] == 5
    assert c["after_exact_dedup"] == 4      # doc 2 is an exact dup
    assert c["after_quality"] == 3          # doc 4 fails min_tokens
    rows = {r["doc_id"]: r for r in res.clean.collect()}
    assert set(rows) == {1, 3, 5}
    assert all(r["source"] == "journals" for r in rows.values())
    assert all(r["lang"] == "en" for r in rows.values())
    # without the doc_ids filter the missing file MUST fail strict reads
    # (proves the pass above really was pruned by pushdown, not tolerated)
    import pytest as _pytest

    with _pytest.raises(Exception):
        run_curation_app(
            spark, source="manifest_text", manifest=str(manifest)
        ).clean.count()


@pytest.mark.slow
def test_streaming_ingest_app_end_to_end(spark, tmp_path):
    """Round 6: the manifest_text stream reader feeding the incremental
    admission pipeline — micro-batch 1 admits fresh docs and drops the
    corpus duplicate; an appended manifest row arrives as its OWN
    micro-batch (offsets held in the checkpoint) and lands in a separate
    idempotent batch_id partition."""
    from puma_matcher_spark.apps import run_streaming_ingest_app

    src = tmp_path / "incoming"
    src.mkdir()
    corpus = spark.createDataFrame(
        [(100, "the reactor produces thermal neutrons continuously for the instruments")],
        ["doc_id", "text"],
    )
    texts = {
        1: "the reactor produces thermal neutrons continuously for the instruments",  # dup of corpus
        2: "a fresh document about careful calibration of the new detectors arriving today",
        3: "tiny",  # fails min_tokens
    }
    lines = ["doc_id,file_path"]
    for did, t in texts.items():
        p = src / f"doc_{did}.txt"
        p.write_text(t, encoding="utf-8")
        lines.append(f"{did},{p}")
    manifest = tmp_path / "manifest.csv"
    manifest.write_text("\n".join(lines) + "\n", encoding="utf-8")
    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")

    q = run_streaming_ingest_app(spark, str(manifest), corpus, out, ckpt)
    q.awaitTermination(180)
    first = spark.read.parquet(out)
    assert {r["doc_id"] for r in first.collect()} == {2}

    # append one more document -> drained as its own micro-batch
    extra = src / "doc_4.txt"
    extra.write_text(
        "another genuinely novel document describing the spectrometer upgrade plans",
        encoding="utf-8",
    )
    with open(manifest, "a", encoding="utf-8") as fh:
        fh.write(f"4,{extra}\n")
    q2 = run_streaming_ingest_app(spark, str(manifest), corpus, out, ckpt)
    q2.awaitTermination(180)
    after = spark.read.parquet(out)
    assert {r["doc_id"] for r in after.collect()} == {2, 4}
    # batch_id partitioning: the second admission landed in its own dir
    import os

    parts = {d for d in os.listdir(out) if d.startswith("batch_id=")}
    assert len(parts) >= 2

    # cross-batch dedup (ADVICE r6): an exact copy of the batch-1
    # admission arriving in a LATER micro-batch must be rejected against
    # the accepted sink, not just the static corpus snapshot
    dup = src / "doc_5.txt"
    dup.write_text(texts[2], encoding="utf-8")
    with open(manifest, "a", encoding="utf-8") as fh:
        fh.write(f"5,{dup}\n")
    q3 = run_streaming_ingest_app(spark, str(manifest), corpus, out, ckpt)
    q3.awaitTermination(180)
    final = spark.read.parquet(out)
    assert {r["doc_id"] for r in final.collect()} == {2, 4}


@pytest.mark.slow
def test_streaming_ingest_replay_is_idempotent_with_index(spark, tmp_path):
    """Round 8: a crash-REPLAYED micro-batch must (a) not self-reject
    against its own previous output — the batch_id < current filter on
    BOTH the doc sink and the _index components — and (b) rewrite its
    partitions instead of duplicating rows.  Simulate a replay by
    deleting the checkpoint after a drain (offsets forgotten => the same
    manifest rows re-deliver as batch 0 again) while the sink and index
    keep batch 0's output."""
    import shutil

    from puma_matcher_spark.apps import run_streaming_ingest_app

    src = tmp_path / "incoming"
    src.mkdir()
    corpus = spark.createDataFrame(
        [(900, "static corpus doc about spectrometer baseline drift here")],
        ["doc_id", "text"],
    )
    texts = {
        1: "a fresh document about careful calibration of the new detectors arriving today",
        2: "another genuinely novel document describing the spectrometer upgrade plans",
    }
    lines = ["doc_id,file_path"]
    for did, t in texts.items():
        p = src / f"doc_{did}.txt"
        p.write_text(t, encoding="utf-8")
        lines.append(f"{did},{p}")
    manifest = tmp_path / "manifest.csv"
    manifest.write_text("\n".join(lines) + "\n", encoding="utf-8")
    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")

    q = run_streaming_ingest_app(spark, str(manifest), corpus, out, ckpt)
    q.awaitTermination(180)
    first = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert first == {1, 2}

    # forget offsets: the replayed run re-delivers the same rows as the
    # same batch id, with the previous sink + index still on disk
    shutil.rmtree(ckpt)
    q2 = run_streaming_ingest_app(spark, str(manifest), corpus, out, ckpt)
    q2.awaitTermination(180)
    rows = spark.read.parquet(out).collect()
    assert {r["doc_id"] for r in rows} == {1, 2}
    assert len(rows) == 2  # overwrite, not append: no duplicated rows
    # the index partitions were rewritten, not duplicated
    fp = spark.read.parquet(f"{out}/_index/fingerprints")
    assert fp.count() == 2


@pytest.mark.slow
def test_streaming_ingest_index_compaction_bounds_dirs(spark, tmp_path):
    """Round 9: with index_compact_every=2 the per-batch _index
    partitions fold into one merged partition every other batch, the
    directory count stays bounded, and cross-batch dedup still rejects
    a duplicate of a doc whose index rows were FOLDED (the merged
    batch_id relabel keeps them visible to later batches)."""
    import os

    from puma_matcher_spark.apps import run_streaming_ingest_app

    src = tmp_path / "incoming"
    src.mkdir()
    corpus = spark.createDataFrame(
        [(900, "static corpus doc about spectrometer baseline drift here")],
        ["doc_id", "text"],
    )
    manifest = tmp_path / "manifest.csv"
    manifest.write_text("doc_id,file_path\n", encoding="utf-8")
    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")
    texts = [
        "a fresh document about careful calibration of the new detectors arriving today",
        "another genuinely novel document describing the spectrometer upgrade plans",
        "a third completely unrelated note on cryostat maintenance schedules this winter",
    ]

    def drain(did, text):
        p = src / f"doc_{did}.txt"
        p.write_text(text, encoding="utf-8")
        with open(manifest, "a", encoding="utf-8") as fh:
            fh.write(f"{did},{p}\n")
        q = run_streaming_ingest_app(
            spark, str(manifest), corpus, out, ckpt, index_compact_every=2
        )
        assert q.awaitTermination(180)

    for i, t in enumerate(texts):
        drain(i + 1, t)  # batches 0,1,2 (the batch-1 fold is a no-op:
        #                  only batch 0 is committed-and-foldable there)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 2, 3}
    # duplicate of the batch-0 doc arrives as batch 3; batch 3 also
    # triggers the fold of committed batches 0-2 into batch_id=2
    drain(4, texts[0])
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 2, 3}
    for c in ("fingerprints", "band_keys", "shingles"):
        dirs = sorted(
            e
            for e in os.listdir(f"{out}/_index/{c}")
            if e.startswith("batch_id=")
        )
        # batch 3 admitted nothing, so its empty partition carries no
        # rows and the fold rewrite drops it — only the merged dir stays
        assert dirs == ["batch_id=2"], (c, dirs)
    # duplicate of a doc whose index rows were FOLDED (relabelled to
    # batch_id=2) must still be rejected by the later batch 4
    drain(5, texts[2])
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 2, 3}
    # and the dir count stays bounded: merged + at most one per batch
    # since the last fold
    for c in ("fingerprints", "band_keys", "shingles"):
        n_dirs = sum(
            1
            for e in os.listdir(f"{out}/_index/{c}")
            if e.startswith("batch_id=")
        )
        assert n_dirs <= 3, c
