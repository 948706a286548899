"""End-to-end tests for the incremental-ingest app: a batch containing an
exact duplicate of a corpus doc, a near-duplicate, a short junk doc and
genuinely new docs must admit exactly the new docs, drop each reject at
the right stage, and count every stage inside jobs the admission runs
anyway."""

from __future__ import annotations

import uuid

import pytest

from puma_matcher_spark.apps import run_incremental_ingest_app
from puma_matcher_spark.llmdata.dedup import build_dedup_index

#: Spark jobs of admitting the six-doc batch below and writing the
#: accepted docs: the exact, near-dup and quality stage checkpoints, the
#: batch shingles' partition probe and the write ran 36.  Re-deriving
#: the exact-dedup survivors at every stage that read them, with a count
#: action per stage, ran 85.
INGEST_ADMIT_MAX_JOBS = 38

SCHEMA = "doc_id LONG, text STRING, lang STRING, source STRING"
CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today", "en", "src0"),
    (2, "completely different corpus content about spark query engines and shuffles here", "en", "src0"),
]


def _jobs_of(spark, fn):
    """``(fn(), Spark jobs it ran)``, counted under a job group of its own."""
    sc = spark.sparkContext
    group = f"test-ingest-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _index(spark):
    corpus = spark.createDataFrame(CORPUS, SCHEMA)
    return build_dedup_index(corpus.select("doc_id", "text"))


def test_ingest_admission_stages_counts_and_jobs(spark, tmp_path):
    batch = spark.createDataFrame(
        [
            # exact dup of corpus doc 1
            (101, CORPUS[0][1], "en", "src1"),
            # near-dup of corpus doc 2 (one word changed)
            (102, "completely different corpus content about spark query engines and exchanges here", "en", "src1"),
            # junk: below the token floor
            (103, "too short", "en", "src1"),
            # genuinely new
            (104, "entirely novel document text with plenty of fresh tokens to pass every quality gate applied", "en", "src1"),
            (105, "a second fresh note about detector calibration schedules for the coming winter season", "en", "src1"),
            # exact dup of 104 inside the batch: the lower doc_id stays
            (106, "entirely novel document text with plenty of fresh tokens to pass every quality gate applied", "en", "src1"),
        ],
        SCHEMA,
    )
    index = _index(spark)
    out = str(tmp_path / "accepted")

    def admit():
        res = run_incremental_ingest_app(
            batch, index, jaccard_threshold=0.5, min_tokens=5
        )
        res.accepted.write.mode("overwrite").parquet(out)
        return res

    res, n_jobs = _jobs_of(spark, admit)
    assert res.stage_counts == {
        "batch_in": 6,
        "after_exact": 4,  # 101 and 106 dropped
        "after_near_dup": 3,  # 102 dropped
        "accepted": 2,  # 103 dropped
    }
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == [104, 105]
    assert n_jobs <= INGEST_ADMIT_MAX_JOBS, n_jobs


def test_ingest_batch_dropped_whole_at_the_exact_stage(spark):
    """When no batch doc survives exact dedup, every later stage is empty
    at run time; the counts still come back exact."""
    batch = spark.createDataFrame(
        [(201, CORPUS[0][1], "en", "src1"), (202, CORPUS[1][1], "en", "src1")],
        SCHEMA,
    )
    res = run_incremental_ingest_app(batch, _index(spark), 0.8, 5)
    assert res.stage_counts == {
        "batch_in": 2,
        "after_exact": 0,
        "after_near_dup": 0,
        "accepted": 0,
    }
    assert res.accepted.collect() == []


@pytest.mark.slow
def test_ingest_app_on_fixture_is_monotone(spark, sf_small):
    from pyspark.sql import functions as F

    from puma_matcher_spark.sources.testdata import load_tables

    docs = load_tables(spark, sf_small).llm_documents()
    batch = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    res = run_incremental_ingest_app(
        batch, build_dedup_index(corpus.select("doc_id", "text"))
    )
    c = res.stage_counts
    assert c["batch_in"] >= c["after_exact"] >= c["after_near_dup"] >= c["accepted"]
    assert c["accepted"] > 0
    assert res.accepted.count() == c["accepted"]
