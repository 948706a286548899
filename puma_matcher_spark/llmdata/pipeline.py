"""End-to-end training-data curation pipeline over the documents table.

The 100 TB story this engine exists for: raw corpus → exact dedup →
near-dup removal → quality filtering → clean corpus + per-stage counts.
Each stage is one of the already-tested operators; this wires them the
way a production curation job would, with the drop accounting a data
pipeline needs for auditability.

Scale shape: exact dedup is one hash shuffle; near-dup candidates come
from MinHash-LSH band joins (never all-pairs); quality filters are
map-side row predicates.  The expensive order — dedup before quality —
follows the standard curation practice of deduping first so quality
thresholds see one vote per unique document.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from puma_matcher_spark.llmdata import dedup as dd
from puma_matcher_spark.llmdata import textstats as ts
from puma_matcher_spark.plans.inspect import observed_metrics


@dataclass
class CurationResult:
    clean: DataFrame
    # audit trail: docs after each stage, observed inside the stage
    # checkpoint jobs (no action of their own)
    stage_counts: dict
    # the checkpointed doc_id-only stage frames themselves
    # (keep_exact / drops / good) — consumers like curation_report build
    # on these instead of re-deriving the stages
    stage_ids: dict | None = None


def checkpoint_stage(
    rows: DataFrame, keep: Column, **counts: Column
) -> tuple[DataFrame, dict[str, int]]:
    """``(ids, counts)``: the ``doc_id``s of ``rows`` where ``keep``
    holds, localCheckpoint'ed, and the named ``counts`` aggregates over
    ``rows``, observed inside that checkpoint job.

    The observation sits at the top of the job: AQE replaces a subtree
    that turns out empty at run time (a stage whose rows all drop) with
    an empty relation, and an ``observe`` inside it would vanish with
    it.  So every count is an aggregate over ``rows`` (``count_if`` of
    a keep flag, a sum of group sizes), never an ``observe`` below a
    shuffle of the same job."""
    observed = rows.observe(
        "stage_counts", *(c.alias(name) for name, c in counts.items())
    )
    kept = observed.where(keep).select("doc_id")
    ids = kept.localCheckpoint()
    # the eager checkpoint ran kept's own query execution
    return ids, observed_metrics(kept)["stage_counts"]


def curate_documents(
    docs: DataFrame,
    min_tokens: int = 5,
    jaccard_threshold: float = 0.8,
) -> CurationResult:
    """Raw corpus → exact dedup → near-dup removal → quality gate
    (``min_tokens`` tokens and a distinct-token ratio of at least 0.05),
    with per-stage audit counts.

    The stage-result ID frames are localCheckpoint'ed (round 8 — the
    same barrier :func:`curation_report` carries): every downstream
    consumer of a stage (the next stage, the clean output, the report)
    otherwise re-derives that stage's whole DAG (measured: the
    llm_curation query 6.5 s → 2.9 s at sf0.1 with the barriers).  The
    checkpointed frames are doc_id-only.  The four audit counts are
    observed inside the exact-dedup and quality checkpoint jobs
    (:func:`checkpoint_stage`), so they cost no Spark job of their own,
    and an empty corpus counts zeros.
    """
    # 1. exact dedup — keep the min doc_id per content fingerprint; the
    #    input is the sum of the fingerprint groups
    keep_exact, exact_counts = checkpoint_stage(
        dd.exact_duplicates(docs).select(
            F.col("keep_id").alias("doc_id"), "doc_count"
        ),
        F.lit(True),
        input=F.coalesce(F.sum("doc_count"), F.lit(0)),
        after_exact_dedup=F.count(F.lit(1)),
    )
    docs1 = docs.join(keep_exact, "doc_id", "left_semi")

    # 2. near-dup removal — MinHash-LSH candidates verified by exact
    #    Jaccard computed per candidate pair (never over the full
    #    shingle-join product: LSH must actually prune the exact pass);
    #    drop the higher doc_id of each confirmed pair.
    #    persist_buckets=False: docs1's lineage goes through the fresh
    #    keep_exact localCheckpoint, so a persisted bucket frame is never
    #    reusable across runs — it only piles dead cache entries into the
    #    rotating ring (measured +1.9 s on curation_report, r11).
    #    A run-scoped bucket persist lost its r12 A/B (curation_report
    #    at sf0.1: 4.3-7.0 s without, 6.7-8.3 s with): the two join
    #    sides derive the chain in parallel across idle cores, while the
    #    persist serializes a cache-build pass ahead of the join.
    cand = dd.minhash_dedup_pairs(docs1, persist_buckets=False)
    verified = dd.jaccard_for_pairs(docs1, cand).where(
        F.col("jaccard") >= jaccard_threshold
    )
    drops = (
        verified.select(F.col("doc2_id").alias("doc_id"))
        .distinct()
        .localCheckpoint()
    )
    docs2 = docs1.join(drops, "doc_id", "left_anti")

    # 3. quality filter — token count + lexical diversity; the near-dedup
    #    survivors are counted as they stream into this stage's job
    good_doc = (F.col("token_count") >= min_tokens) & (
        F.col("distinct_ratio") >= 0.05
    )
    good, quality_counts = checkpoint_stage(
        ts.with_token_stats(docs2),
        good_doc,
        after_near_dedup=F.count(F.lit(1)),
        after_quality=F.count_if(good_doc),
    )
    docs3 = docs2.join(good, "doc_id", "left_semi")
    return CurationResult(
        clean=docs3,
        stage_counts={**exact_counts, **quality_counts},
        stage_ids={"keep_exact": keep_exact, "drops": drops, "good": good},
    )


def curation_report(docs: DataFrame) -> DataFrame:
    """Per-source curation audit report — the table a data-quality owner
    actually reads after a :func:`curate_documents` run: how many
    documents each source lost at each stage, and why.

    Output: (source, outcome, n_docs) where outcome is one of
    ``exact_dup`` (dropped by the content-fingerprint stage),
    ``near_dup`` (dropped by the LSH+Jaccard stage), ``low_quality``
    (failed the token/diversity gate) or ``accepted``.  Every input
    document lands in exactly one outcome, so the report partitions the
    corpus: sum(n_docs) == count(docs).

    Scale shape: ONE :func:`curate_documents` run (the report builds on
    its checkpointed stage ID frames — the pipeline and the report can
    never disagree) plus three marker left joins on doc_id and ONE
    (source, outcome) aggregate.  Without the stage barriers each marker
    branch re-derived the whole LSH + verify chain (measured at sf0.1:
    7.9 s → 4.6 s).  The ``keep_exact`` frame carries exactly the
    stage-1 survivor ids, so the first marker join uses it directly.
    """
    res = curate_documents(docs)
    ids = res.stage_ids

    outcome = (
        F.when(F.col("_s1").isNull(), F.lit("exact_dup"))
        .when(F.col("_dr").isNotNull(), F.lit("near_dup"))
        .when(F.col("_q").isNull(), F.lit("low_quality"))
        .otherwise(F.lit("accepted"))
    )
    return (
        docs.select("doc_id", "source")
        .join(ids["keep_exact"].withColumn("_s1", F.lit(1)), "doc_id", "left")
        .join(ids["drops"].withColumn("_dr", F.lit(1)), "doc_id", "left")
        .join(ids["good"].withColumn("_q", F.lit(1)), "doc_id", "left")
        .groupBy("source", outcome.alias("outcome"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
