"""End-to-end application flows — the rebuild of the reference's driver
apps (app/FullMatcherApp.scala, OptimizerApp.scala,
PersonDeduplicatorApp.scala).

``run_full_matcher`` reproduces FullMatcherApp's shape on the fixture
corpus:

1. **match creator** pipeline — one PipelineConfig per entity family,
   its configs submitted concurrently; the matcher stage is
   ``operators.scorer.scored_entity_candidates`` (Matcher → Scorer, the
   builder the query registry uses too), and the P2–P4 filters
   (``operators.filters.pair_filters``) apply pair-level after the
   aggregate, where they're cheapest;
2. **match saver** — union across configs (``as_data_source``),
   MultipleTypeMatchFilter, canonicalization + per-document statistics;
3. **optimizer** — weight training against derived labels +
   total/contextual scores.

Everything returns DataFrames; callers choose sinks
(persister.persist_partitioned / sources.publish for blue/green).

Two frames fan out and are persisted through the bounded
``functions.caching.persist_rotating`` ring, so each is computed once
per pass:

* each family's filtered candidates, read by the normalisation
  percentile job and again by the cross-config union;
* the canonical candidate table, read by the training-label join and
  the envelope count inside weight training, and by ``candidates``,
  ``statistics`` and ``total_scores``.

Without them every consumer re-ran the matcher → scorer → filters →
normaliser → persister chain: an sf0.001 pass that collects all four
outputs ran 268 Spark jobs, against 64 with both persists.  Joining the
documents dim once per pair side (``filters.pair_filters``) and building
the weight frames from Arrow (``functions.frames.local_frame``, no
Python worker process) took the pass to 57-58 jobs.  Both counts
include the creator pipeline's per-family jobs, which run under the
caller's job group.  The ring (or
``functions.caching.drain()``) releases the caches; every returned
frame keeps its full lineage, so an evicted cache means a recompute,
never a wrong or missing row.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from puma_matcher_spark.functions.caching import persist_rotating
from puma_matcher_spark.functions.frames import local_frame
from puma_matcher_spark.operators import filters as flt
from puma_matcher_spark.operators import scorer as sc
from puma_matcher_spark.operators import stats as st
from puma_matcher_spark.operators import weights as wt
from puma_matcher_spark.operators.persister import canonicalize_pairs, dedup_candidates
from puma_matcher_spark.pipeline import Pipeline, PipelineConfig, Stage
from puma_matcher_spark.sources.maintenance import HadoopFs, compact_batch_index
from puma_matcher_spark.sources.testdata import Tables, load_tables

#: the streaming ingest app folds its per-batch dedup-index partitions
#: into one merged partition every this many micro-batches
INDEX_COMPACT_EVERY = 16


@dataclass
class MatcherResult:
    candidates: DataFrame          # canonical MATCH_CANDIDATE rows
    statistics: DataFrame          # per-document stats
    weights: DataFrame             # trained score weights
    total_scores: DataFrame        # weighted totals per pair


def _family_stages(t: Tables) -> list[Stage]:
    """Matcher → Scorer → Filters for one entity family; family selection
    comes from the PipelineConfig params (FullMatcherApp.scala:104-201
    wires one config per entity type)."""

    def matcher(config: PipelineConfig, inputs: dict) -> DataFrame:
        if config.params["family"] == "person":
            ents = t.entities()
        else:
            # lab links must span both customer parities or the type
            # filter (XOR on custkey-parity-derived document_type) would
            # drop every same-customer pair
            ents = t.entities_secondary_orders().withColumn(
                "entity_id", F.floor(F.col("entity_id") / 2).cast("long")
            )
        return sc.scored_entity_candidates(ents, config.params["family"])

    def filters(config: PipelineConfig, inputs: dict) -> DataFrame:
        return flt.pair_filters(inputs["scored"], t.documents_dim())

    def normalisation(config: PipelineConfig, inputs: dict) -> DataFrame:
        # the reference normalises per config before the editor; the
        # approx percentile is the scale path (W1)
        from puma_matcher_spark.operators.normaliser import (
            normalisation_factor,
            normalise_scores,
        )

        # the percentile job and the cross-config union both read it
        cand = persist_rotating(inputs["filtered"])
        factor = normalisation_factor(cand, percentile=0.99, exact=False)
        return normalise_scores(cand, factor)

    from puma_matcher_spark.schemas import FrameType

    return [
        Stage(name="matcher", input=[], output="scored", fn=matcher,
              frame_type=FrameType.MATCH_CANDIDATE),
        Stage(name="filters", input=["scored"], output="filtered", fn=filters,
              frame_type=FrameType.MATCH_CANDIDATE),
        Stage(name="normalisation", input=["filtered"], output="editor_output",
              fn=normalisation),
    ]


def run_full_matcher(
    spark: SparkSession, sf_dir: str, train_weights: bool = True
) -> MatcherResult:
    t = load_tables(spark, sf_dir)

    # pipeline 1 — match creator, one config per entity family
    creator = Pipeline("match creator", _family_stages(t))
    creator.run(
        [
            PipelineConfig(name="person", params={"family": "person"}),
            PipelineConfig(name="laboratory", params={"family": "laboratory"}),
        ]
    )

    # pipeline 2 — match saver over the cross-config union
    all_cand = creator.as_data_source("editor_output")
    filtered = flt.multiple_type_match_filter(all_cand, ["laboratory"])
    # statistics, weight training, total scores and the caller all read it
    canonical = persist_rotating(dedup_candidates(canonicalize_pairs(filtered)))
    statistics = st.match_statistics(canonical)

    # optimizer — weights against derived accepted labels
    if train_weights:
        training = (
            canonical.where(F.col("pair_id") % 7 == 0)
            .select(
                F.col("document_version1_id").alias("proposal_id"),
                F.col("document_version2_id").alias("publication_id"),
                F.lit(True).alias("accepted"),
            )
            .distinct()
        )
        weights = wt.best_weights(
            spark, canonical, training, ["person", "laboratory"], step=0.25
        )
    else:
        weights = local_frame(
            spark,
            [("person", 0.5), ("laboratory", 0.5)],
            "score_type STRING, weight DOUBLE",
        )
    totals = st.total_score(canonical, weights)
    return MatcherResult(
        candidates=canonical,
        statistics=statistics,
        weights=weights,
        total_scores=totals,
    )


@dataclass
class CurationAppResult:
    clean: DataFrame
    stage_counts: dict


def load_manifest_documents(
    spark: SparkSession,
    manifest: str,
    doc_ids: list[int] | None = None,
) -> DataFrame:
    """Documents via the native ``manifest_text`` DataSource
    (sources/pydatasource.py) in the curation pipeline's input shape
    (doc_id, text, lang, source).

    The ``doc_ids`` filter is applied as a plain ``isin`` predicate —
    Spark 4's planner pushes it into the source (``pushFilters``), so
    excluded manifest entries are pruned BEFORE their files are stat-ed
    or opened (a missing file behind a filtered-out entry never errors,
    though the read is strict — the e2e pushdown probe in
    tests/test_apps.py relies on this).  ``lang`` comes from the SHARED
    lang-ID kernel (llmdata.textstats.lang_id_label), so the manifest
    and parquet ingest paths can never label the same text differently;
    ``source`` is the file's parent directory (the manifest analogue of
    the fixture's source column).

    Reference: datasource/FileDataSource.scala:37-61 feeding
    FullMatcherApp's full_text materialization.
    """
    from puma_matcher_spark.llmdata.textstats import lang_id_label
    from puma_matcher_spark.sources.pydatasource import register

    register(spark)
    df = (
        spark.read.format("manifest_text")
        .option("manifest", manifest)
        .option("strict", "true")
        .load()
    )
    if doc_ids is not None:
        df = df.where(F.col("doc_id").isin([int(i) for i in doc_ids]))
    return df.select(
        "doc_id",
        "text",
        lang_id_label(F.col("text")).alias("lang"),
        F.element_at(F.split("file_path", "/"), -2).alias("source"),
    )


def run_curation_app(
    spark: SparkSession,
    sf_dir: str | None = None,
    out_root: str | None = None,
    source: str = "parquet",
    manifest: str | None = None,
    doc_ids: list[int] | None = None,
) -> CurationAppResult:
    """End-to-end training-data curation driver — the llmdata twin of
    ``run_full_matcher``: load → exact + near dedup + quality filter
    (llmdata.pipeline) → exact-substring span cutting (llmdata.dedup)
    → optional per-source Hive-partitioned publish.

    ``source``: ``"parquet"`` loads the fixture documents table from
    ``sf_dir``; ``"manifest_text"`` ingests through the native Spark-4
    Python DataSource (split-planned, pushdown-pruned — see
    :func:`load_manifest_documents`), carrying the connector through a
    real pipeline instead of only its unit tests.

    The stage audit counts are observed inside the curation pipeline's
    own stage jobs.  With ``out_root`` the cleaned corpus lands
    partitioned by source (readers prune by partition) and
    ``tokens_cut`` sums the published column; without it, the aggregate
    re-derives the span cutting.  For the manifest source a publish
    also RELEASES the cached connector input and re-points ``clean`` at
    the published parquet (blue/green hand-off).  With
    manifest input and no ``out_root`` the input cache is kept for
    the returned lazy frame; callers done with it own the unpersist.
    """
    from puma_matcher_spark.llmdata.dedup import cut_spans, duplicate_spans
    from puma_matcher_spark.llmdata.pipeline import curate_documents
    from puma_matcher_spark.operators.persister import persist_partitioned

    if source == "manifest_text":
        if manifest is None:
            raise ValueError("source='manifest_text' requires manifest=")
        # persist: the curation DAG references the input many times
        # (dedup semi-joins, span cutting, audit counts) and every
        # reference re-executes a Python DataSource scan — unlike a
        # parquet scan there is no cheap re-read, so materialize once
        # (the reference app materializes full_text the same way,
        # FullMatcherApp.scala); measured 36 s → ~2 s on a 5-doc corpus
        docs = load_manifest_documents(spark, manifest, doc_ids=doc_ids).persist()
    elif source == "parquet":
        if sf_dir is None:
            raise ValueError("source='parquet' requires sf_dir")
        docs = load_tables(spark, sf_dir).llm_documents()
    else:
        raise ValueError(f"unknown curation source: {source!r}")
    res = curate_documents(docs)
    spans = duplicate_spans(res.clean, shingle_n=5)
    cut = cut_spans(res.clean, spans)
    final = (
        res.clean.select("doc_id", "lang", "source")
        .join(cut, "doc_id")
        .select("doc_id", "lang", "source", "clean_text", "n_tokens_removed")
    )
    published = None
    if out_root is not None:
        persist_partitioned(final, out_root, ["source"])
        # column order restated: partition columns come back last on a
        # partitioned read
        published = spark.read.parquet(out_root).select(
            "doc_id", "lang", "source", "clean_text", "n_tokens_removed"
        )
    # summing the published column is a scan; summing `cut` re-derives
    # the span cutting
    cut_rows = cut if published is None else published
    counts = dict(res.stage_counts)
    counts["tokens_cut"] = int(
        cut_rows.agg(F.sum("n_tokens_removed")).first()[0] or 0
    )
    if source == "manifest_text" and published is not None:
        # all heavy reuse of the cached connector input is done (counts
        # are resolved, the corpus is published): release the executor
        # storage and hand the caller the published parquet instead —
        # the blue/green pattern, and cheaper for them than re-reading
        # the Python source
        docs.unpersist()
        final = published
    return CurationAppResult(clean=final, stage_counts=counts)


@dataclass
class IngestAppResult:
    accepted: DataFrame    # batch docs admitted to the corpus
    stage_counts: dict


def run_incremental_ingest_app(
    batch: DataFrame,
    corpus_index,
    jaccard_threshold: float = 0.8,
    min_tokens: int = 5,
) -> IngestAppResult:
    """Daily-ingest driver: admit a NEW document batch against a corpus
    given as its :class:`puma_matcher_spark.llmdata.dedup.DedupIndex`
    (``build_dedup_index``) — the incremental twin of
    ``run_curation_app``; every stage is batch-sized and the corpus
    text is never read:

    1. exact dedup vs corpus + within batch (fingerprint anti-join,
       llmdata.dedup.incremental_ingest_indexed);
    2. near-dup vs corpus: batch×corpus LSH candidates
       (minhash_incremental_pairs_indexed) verified by exact Jaccard on
       the candidate pairs only, survivors dropped;
    3. quality gate (token count) on what remains.

    As in ``llmdata.pipeline.curate_documents``, each stage's doc ids
    are localCheckpoint'ed once, so no stage re-derives the ones before
    it, and the four stage counts (``batch_in``, ``after_exact``,
    ``after_near_dup``, ``accepted``) are observed inside the exact and
    quality checkpoint jobs.  ``accepted`` is the batch semi-joined to
    the quality stage's ids.
    """
    from puma_matcher_spark.llmdata import dedup as dd
    from puma_matcher_spark.llmdata.pipeline import checkpoint_stage
    from puma_matcher_spark.llmdata.textstats import tokens

    # 1. every batch doc, flagged with whether it survives exact dedup
    fresh = dd.incremental_ingest_indexed(batch, corpus_index.fingerprints)
    keep_exact, counts = checkpoint_stage(
        batch.select("doc_id").join(
            fresh.select("doc_id", F.lit(True).alias("_fresh")),
            "doc_id",
            "left",
        ),
        F.col("_fresh").isNotNull(),
        batch_in=F.count(F.lit(1)),
        after_exact=F.count("_fresh"),
    )
    docs1 = batch.join(keep_exact, "doc_id", "left_semi")

    # 2. LSH candidates vs the corpus, verified by exact Jaccard on the
    #    candidate pairs only: rename so the shared jaccard kernel sees
    #    (doc1, doc2) over the union shingle frame
    batch_sh = dd.shingles(docs1.select("doc_id", "text"))
    cand = dd.minhash_incremental_pairs_indexed(
        batch_sh, corpus_index.band_keys
    )
    pairs = cand.select(
        F.col("new_doc_id").alias("doc1_id"),
        F.col("corpus_doc_id").alias("doc2_id"),
    )
    both_sh = batch_sh.unionByName(corpus_index.shingles)
    drops = (
        dd.jaccard_for_pairs_from_shingles(both_sh, pairs)
        .where(F.col("jaccard") >= jaccard_threshold)
        .select(F.col("doc1_id").alias("doc_id"))
        .distinct()
        .localCheckpoint()
    )
    docs2 = docs1.join(drops, "doc_id", "left_anti")

    # 3. quality gate, a row predicate over the near-dup survivors
    long_enough = F.size(tokens(F.col("text"))) >= min_tokens
    good, quality_counts = checkpoint_stage(
        docs2,
        long_enough,
        after_near_dup=F.count(F.lit(1)),
        accepted=F.count_if(long_enough),
    )
    return IngestAppResult(
        accepted=batch.join(good, "doc_id", "left_semi"),
        stage_counts={**counts, **quality_counts},
    )


def run_streaming_ingest_app(
    spark: SparkSession,
    manifest: str,
    corpus: DataFrame,
    out_root: str,
    checkpoint_dir: str,
):
    """Continuous-ingest driver — the streaming composition of the two
    connectors built this rebuild: the native ``manifest_text`` stream
    reader tails manifest appends (exactly-once row-count offsets,
    sources/pydatasource.py) and every micro-batch runs the SAME
    admission pipeline as :func:`run_incremental_ingest_app` (exact
    anti-join vs corpus, batch×corpus LSH near-dup verify, quality
    gate) inside ``foreachBatch``.

    Accepted documents land in ``out_root/batch_id=<id>`` partitions
    with overwrite — the idempotent-sink recipe: a replayed batch
    after a crash rewrites its own partition instead of duplicating
    rows.  ``availableNow`` trigger: each call drains everything
    appended since the last committed offset, then stops — the
    schedulable version of the reference's polling ingest
    (FileDataSource.scala feeding the matcher pipeline on new data).

    Cross-batch dedup (ADVICE r6) runs on the PRECOMPUTED-INDEX pattern
    (round 8): each batch writes its accepted documents' DedupIndex rows
    (fingerprints / LSH band keys / shingles — hash- and shingle-width,
    never text) to ``out_root/_index/<component>/batch_id=<id>``; later
    batches union those index rows into the corpus side instead of
    re-reading and re-fingerprinting the full admitted TEXT per
    micro-batch (which was corpus-growth-linear in compute per batch and
    cumulatively quadratic over a long manifest tail).  The static
    corpus's index is built once per app start.  The ``_index``
    underscore prefix keeps Spark's partition discovery on ``out_root``
    from seeing it.  The ``batch_id < current`` filter keeps a
    crash-REPLAYED batch from seeing its own previous output and
    self-rejecting everything (the overwrite sink makes the replay
    idempotent instead); sink existence is probed explicitly through the
    Hadoop FS API (``HadoopFs.restore_parked``), so a corrupt or
    unreadable sink PROPAGATES instead of silently degrading dedup to
    static-corpus-only (ADVICE r7).  A batch indexes its accepted docs
    as the admission returns them, not by reading its sink back.

    Returns the started StreamingQuery; callers ``awaitTermination``.
    """
    from puma_matcher_spark.llmdata import dedup as dd
    from puma_matcher_spark.sources.pydatasource import register

    register(spark)
    stream = (
        spark.readStream.format("manifest_text")
        .option("manifest", manifest)
        .load()
    )
    # the static corpus never changes across micro-batches: index it once
    # and PERSIST each component (MEMORY_AND_DISK) — without the persist,
    # every micro-batch would re-derive the static corpus's fingerprints
    # / minhashes / shingles from text, making per-batch cost scale
    # with the static corpus instead of the batch.  Materialization is
    # lazy (the first batch pays it); the cache lives for the session,
    # the natural lifetime of the availableNow drain.
    static_index = dd.build_dedup_index(corpus.select("doc_id", "text"))
    components = ("fingerprints", "band_keys", "shingles")
    for c in components:
        getattr(static_index, c).persist()
    index_root = f"{out_root}/_index"
    fs = HadoopFs(spark, index_root)

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        # persist: the admission pipeline takes several actions over the
        # batch (anti-joins, shingle build); without a barrier each one
        # re-runs the Python DataSource reader — re-reading every file
        # per action (the measured 36s->2s trap, see sources/pydatasource)
        docs = batch_df.select("doc_id", "text").persist()
        sess = batch_df.sparkSession

        def _with_prior(c: str) -> DataFrame:
            # probe each component explicitly: a missing dir means no
            # COMMITTED batch wrote it (committed batches write all
            # three before the checkpoint commit; a mid-write crash's
            # partial rows are excluded by batch_id < current on
            # replay) — any other read failure propagates
            static_df = getattr(static_index, c)
            path = f"{index_root}/{c}"
            if not fs.restore_parked(path):
                return static_df
            prior = (
                sess.read.parquet(path)
                .where(F.col("batch_id") < batch_id)
                .select(*static_df.columns)
            )
            return static_df.unionByName(prior)

        idx = dd.DedupIndex(**{c: _with_prior(c) for c in components})
        try:
            res = run_incremental_ingest_app(docs, idx)
            res.accepted.write.mode("overwrite").parquet(
                f"{out_root}/batch_id={batch_id}"
            )
            # index the batch's ACCEPTED docs for future batches: the
            # persisted batch semi-joined to the checkpointed ids
            aidx = dd.build_dedup_index(res.accepted)
            for c in components:
                getattr(aidx, c).write.mode("overwrite").parquet(
                    f"{index_root}/{c}/batch_id={batch_id}"
                )
            # bound the index's directory/file count over a long manifest
            # tail: every INDEX_COMPACT_EVERY batches fold all COMMITTED
            # per-batch partitions (batch_id < current — the in-flight
            # batch stays separate so a crash replay can still exclude
            # its own rows) into one merged batch_id=<current-1>
            # partition via the atomic staging swap.  Without this,
            # _with_prior's union lists/opens one directory per
            # historical batch even though the ROW volume is
            # hash-width-flat (r8 verdict finding #1).
            if (batch_id + 1) % INDEX_COMPACT_EVERY == 0:
                for c in components:
                    compact_batch_index(
                        sess, f"{index_root}/{c}", fold_below=batch_id
                    )
        finally:
            docs.unpersist()

    return (
        stream.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
