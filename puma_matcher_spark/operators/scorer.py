"""Pair scoring — TF-IDF roll-up with the reference's "team factor".

Reference: scorer/EntitiesScorer.scala:39-67 (A3/A4):

* idf(entity) = log10(doc_count / df(entity))      (EntitiesMatcherV2.scala:73)
* per-(pair, entity) contribution = (tf1 + tf2) * idf
* team factor: pairs sharing many of their entities get boosted —
  ``score = Σ contribution * (1 + k * common * (0.5/n1 + 0.5/n2))`` with
  k = scoreFactor = 3 (config), common = #shared entities, n1/n2 = per-doc
  distinct entity counts (EntitiesScorer.scala:42,55-56).

``scored_entity_candidates`` is the whole matcher → scorer chain for one
entity frame (EntitiesMatcherV2.scala:44-94 then EntitiesScorer); the
matcher app and the query registry both build their candidates with it.

Spark shape: two chained hash aggregates on the pair key — partial
aggregation happens map-side, so the shuffle carries one row per
(pair, entity) then one per pair.  The doc-count scalar is computed once
and folded in as a literal (driver scalar, not a cross join).  The idf
and per-doc count frames grow with the corpus, so they carry no forced
broadcast hints — AQE chooses broadcast vs shuffle from runtime sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from puma_matcher_spark.functions.ids import candidate_id, pair_id
from puma_matcher_spark.operators.matcher import (
    DEFAULT_MAX_OCCURRENCE,
    cap_entity_frequency,
    doc_entity_counts,
    entity_doc_frequency,
    entity_pairs,
    entity_tf,
)
from puma_matcher_spark.schemas import EntityType

DEFAULT_SCORE_FACTOR = 3.0


def with_idf(pairs: DataFrame, tf: DataFrame, doc_count: int) -> DataFrame:
    """Attach idf = log10(N/df) per entity to pair co-occurrence rows;
    ``doc_count`` is N, the corpus document count as a driver scalar."""
    idf = entity_doc_frequency(tf).withColumn(
        "idf", F.log10(F.lit(float(doc_count)) / F.col("df"))
    )
    # idf is one row per distinct entity — the entity dictionary grows with
    # the corpus, so no explicit broadcast hint: AQE broadcasts when the
    # runtime size allows and shuffle-joins on entity_id when it doesn't.
    return pairs.join(idf.select("entity_id", "idf"), "entity_id")


def score_entity_pairs(
    pairs_with_idf: DataFrame,
    tf: DataFrame,
    score_type: str,
    type_id: int,
) -> DataFrame:
    """EntitiesScorer A4 roll-up → MATCH_CANDIDATE rows.

    Input ``pairs_with_idf``: one row per (pair, entity) with tf1, tf2, idf.
    """
    counts = doc_entity_counts(tf)
    per_pair = pairs_with_idf.groupBy(
        "document_version1_id", "document_version2_id"
    ).agg(
        F.sum((F.col("tf1") + F.col("tf2")) * F.col("idf")).alias("raw_score"),
        F.count(F.lit(1)).alias("common"),
        F.sum(F.col("tf1") + F.col("tf2")).alias("item_count"),
    )
    n1 = counts.select(
        F.col("document_version_id").alias("document_version1_id"),
        F.col("doc_entity_count").alias("n1"),
    )
    n2 = counts.select(
        F.col("document_version_id").alias("document_version2_id"),
        F.col("doc_entity_count").alias("n2"),
    )
    # n1/n2 are per-document frames (corpus-sized) — no broadcast hint,
    # AQE picks the strategy from runtime sizes.
    scored = (
        per_pair.join(n1, "document_version1_id")
        .join(n2, "document_version2_id")
        .withColumn(
            "score",
            F.col("raw_score")
            * (
                F.lit(1.0)
                + F.lit(DEFAULT_SCORE_FACTOR)
                * F.col("common")
                * (0.5 / F.col("n1") + 0.5 / F.col("n2"))
            ),
        )
    )
    return scored.select(
        candidate_id(
            F.col("document_version1_id"), F.col("document_version2_id"), type_id
        ).alias("id"),
        "document_version1_id",
        "document_version2_id",
        F.lit(score_type).alias("score_type"),
        F.col("score").cast("double").alias("score"),
        F.col("item_count").cast("long").alias("item_count"),
        pair_id(
            F.col("document_version1_id"), F.col("document_version2_id")
        ).alias("pair_id"),
    )


def scored_entity_candidates(entities: DataFrame, score_type: str) -> DataFrame:
    """MATCH_CANDIDATE rows for one entity family: tf → frequency caps →
    pair self-join → idf → team-factor roll-up.

    ``entities`` holds ENTITIES_ID rows (document_version_id, entity_id);
    ``score_type`` names the family and picks the candidate-id type id.
    N is one driver ``count()`` of the distinct documents, as in
    EntitiesMatcherV2.scala:44-52.  Nothing is persisted here: a caller
    that reads the result more than once persists it itself.
    """
    tf = entity_tf(entities)
    doc_count = entities.select("document_version_id").distinct().count()
    capped = cap_entity_frequency(tf, DEFAULT_MAX_OCCURRENCE, doc_count)
    return score_entity_pairs(
        with_idf(entity_pairs(capped), tf, doc_count),
        tf,
        score_type,
        EntityType.from_string(score_type).type_id,
    )
