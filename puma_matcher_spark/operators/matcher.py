"""Candidate-pair generation (the matchers).

Reference operators rebuilt here:

* ``EntitiesMatcherV2`` (matcher/EntitiesMatcherV2.scala:44-94) — inverted
  index + self-join pair generation with TF and frequency guards (J1/A1/P9).
* ``EntitiesMatcher`` occurrence cap + excluded-entity side output
  (matcher/EntitiesMatcher.scala:43-61, P10).
* ``DualTypeEntitiesMatcher`` (matcher/DualTypeEntitiesMatcher.scala:60-137)
  — pairs across a primary and a secondary entity source (J2).
* ``MatcherNumberMatcher`` (matcher/MatcherNumberMatcher.scala:32-46, A9).

Spark-first shape: the reference builds posting lists with
``groupBy(entity).agg(sort_array(collect_list(struct)))`` then flatMaps
2-combinations.  That is exactly a self-equi-join on ``entity_id`` with a
``dv1 < dv2`` canonicalization — expressed that way, Catalyst plans a
shuffle hash / sort-merge join keyed on ``entity_id`` with map-side partial
aggregation for the TF step, and AQE handles residual skew.  The frequency
guards below are the reference's core scalability trick (BASELINE.md
"entity self-join guard"): without them a single hot entity with k docs
contributes k²/2 pairs.  At 100 TB both guards stay cheap — one extra
aggregation on the same ``entity_id`` shuffle key, reused by the join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_MAX_OCCURRENCE = 2000  # puma.matching.entitiesmatcher.occurrence.maximum


def entity_tf(entities: DataFrame) -> DataFrame:
    """Per-(doc, entity) term frequency — EntitiesMatcherV2.scala:55-58 (A1).

    Input: ENTITIES_ID rows (document_version_id, entity_id), duplicates
    allowed (one row per mention).  Output adds ``tf``.
    """
    return entities.groupBy("document_version_id", "entity_id").agg(
        F.count(F.lit(1)).alias("tf")
    )


def doc_entity_counts(tf: DataFrame) -> DataFrame:
    """Per-document distinct-entity count — EntitiesMatcherV2.scala:60-67."""
    return tf.groupBy("document_version_id").agg(
        F.count(F.lit(1)).alias("doc_entity_count")
    )


def entity_doc_frequency(tf: DataFrame) -> DataFrame:
    """Per-entity document frequency (posting-list size)."""
    return tf.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("df")
    )


def cap_entity_frequency(
    tf: DataFrame,
    max_occurrence: int | None = DEFAULT_MAX_OCCURRENCE,
    relative_cap_docs: int | Column | None = None,
) -> DataFrame:
    """Frequency guards before pair generation (P9 + P10).

    * absolute cap — EntitiesMatcher.scala:58-61: drop entities present in
      more than ``max_occurrence`` documents;
    * relative "safe mode" cap — EntitiesMatcherV2.scala:44-52: drop
      entities present in ≥ ``relative_cap_docs / 20`` documents.

    ``relative_cap_docs`` may be an int (reference semantics: a
    pre-computed driver scalar) or a Column — pass a scalar-subquery
    column (``df.scalar()``) so the corpus document count is evaluated
    inside the same job instead of an eager plan-build-time ``.count()``
    that re-scans the entity table before the real query runs.

    Implemented as an aggregation on the join key followed by a semi-join
    of the surviving-entity set.  The surviving set is one row per distinct
    rare entity — it grows with the corpus, so no forced broadcast hint:
    AQE broadcasts it when the runtime size allows and otherwise reuses the
    entity_id shuffle the pair join needs anyway.
    """
    caps = []
    if max_occurrence is not None:
        caps.append(F.col("df") <= max_occurrence)
    if relative_cap_docs is not None:
        cap = (
            relative_cap_docs.cast("double") / F.lit(20.0)
            if isinstance(relative_cap_docs, Column)
            else F.lit(int(relative_cap_docs) / 20)
        )
        caps.append(F.col("df") < cap)
    if not caps:
        return tf
    pred = caps[0]
    for c in caps[1:]:
        pred = pred & c
    keep = entity_doc_frequency(tf).filter(pred).select("entity_id")
    return tf.join(keep, "entity_id", "inner")


def entity_pairs(tf: DataFrame) -> DataFrame:
    """Inverted-index self-join pair generation (J1).

    EntitiesMatcherV2.scala:76-94: explode index → equi-join on entity_id →
    canonicalize with ``dv1 < dv2``.  Output one row per (pair, entity)
    co-occurrence carrying both sides' tf.

    Physical plan: single shuffle on ``entity_id``, sort-merge or shuffled
    hash join (AQE decides), no cartesian anywhere.  Apply
    ``cap_entity_frequency`` first or hot keys explode quadratically.
    """
    a = tf.select(
        F.col("entity_id"),
        F.col("document_version_id").alias("document_version1_id"),
        F.col("tf").alias("tf1"),
    )
    b = tf.select(
        F.col("entity_id"),
        F.col("document_version_id").alias("document_version2_id"),
        F.col("tf").alias("tf2"),
    )
    return a.join(b, "entity_id").where(
        F.col("document_version1_id") < F.col("document_version2_id")
    )


def dual_type_entity_pairs(primary: DataFrame, secondary: DataFrame) -> DataFrame:
    """Pairs across two entity sources sharing an id space (J2).

    DualTypeEntitiesMatcher.scala:60-137: the reference enumerates
    primary×secondary products plus secondary 2-combinations per entity,
    canonicalized by id.  Re-expressed: union the sources with a side tag,
    self-join on entity_id, keep pairs that are not both-primary, dv1 < dv2.
    """
    p = primary.select("document_version_id", "entity_id").withColumn(
        "is_primary", F.lit(1)
    )
    s = secondary.select("document_version_id", "entity_id").withColumn(
        "is_primary", F.lit(0)
    )
    u = p.unionByName(s).distinct()
    a = u.select(
        "entity_id",
        F.col("document_version_id").alias("document_version1_id"),
        F.col("is_primary").alias("primary1"),
    )
    b = u.select(
        "entity_id",
        F.col("document_version_id").alias("document_version2_id"),
        F.col("is_primary").alias("primary2"),
    )
    return (
        a.join(b, "entity_id")
        .where(F.col("document_version1_id") < F.col("document_version2_id"))
        .where((F.col("primary1") + F.col("primary2")) < 2)
        .drop("primary1", "primary2")
    )


def matcher_number(candidates: DataFrame) -> DataFrame:
    """How many matchers agree per pair (A9).

    MatcherNumberMatcher.scala:32-46: groupBy pair, count score rows.
    Input: MATCH_CANDIDATE rows from several score types.
    """
    return candidates.groupBy(
        "document_version1_id", "document_version2_id"
    ).agg(
        F.count("score").alias("matcher_count"),
        F.count(F.lit(1)).alias("item_count"),
    )
