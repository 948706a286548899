"""Typed frame contracts — the rebuild of the reference's SchemaStorage.

Reference: matching/datasource/SchemaStorage.scala:20-205 declares one
StructType per DataFrameType; matching/pipepline/DataFrameType.scala:24-82
tags every inter-stage payload with its expected schema.  Here each contract
is a module-level ``StructType`` plus a ``FrameType`` enum used by
``validator.assert_compliant`` at stage boundaries.
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql.types import (
    ArrayType,
    BooleanType,

    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _st(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


# (document_version_id, entity_id) affiliation rows — SchemaStorage.scala:34-37
ENTITIES_ID = _st(("document_version_id", LongType()), ("entity_id", LongType()))

# entity rows with per-doc term frequency
ENTITIES_TF = _st(
    ("document_version_id", LongType()),
    ("entity_id", LongType()),
    ("tf", LongType()),
)

# candidate pair rows out of a matcher, before scoring
MATCH_PAIR = _st(
    ("document_version1_id", LongType()),
    ("document_version2_id", LongType()),
)

# scored match candidates — SchemaStorage.scala:60-70 MatchCandidateDfType
MATCH_CANDIDATE = _st(
    ("id", LongType()),
    ("document_version1_id", LongType()),
    ("document_version2_id", LongType()),
    ("score_type", StringType()),
    ("score", DoubleType()),
    ("item_count", LongType()),
    ("pair_id", LongType()),
)

# documents dimension (document_version) — DataSourceStorage typeSql/dateSql
DOCUMENT = _st(
    ("document_version_id", LongType()),
    ("document_type", StringType()),
    ("date", TimestampType()),
    ("obsolete", BooleanType()),
)

# per-document match statistics — SchemaStorage.scala:81-111 (scalar subset;
# the rebuild keeps ranks/percentiles as columns instead of parallel arrays)
MATCH_STATS = _st(
    ("document_version_id", LongType()),
    ("score_type", StringType()),
    ("match_count", LongType()),
    ("score_min", DoubleType()),
    ("score_max", DoubleType()),
    ("score_mean", DoubleType()),
    ("score_std", DoubleType()),
    ("score_median", DoubleType()),
)

# training pairs — SchemaStorage.scala:55-58 TrainingPairDfType
TRAINING_PAIR = _st(
    ("proposal_id", LongType()),
    ("publication_id", LongType()),
    ("accepted", BooleanType()),
)

# score weights — DbManager resetWeight
SCORE_WEIGHT = _st(("score_type", StringType()), ("weight", DoubleType()))

# text documents for the LLM-data plane
TEXT_DOCUMENT = _st(
    ("doc_id", LongType()),
    ("text", StringType()),
    ("lang", StringType()),
    ("source", StringType()),
    ("n_chars", LongType()),
)

EMBEDDING = _st(
    ("vec_id", LongType()),
    ("embedding", ArrayType(DoubleType())),
    ("label", IntegerType()),
)


class FrameType(Enum):
    """DataFrameType rebuild — matching/pipepline/DataFrameType.scala:24-82."""

    ENTITIES_ID = ("entities_id", ENTITIES_ID)
    ENTITIES_TF = ("entities_tf", ENTITIES_TF)
    MATCH_PAIR = ("match_pair", MATCH_PAIR)
    MATCH_CANDIDATE = ("match_candidate", MATCH_CANDIDATE)
    DOCUMENT = ("document", DOCUMENT)
    MATCH_STATS = ("match_stats", MATCH_STATS)
    TRAINING_PAIR = ("training_pair", TRAINING_PAIR)
    SCORE_WEIGHT = ("score_weight", SCORE_WEIGHT)
    TEXT_DOCUMENT = ("text_document", TEXT_DOCUMENT)
    EMBEDDING = ("embedding", EMBEDDING)

    def __init__(self, string_value: str, schema: StructType):
        self.string_value = string_value
        self.schema = schema


class EntityType(Enum):
    """Stable entity-type ids — matching/pipepline/EntityType.scala:20-91.

    Ids are load-bearing: they are baked into the synthesized candidate id
    ``id = pair_id * 100 + type_id`` (EntitiesScorer.scala:57).
    """

    PERSON = ("person", 1)
    FORMULA = ("formula", 2)
    TEXT = ("text", 3)
    ABSTRACT = ("abstract", 4)
    TITLE = ("title", 5)
    DOI = ("doi", 6)
    REFERENCED_DOI = ("referenced_doi", 7)
    PROPOSAL_CODE = ("proposal_code", 8)
    REFERENCED_PROPOSAL_CODE = ("referenced_proposal_code", 9)
    LABORATORY = ("laboratory", 10)
    RAREWORD = ("rareword", 11)
    PICTURE = ("picture", 12)
    TOTAL = ("total", 13)
    COSINE_TITLE = ("cosine_title", 15)
    MATCHER_NUMBER = ("matcher_number", 16)
    INSTRUMENT = ("instrument", 17)
    SCIENTIFIQUE_TECHNIQUE = ("scientifique_technique", 18)

    def __init__(self, string_value: str, type_id: int):
        self.string_value = string_value
        self.type_id = type_id

    @classmethod
    def from_string(cls, s: str) -> "EntityType":
        for e in cls:
            if e.string_value == s:
                return e
        raise KeyError(s)
