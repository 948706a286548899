"""Instrument mention detection (InstrumentAnalyser rebuild).

Reference: analyser/InstrumentAnalyser.scala:54-71 — finds instrument
code/alias mentions in document text and collects surrounding context.

Rebuild: token match against a broadcast alias dimension (exploded
aliases), context via operators.context frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def instrument_mentions(tokens: DataFrame, aliases: DataFrame) -> DataFrame:
    """(doc, pos, instrument_id) for every alias token match.

    ``aliases``: (instrument_id, alias) — exploded, lower-cased,
    broadcast (instrument dims are tiny).
    """
    dim = aliases.select(
        F.lower(F.col("alias")).alias("word"), "instrument_id"
    )
    return tokens.join(F.broadcast(dim), "word")


def document_instruments(mentions: DataFrame) -> DataFrame:
    """(doc, instrument_id, mention_count) roll-up — the analyser's
    EntitiesIdDfType output feeding the instrument matcher."""
    return mentions.groupBy("document_version_id", "instrument_id").agg(
        F.count(F.lit(1)).cast("long").alias("mention_count")
    )


def person_technique_probability(
    doc_techniques: DataFrame,
    doc_persons: DataFrame,
) -> DataFrame:
    """P8 — the person→technique probabilistic model
    (filter/PersonTechniqueFilter.scala:25-62).

    ``doc_techniques``: (document_version_id, technique_id);
    ``doc_persons``: (document_version_id, person_id).  For every person,
    probability(technique) = times the person co-occurs with the
    technique / total technique observations for the person — two count
    aggregations over the same (technique, doc, person) join, then a
    ratio.

    Scale: the join shuffles on document_version_id; both aggregations
    shuffle on person_id, so AQE reuses one exchange between them.  No
    broadcast hints — both inputs are corpus-sized.
    """
    tbpd = doc_techniques.select(
        "document_version_id", "technique_id"
    ).distinct().join(
        doc_persons.select("document_version_id", "person_id").distinct(),
        "document_version_id",
    )
    by_person_tech = tbpd.groupBy("person_id", "technique_id").agg(
        F.count(F.lit(1)).cast("long").alias("person_technique_count")
    )
    by_person = tbpd.groupBy("person_id").agg(
        F.count(F.lit(1)).cast("long").alias("person_total_technique_count")
    )
    return (
        by_person_tech.join(by_person, "person_id")
        .withColumn(
            "person_technique_probability",
            F.col("person_technique_count")
            / F.col("person_total_technique_count"),
        )
    )
