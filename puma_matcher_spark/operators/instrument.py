"""Instrument mention detection (InstrumentAnalyser rebuild).

Reference: analyser/InstrumentAnalyser.scala:54-71 — finds instrument
code/alias mentions in document text and collects surrounding context;
analyser/AdvancedInstrumentAnalyser.scala:404-417 handles codes shared by
several instruments (duplicated_code); frequency cap at 2% of documents
(:522-543, config ``puma.analysis.instrument.maxfrequency``).

Rebuild: token match against a broadcast alias dimension (exploded
aliases), context via operators.context frames, frequency guard as a
post-aggregation semi-join — the entity-matcher guard pattern again.
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


def instrument_frequency_guard(
    mentions: DataFrame,
    total_docs: int,
    max_frequency: float = 0.02,
    doc_col: str = "document_version_id",
) -> DataFrame:
    """Drop instruments mentioned in more than max_frequency of documents
    (AdvancedInstrumentAnalyser.scala:522-543)."""
    freq = mentions.groupBy("instrument_id").agg(
        F.countDistinct(doc_col).alias("doc_freq")
    )
    keep = freq.where(
        F.col("doc_freq") <= F.lit(int(total_docs * max_frequency))
    ).select("instrument_id")
    return mentions.join(F.broadcast(keep), "instrument_id")


def technique_filter(
    candidates: DataFrame,
    instrument_techniques: DataFrame,
    doc_techniques: DataFrame,
) -> DataFrame:
    """P7 — keep technique candidates backed by an instrument→technique
    link for the document (filter/InstrumentTechniqueFilter.scala:30-41:
    semi-join on (technique, document))."""
    valid = (
        doc_techniques.join(
            F.broadcast(instrument_techniques), "instrument_id"
        ).select("document_version_id", "technique_id")
    )
    return candidates.join(
        valid, ["document_version_id", "technique_id"], "left_semi"
    )


def duplicated_codes(aliases: DataFrame) -> DataFrame:
    """Codes mapping to more than one instrument — need disambiguation by
    context (AdvancedInstrumentAnalyser.scala:404-417)."""
    return (
        aliases.groupBy("alias")
        .agg(F.countDistinct("instrument_id").alias("n_instruments"))
        .where(F.col("n_instruments") > 1)
    )


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
