"""Candidate-pair filters (P2–P7).

Each is a pure ``DataFrame -> DataFrame`` over MATCH_PAIR/MATCH_CANDIDATE
rows.  The document dims joined here are one row per document — they grow
linearly with the corpus, so unlike the reference (which broadcasts
explicitly at filter/TypeFilter.scala:26 for its bounded ILL corpus) no
forced broadcast hints are used: AQE broadcasts when the runtime size
allows and shuffle-joins on the document key when it doesn't.

P2–P4 are one operator, :func:`pair_filters`: one dim join per pair side,
where the reference's three filters join both sides each.  In a
family's filtered plan that is two dim joins instead of six, and the
second reuses the first's broadcast.  With it, and with the
driver-built weight frames sent as Arrow (``functions.frames``), a
whole sf0.001 matcher pass went from 63-64 Spark jobs to 57-58.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pair_filters(pairs: DataFrame, documents: DataFrame) -> DataFrame:
    """Keep the pairs that pass P2, P3 and P4, joining the documents dim
    once per pair side.

    * P2 TypeFilter (filter/TypeFilter.scala:23-45): exactly one side's
      type starts with ``PROPOSAL``.
    * P3 DateFilter (filter/DateFilter.scala:27-75): the proposal's year
      is at or before the publication's.  The reference null-fills
      dates with 1900-01-01 and compares years in a typed
      FilterFunction; here it is a ``year()`` column predicate.
    * P4 DocumentVersionIdFilter (filter/DocumentVersionIdFilter.scala:
      22-35): neither side is obsolete.

    The reference runs the three filters in turn, each joining the dim
    to both sides (six joins).  One inner join per side carries the
    type flag, the coalesced year and ``obsolete``, and the three
    predicates are ANDed, as the DuckDB twin of ``match_candidates``
    writes them.  Both sides join the same dim projection, so the
    planner can reuse one broadcast for both.  A pair whose document is
    missing from the dim, or has a NULL type or NULL ``obsolete``, is
    dropped, as the twin's ``WHERE`` drops it.  Returns ``pairs``'
    columns.
    """
    dim = documents.select(
        F.col("document_version_id").alias("_dv"),
        F.col("document_type").startswith("PROPOSAL").alias("_proposal"),
        F.year(
            F.coalesce(F.col("date"), F.lit("1900-01-01").cast("timestamp"))
        ).alias("_year"),
        F.col("obsolete").alias("_obsolete"),
    )
    d1, d2 = dim.alias("_d1"), dim.alias("_d2")
    joined = pairs.join(
        d1, F.col("document_version1_id") == F.col("_d1._dv")
    ).join(d2, F.col("document_version2_id") == F.col("_d2._dv"))
    p1, p2 = F.col("_d1._proposal"), F.col("_d2._proposal")
    y1, y2 = F.col("_d1._year"), F.col("_d2._year")
    keep = (
        (p1 != p2)
        & (F.when(p1, y1).otherwise(y2) <= F.when(p1, y2).otherwise(y1))
        & ~F.col("_d1._obsolete")
        & ~F.col("_d2._obsolete")
    )
    return joined.where(keep).select(*pairs.columns)


def multiple_type_match_filter(
    candidates: DataFrame, allowed_single_types: list[str]
) -> DataFrame:
    """Keep pairs matched by >1 score type, or by an allowed single type (P5).

    filter/MultipleTypeMatchFilter.scala:23-41 groupBys to collect score
    types then inner-joins back.  Rebuilt as a window aggregate —
    ``collect_set(score_type) over (partition by pair)`` — one shuffle on
    the pair key instead of the reference's aggregate + join (two passes
    over the fact table).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("document_version1_id", "document_version2_id")
    allowed = F.array(*[F.lit(t) for t in allowed_single_types])
    with_types = candidates.withColumn(
        "_types", F.collect_set("score_type").over(w)
    )
    keep = (F.size("_types") > 1) | (
        F.size(F.array_intersect(F.col("_types"), allowed)) > 0
    )
    return with_types.where(keep).drop("_types")


def date_document_type_filter(
    documents: DataFrame, start_year: int, end_year: int
) -> DataFrame:
    """Restrict publications to a year range (P6).

    filter/DateDocumentTypeFilter.scala:24-35.  The reference has a latent
    bug (``year($"date" >= lit(startYear) && ...)`` — comparison inside
    ``year``); rebuilt with the intended semantics.
    """
    return documents.where(
        (~F.col("document_type").startswith("PUBLICATION"))
        | F.year("date").between(start_year, end_year)
    )
