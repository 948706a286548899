"""Position-window context extraction (J4 → window frames).

Reference: the instrument analysers collect words around a mention with a
theta self-join ``a.doc == b.doc AND b.pos BETWEEN a.pos-k AND a.pos+k``
(analyser/AdvancedInstrumentAnalyser.scala:478-504,
InstrumentAnalyser.scala:66-71, TextEntitiesAnalyser.scala:228-232).

Spark-first rebuild: a ``collect_list`` over a ``rowsBetween(-k, k)``
window frame — one shuffle on the doc key and a sort, versus the join's
shuffle + O(k) duplication of every row.  SURVEY.md §2.5 marks this as
exactly the place the rebuild should introduce frame specs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def context_words(tokens: DataFrame, k: int = 3) -> DataFrame:
    """For every token position, the ±k surrounding words (inclusive of
    the token itself), in position order."""
    w = (
        Window.partitionBy("document_version_id")
        .orderBy("pos")
        .rowsBetween(-k, k)
    )
    return tokens.withColumn("context", F.collect_list("word").over(w))


def mention_contexts(tokens: DataFrame, targets: list[str], k: int = 3) -> DataFrame:
    """Contexts only around target-word mentions (instrument-code style).

    The frame is computed over consecutive positions, so a document gap-
    free position column is assumed (posexplode output qualifies).
    """
    ctx = context_words(tokens, k)
    tgt = F.array(*[F.lit(t) for t in targets])
    return ctx.where(F.array_contains(tgt, F.col("word"))).select(
        "document_version_id", "pos", "word", "context"
    )


def top_context_words(mentions: DataFrame, top_n: int = 20) -> DataFrame:
    """W4 — most frequent context words per target
    (AdvancedInstrumentAnalyser.scala:611-612: rank over count desc,
    top-20 close words per instrument)."""
    exploded = mentions.select(
        "word", F.explode("context").alias("ctx_word")
    ).where(F.col("ctx_word") != F.col("word"))
    counts = exploded.groupBy("word", "ctx_word").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("word").orderBy(
        F.col("n").desc(), F.col("ctx_word").asc()
    )
    return (
        counts.withColumn("rank", F.rank().over(w))
        .where(F.col("rank") <= top_n)
    )
