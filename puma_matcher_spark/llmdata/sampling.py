"""Deterministic corpus sampling / splitting for training pipelines.

Hash-bucket assignment (portable md5 arithmetic) instead of
``DataFrame.sample``: the assignment is a pure function of the row key,
so it is identical across engines, runs, partitionings and cluster
sizes — the reproducibility property a train/val/test split must have.
``sample()`` with a seed is NOT stable across repartitioning, which at
100 TB means a resized cluster silently reshuffles the held-out set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from puma_matcher_spark.llmdata.dedup import portable_hash60


def hash_bucket(key):
    """Stable bucket 0..99 from the row key (column or name)."""
    c = F.col(key) if isinstance(key, str) else key
    return portable_hash60(c.cast("string")) % 100


def with_split(docs: DataFrame) -> DataFrame:
    """Assign train/val/test split labels (80/10/10) by the hash bucket
    of ``doc_id``."""
    b = hash_bucket("doc_id")
    return docs.withColumn(
        "split",
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def deterministic_shuffle(docs: DataFrame) -> DataFrame:
    """Global training-order randomization: every row gets a total-order
    ``shuffle_rank`` by md5-hash of its ``doc_id`` — a deterministic permutation
    that is identical across engines, runs and cluster layouts.

    Scale shape: a naive ``row_number() OVER (ORDER BY hash)`` funnels
    the corpus through ONE task.  Instead: range-repartition on the hash
    into 32 ranges,
    sort within partitions (Spark's distributed sort), then add each
    range's cumulative row offset (a tiny driver-side frame, broadcast
    back).  Rank is independent of the sampled range boundaries, so the
    result is stable even though the partitioner samples.
    """
    from pyspark.sql.window import Window

    h = portable_hash60(F.col("doc_id").cast("string"))
    parted = (
        docs.withColumn("_h", h)
        .repartitionByRange(32, "_h", "doc_id")
        .sortWithinPartitions("_h", "doc_id")
        .withColumn("_pid", F.spark_partition_id())
        # materialize once: the size pass and the rank pass below must see
        # the SAME range boundaries (the partitioner samples its bounds)
        .localCheckpoint()
    )
    sizes = parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.withColumn(
        "_offset", F.coalesce(F.sum("_n").over(off_w), F.lit(0))
    ).select("_pid", "_offset")
    in_part = Window.partitionBy("_pid").orderBy("_h", "doc_id")
    return (
        parted.join(F.broadcast(offsets), "_pid")
        .withColumn(
            "shuffle_rank",
            (F.row_number().over(in_part) + F.col("_offset") - 1).cast("long"),
        )
        .drop("_h", "_pid", "_offset")
    )


def weighted_sample_topk(docs: DataFrame, weight_col, k: int = 50) -> DataFrame:
    """Weight-proportional sample WITHOUT replacement via the
    Efraimidis–Spirakis A-ES scheme: each row draws a uniform
    u ∈ (0, 1] and is ranked by ln(u)/w (the log-domain form of
    u^(1/w) — same order, but the values spread across the double range
    instead of crowding at 1.0, which keeps the top-k cutoff stable in
    floating point).  The k largest sort keys ARE a weighted sample
    without replacement — one distributed TakeOrdered, no sequential
    pass, no rejection loop.

    The uniform comes from the portable md5 hash of the row key, not a
    seeded RNG, so the selected set is a pure function of the data —
    identical across engines, runs, partitionings and cluster sizes
    (the same argument as ``with_split``; a seeded ``rand()`` column
    changes under repartitioning).
    """
    w = (F.col(weight_col) if isinstance(weight_col, str) else weight_col).cast(
        "double"
    )
    # (hash + 1) / 2^60 ∈ (0, 1] — never 0, so ln() is defined
    u = (portable_hash60(F.col("doc_id").cast("string")) + 1) / F.lit(float(1 << 60))
    # zero/negative weights: probability 0 — NULL sort key (ANSI Spark
    # would throw DIVIDE_BY_ZERO; DuckDB x/0.0 is NULL), and desc() is
    # nulls-last on both engines, so weightless rows are only drawn
    # after every weighted row — identical selection sets
    sort_key = F.when(w > 0, F.log(u) / w)  # negative; larger = selected
    return (
        docs.withColumn("_sk", sort_key)
        .orderBy(F.col("_sk").desc(), F.col("doc_id"))
        .limit(k)
        .drop("_sk")
    )


def temperature_mix(docs: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Temperature-based source reweighting (the multinomial mixture
    rule multilingual/multi-source pre-training uses: p_s ∝ n_s^alpha,
    alpha<1 upsamples small sources).

    Per source: token count, mixture weight p_s, the relative sampling
    rate that realises the mix at constant total token budget
    (rate_s = p_s · Σn / n_s, capped at 1 — down-sampling only, so the
    pass stays single-scan), and the number of documents the
    deterministic md5 gate keeps at that rate.  Everything is one
    aggregate + one 20-row broadcastable join back; the keep decision is
    a pure function of doc_id, so the realised sample is stable across
    engines and repartitionings.
    """
    from puma_matcher_spark.llmdata.textstats import tokens
    from puma_matcher_spark.functions.rounding import pround

    n_tok = F.size(tokens(F.lower(F.col("text")))).cast("long")
    per_doc = docs.select(
        "doc_id", "source", n_tok.alias("n_tokens")
    )
    per_src = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    tot = per_src.agg(F.sum("n_tokens").cast("double").alias("t"))
    wsum = per_src.agg(
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))).alias("ws")
    )
    rate_raw = (
        F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
        / wsum.scalar()
        * tot.scalar()
        / F.col("n_tokens").cast("double")
    )
    rated = per_src.withColumn("rate", F.least(F.lit(1.0), rate_raw))
    # deterministic keep: md5 fraction of doc_id < rate  (2^60 ≡ the
    # portable_hash60 range, so the fraction is uniform on [0, 1))
    frac = portable_hash60(F.col("doc_id").cast("string")) / F.lit(float(1 << 60))
    kept = (
        per_doc.join(rated.select("source", "rate"), "source")
        .where(frac < F.col("rate"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
    )
    return (
        rated.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            pround(
                F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
                / wsum.scalar(),
                4,
            ).alias("mix_weight"),
            pround(F.col("rate"), 4).alias("sample_rate"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def quality_stratified_sample(docs: DataFrame, per_source: int = 20) -> DataFrame:
    """Top-N documents per source by lexical diversity (distinct-token
    ratio, deterministic doc_id tie-break) — the "best of each stream"
    selection step of a curation mix.

    The rank runs on the ROUNDED ratio so the keep set is identical in
    any engine.  Scale note: rank-over-partition sorts each source's
    rows; with extreme per-source cardinality swap in a two-phase
    partial top-k (per-partition TakeOrdered, then merge) behind the
    same output contract — for realistic source counts the window is the
    simpler, AQE-balanced plan.
    """
    from pyspark.sql.window import Window

    from puma_matcher_spark.functions.rounding import pround
    from puma_matcher_spark.llmdata.textstats import tokens

    toks = tokens(F.lower(F.col("text")))
    # token-less docs: NULL ratio (Spark 0.0/0.0 is NaN, which sorts
    # ABOVE every value in a desc sort, while DuckDB 0.0/0.0 is NULL and
    # sorts last — NULL on both sides keeps the rank identical; Spark's
    # desc() default is nulls-last like DuckDB's)
    n_tok = F.size(toks)
    m = docs.select(
        "doc_id",
        "source",
        F.when(
            n_tok > 0,
            pround(
                F.size(F.array_distinct(toks)).cast("double")
                / n_tok.cast("double"),
                4,
            ),
        ).alias("distinct_ratio"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("distinct_ratio").desc(), F.col("doc_id").asc()
    )
    return (
        m.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sample_rank") <= per_source)
    )
