"""Picture matching family: perceptual-hash similarity.

Reference:

* ``PictureMatcher`` (matcher/PictureMatcher.scala:46-94, J5/M2) —
  256-bit blockhash vectors → ``MinHashLSH(numHashTables=3)
  .approxSimilarityJoin(0.15)``, post-filtered ``dv1 < dv2``, size filter
  width/height ≥ 150.

Rebuild: Hamming distance between 64-bit fingerprints is a pure column
expression, ``bit_count(xor)`` (codegen, no UDF).  The LSH path
(:func:`minhash_lsh_pairs_portable`) uses the portable MinHash operators
of llmdata.dedup instead of ml's JVM-seeded ``MinHashLSH``, so the oracle
reproduces every hash.  ``PictureScorer`` (scorer/PictureScorer.scala:
42-91) and ``Level2PictureMatcher`` (J13) have no registered query and
are not rebuilt.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hamming_long(a: Column, b: Column) -> Column:
    """Hamming distance between 64-bit fingerprints (SimHash pairs)."""
    return F.bit_count(a.bitwiseXOR(b))


def picture_size_filter(pictures: DataFrame, min_size: int = 150) -> DataFrame:
    """P11 — drop small images (PictureMatcher.scala:46)."""
    return pictures.where(
        (F.col("width") >= min_size) & (F.col("height") >= min_size)
    )


def minhash_lsh_pairs_portable(
    fingerprints: DataFrame,
    id_col: str = "document_version_id",
    fp_col: str = "fingerprint",
    threshold: float = 0.3,
) -> DataFrame:
    """J5/M2 on portable arithmetic (PictureMatcher.scala:54-67 rebuild).

    The set-bit positions (0..59) of the fingerprint form the element
    set; 8 seed-suffixed md5 minhashes band, 2 per band, into LSH
    buckets — the exact same machinery as llmdata.dedup
    (minhash_signatures/lsh_band_keys), so a DuckDB oracle reproduces
    every hash bit-for-bit.  Candidate pairs are
    then verified with exact bit-set Jaccard and kept when
    ``jaccard_dist <= threshold`` — the same output contract as
    ``ml.feature.MinHashLSH.approxSimilarityJoin`` but with engine-
    independent hashing (the ml implementation's hash functions are
    JVM-seeded, which forced a rows-only correctness check).

    Scale shape: bit explode is ≤64 rows/doc map-side; candidates come
    from a band equi-join, never all-pairs; the exact verification only
    touches candidate pairs.
    """
    from puma_matcher_spark.functions.caching import persist_rotating
    from puma_matcher_spark.llmdata import dedup as dd
    from puma_matcher_spark.functions.rounding import pround

    # persisted (r11): the set-bit frame feeds the signature chain, the
    # per-doc sizes (read twice) and both exact-verify join sides — five
    # plan branches that otherwise EACH re-derive the fingerprint
    # computation upstream (for the exported picture_lsh_pairs that is
    # the full tokenize→md5→bit-vote simhash of the corpus)
    bits = persist_rotating(
        fingerprints.select(F.col(id_col).alias("doc_id"), F.col(fp_col).alias("_fp"))
        .select(
            "doc_id",
            "_fp",
            F.explode(F.sequence(F.lit(0), F.lit(59))).alias("bit"),
        )
        .where(F.expr("shiftright(_fp, bit) & 1 = 1"))
        .select("doc_id", F.col("bit").cast("string").alias("shingle"))
    )
    sigs = dd.minhash_signatures(bits, 8)
    cand = dd.lsh_candidate_pairs(
        dd.lsh_band_keys(sigs, 2, 8), max_bucket_size=None
    )
    sizes = bits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    s1 = bits.select(F.col("doc_id").alias("doc1_id"), "shingle")
    s2 = bits.select(F.col("doc_id").alias("doc2_id"), "shingle")
    common = (
        cand.join(s1, "doc1_id")
        .join(s2, ["doc2_id", "shingle"])
        .groupBy("doc1_id", "doc2_id")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    n1 = sizes.select(F.col("doc_id").alias("doc1_id"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col("doc_id").alias("doc2_id"), F.col("n").alias("n2"))
    dist = F.lit(1.0) - F.col("common") / (
        F.col("n1") + F.col("n2") - F.col("common")
    )
    return (
        common.join(n1, "doc1_id")
        .join(n2, "doc2_id")
        .withColumn("jaccard_dist", pround(dist, 4))
        .where(F.col("jaccard_dist") <= threshold)
        .select(
            F.col("doc1_id").alias("document_version1_id"),
            F.col("doc2_id").alias("document_version2_id"),
            "jaccard_dist",
        )
    )
