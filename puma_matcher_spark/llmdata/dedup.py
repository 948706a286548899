"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Design for 100 TB:

* **exact** — one md5 per doc map-side, one groupBy shuffle on the hash.
* **MinHash+LSH** — shingle → k minhashes → band keys; candidate pairs come
  from an equi-join on (band, band_key), never an all-pairs product.  Band
  buckets are the only skew risk (boilerplate documents); cap bucket size
  like the entity-frequency guard.
* **n-gram Jaccard** — exact verification on LSH candidates (or direct
  shingle-join candidates at small scale).

The minhash here is deliberately *portable arithmetic* (md5-derived 60-bit
integers, seed-suffix rehash) rather than JVM hash functions, so the DuckDB
oracle can reproduce it bit-for-bit.  ``conv(substr(md5(x),1,15),16,10)``
≡ DuckDB ``('0x' || substr(md5(x),1,15))::bigint``.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints at module scope

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from puma_matcher_spark.llmdata.textstats import tokens
from puma_matcher_spark.functions.caching import persist_rotating
from puma_matcher_spark.functions.rounding import pround

DEFAULT_NUM_HASHES = 8
DEFAULT_BAND_SIZE = 2  # 8 hashes / 2 per band = 4 bands
DEFAULT_SHINGLE = 3


def portable_hash60(c: Column) -> Column:
    """Deterministic 60-bit positive hash identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup: group by content hash, keep the min doc_id as canonical.

    The hash is :func:`puma_matcher_spark.llmdata.textstats.with_fingerprint`
    — ONE fingerprint definition everywhere, including its NULL for
    token-less documents (groupBy folds the NULLs into one group, same
    as the DuckDB twin's GROUP BY over md5(NULL))."""
    from puma_matcher_spark.llmdata.textstats import with_fingerprint

    return (
        with_fingerprint(docs)
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("doc_count"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def _shingle_expr(
    docs: DataFrame, n: int, text_col: str
) -> tuple[DataFrame, Column]:
    """(base, expr): the (doc_id, _tk) frame and the distinct-shingle-array
    Column over it — the single definition shared by :func:`shingles` and
    :func:`shingle_arrays`, so the shingle set feeding join candidates and
    the one feeding verify embeddings can never drift apart.

    The heavy expression work is pipelined with the scan, so its
    parallelism equals the input split count: ``spread_input`` leaves a
    many-split corpus alone and round-robins the (cheap, pre-explode)
    document rows of a small single-row-group fixture up to the
    session's shuffle parallelism."""
    from puma_matcher_spark.operators.skew import spread_input

    docs = spread_input(docs)
    base = docs.select("doc_id", tokens(F.lower(F.col(text_col))).alias("_tk"))
    cnt = F.size("_tk")
    idx = F.when(cnt >= n, F.sequence(F.lit(1), cnt - n + 1)).otherwise(
        F.array().cast("array<int>")
    )
    sh_arr = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("_tk"), i + j) for j in range(n)]
        ),
    )
    return base, F.array_distinct(sh_arr)


def shingle_arrays(docs: DataFrame, n: int = DEFAULT_SHINGLE) -> DataFrame:
    """(doc_id, shingle_arr) — the distinct word-n-gram array per document,
    fully map-side, BEFORE any explode (the embedding/count-vector entry
    point; :func:`shingles` is the exploded twin)."""
    base, e = _shingle_expr(docs, n, "text")
    return base.select("doc_id", e.alias("shingle_arr"))


def shingles(docs: DataFrame, n: int = DEFAULT_SHINGLE) -> DataFrame:
    """Distinct word n-gram shingles per document — fully map-side.

    The shingle array is built inside the row with higher-order array
    functions (transform over a position sequence + element_at), then
    array_distinct'ed BEFORE the explode: no shuffle, no 1-row-per-token
    blowup between scan and explode.  The previous formulation
    (posexplode + lead() windows) shuffled every token row on doc_id;
    at corpus scale that exchange dominated the whole dedup plane.

    The explode argument must stay the INLINE expression, never a
    projected attribute: Catalyst's InferFiltersFromGenerate skips
    expensive generator inputs, but an attribute input is "cheap", gets a
    size()>0 filter inferred, and projection collapse then substitutes
    the WHOLE shingle expression into that filter — measured 5-6x on
    minhash_pairs/ngram_jaccard/incremental_near_dups when a round-6
    refactor briefly exploded an aliased column (PLANS.md §round-6).
    Scan parallelism: see :func:`_shingle_expr`.
    """
    base, e = _shingle_expr(docs, n, "text")
    return base.select("doc_id", F.explode(e).alias("shingle"))


def minhash_signatures(
    shingle_df: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """k seed-suffixed md5 minhashes per doc: min over shingles of
    hash60(shingle || '#' || seed), as WIDE columns mh0..mh{k-1}.

    One groupBy on doc_id with k min-aggregates (map-side partial
    combine) — the tall formulation (explode ×k seeds → groupBy
    (doc, seed)) shuffles k× the shingle rows and then needs a second
    aggregation to band; the wide form cut minhash_pairs from ~2.5 s to
    ~1.6 s at sf0.1.  Same hash arithmetic, so the DuckDB oracle is
    unchanged.
    """
    aggs = [
        F.min(
            portable_hash60(
                F.concat_ws("#", F.col("shingle"), F.lit(str(i)))
            )
        ).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return shingle_df.groupBy("doc_id").agg(*aggs)


def lsh_band_keys(
    signatures: DataFrame,
    band_size: int = DEFAULT_BAND_SIZE,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """Band keys from wide signatures: md5 of the '-'-joined minhashes of
    each band, exploded to (doc_id, band, band_key) rows map-side — no
    extra shuffle (band order is the fixed column order, deterministic
    by construction)."""
    structs = []
    for b in range(num_hashes // band_size):
        cols = [
            F.col(f"mh{b * band_size + j}").cast("string")
            for j in range(band_size)
        ]
        structs.append(
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.md5(F.concat_ws("-", *cols)).alias("band_key"),
            )
        )
    return signatures.select(
        "doc_id", F.explode(F.array(*structs)).alias("_bb")
    ).select(
        "doc_id", F.col("_bb.band").alias("band"), F.col("_bb.band_key").alias("band_key")
    )


DEFAULT_MAX_BUCKET = 2000  # same spirit as the sentence-occurrence cap


def _cap_buckets(
    band_keys: DataFrame, max_bucket_size: int | None
) -> DataFrame:
    """Drop the (band, band_key) buckets holding more than
    ``max_bucket_size`` docs (``None``: keep all) — a count over a window
    partitioned like the bucket join that follows, so no extra exchange."""
    from pyspark.sql.window import Window

    if max_bucket_size is None:
        return band_keys
    bucket_w = Window.partitionBy("band", "band_key")
    return (
        band_keys.withColumn("_n", F.count(F.lit(1)).over(bucket_w))
        .where(F.col("_n") <= max_bucket_size)
        .drop("_n")
    )


def lsh_candidate_pairs(
    band_keys: DataFrame,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    persist_buckets: bool = True,
) -> DataFrame:
    """Docs sharing any band bucket → distinct candidate pairs (dv1 < dv2).

    ``max_bucket_size`` is the boilerplate guard: a (band, band_key)
    bucket holding B docs yields B² pairs, so one giant cluster of
    near-identical boilerplate (cookie banners, licence headers) would
    go quadratic.  Buckets above the cap are dropped from candidate
    generation — the same count-over-window trick as the sentence cap,
    reusing the shuffle partitioning the self-join needs anyway (no
    extra exchange, no broadcast dictionary).
    """
    band_keys = _cap_buckets(band_keys, max_bucket_size)
    # persist the (capped) bucket rows (r11): the self-join's second side
    # used to re-derive the WHOLE upstream chain — the planner broadcasts
    # one side, and a BroadcastExchange can never reuse the other side's
    # shuffle exchange, so tokenize→shingle→minhash→band ran twice per
    # query (4 parquet scans in the r10 minhash_pairs plan; 2 after).
    # ``persist_buckets=False`` is for callers whose band_keys lineage is
    # unique per run (the curation pipeline: docs arrive semi-joined
    # against a fresh localCheckpoint of keep ids, so no two runs share a
    # cache entry and the ring accumulates dead sf-sized caches —
    # measured +1.9 s and monotone-growing samples on curation_report).
    if persist_buckets:
        band_keys = persist_rotating(band_keys)
    a = band_keys.select("band", "band_key", F.col("doc_id").alias("doc1_id"))
    b = band_keys.select("band", "band_key", F.col("doc_id").alias("doc2_id"))
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("doc1_id") < F.col("doc2_id"))
        .select("doc1_id", "doc2_id")
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    persist_buckets: bool = True,
) -> DataFrame:
    """Full MinHash-LSH near-dup candidate pipeline.  See
    :func:`lsh_candidate_pairs` for the ``persist_buckets`` contract."""
    return lsh_candidate_pairs(
        lsh_band_keys(minhash_signatures(shingles(docs))),
        max_bucket_size,
        persist_buckets=persist_buckets,
    )


def minhash_incremental_pairs(
    new_docs: DataFrame,
    corpus: DataFrame,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Ingestion-time near-dup scan: LSH candidates between a NEW batch
    and the existing corpus only — never corpus × corpus.

    This is the daily-ingest shape at 100 TB: the corpus band keys are a
    precomputable index (in production, persisted and bucketed by
    (band, band_key)); each batch computes its own band keys map-side
    and pays ONE equi-join whose left side is batch-sized.  The bucket
    cap applies to the corpus side (boilerplate buckets there are the
    quadratic risk; the batch is small by definition).

    Output: (new_doc_id, corpus_doc_id) distinct candidate pairs.
    """
    cb = lsh_band_keys(minhash_signatures(shingles(corpus)))
    return minhash_incremental_pairs_indexed(
        shingles(new_docs), cb, max_bucket_size
    )


@dataclass
class DedupIndex:
    """Precomputed per-document dedup index — the persistable state the
    incremental-ingest plane joins against instead of re-deriving the
    corpus fingerprints/band keys/shingles from text every batch (the
    production shape minhash_incremental_pairs documents: the corpus
    side is a precomputable index).

    Components (all keyed by doc_id):
      * ``fingerprints`` — (doc_id, fingerprint): exact-dedup content md5;
      * ``band_keys`` — (doc_id, band, band_key): MinHash-LSH bucket keys;
      * ``shingles`` — (doc_id, shingle): distinct word n-grams, the
        exact-Jaccard verify input (only candidate docs' rows are ever
        joined; at 100 TB this component lives in a bucketed/sorted table
        so candidate-id lookups prune files instead of scanning).

    All three are hash/shingle-width rows — a consumer never needs the
    corpus TEXT again.
    """

    fingerprints: DataFrame
    band_keys: DataFrame
    shingles: DataFrame


def build_dedup_index(docs: DataFrame) -> DedupIndex:
    """One map-side pass family over ``docs`` producing the three
    :class:`DedupIndex` components with the exact kernels the text-input
    operators use (with_fingerprint / minhash_signatures / shingles), so
    the indexed operators are result-identical to :func:`incremental_ingest`
    and :func:`minhash_incremental_pairs`."""
    from puma_matcher_spark.llmdata.textstats import with_fingerprint

    sh = shingles(docs)
    return DedupIndex(
        fingerprints=with_fingerprint(docs).select(
            "doc_id", "fingerprint"
        ),
        band_keys=lsh_band_keys(minhash_signatures(sh)),
        shingles=sh,
    )


def minhash_incremental_pairs_indexed(
    new_shingles: DataFrame,
    corpus_band_keys: DataFrame,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """:func:`minhash_incremental_pairs` with both sides past the text:
    the batch as its :func:`shingles` (which an exact-Jaccard verify
    reuses) and the corpus as an index (``(doc_id, band, band_key)``
    rows, e.g. a :class:`DedupIndex`.band_keys) — the per-batch cost
    drops to the batch's own map-side minhashing plus ONE equi-join
    against hash-width rows; the corpus text is never touched."""
    nb = lsh_band_keys(minhash_signatures(new_shingles))
    cb = _cap_buckets(corpus_band_keys, max_bucket_size)
    return (
        nb.select("band", "band_key", F.col("doc_id").alias("new_doc_id"))
        .join(
            cb.select(
                "band", "band_key", F.col("doc_id").alias("corpus_doc_id")
            ),
            ["band", "band_key"],
        )
        .select("new_doc_id", "corpus_doc_id")
        .distinct()
    )


def incremental_ingest_indexed(
    new_docs: DataFrame,
    corpus_fingerprints: DataFrame,
) -> DataFrame:
    """:func:`incremental_ingest` with the corpus side already an index
    (``(doc_id, fingerprint)`` rows): left-anti the new batch's
    fingerprints against the distinct corpus fingerprints, then one
    representative per fingerprint within the batch."""
    from puma_matcher_spark.llmdata.textstats import with_fingerprint

    newf = with_fingerprint(new_docs)
    oldf = corpus_fingerprints.select("fingerprint").distinct()
    fresh = newf.join(oldf, "fingerprint", "left_anti")
    return (
        fresh.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fingerprint")
    )


def jaccard_for_pairs_from_shingles(
    sh: DataFrame, pairs: DataFrame
) -> DataFrame:
    """:func:`jaccard_for_pairs` starting from a prebuilt ``(doc_id,
    shingle)`` frame (e.g. a :class:`DedupIndex`.shingles union with the
    batch's own shingles) — identical arithmetic, no text re-shingle."""
    ids = (
        pairs.select(F.col("doc1_id").alias("doc_id"))
        .union(pairs.select(F.col("doc2_id").alias("doc_id")))
        .distinct()
    )
    sh = sh.join(ids, "doc_id", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    s1 = sh.select(F.col("doc_id").alias("doc1_id"), "shingle")
    s2 = sh.select(F.col("doc_id").alias("doc2_id"), "shingle")
    common = (
        pairs.join(s1, "doc1_id")
        .join(s2, ["doc2_id", "shingle"])
        .groupBy("doc1_id", "doc2_id")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    n1 = sizes.select(
        F.col("doc_id").alias("doc1_id"), F.col("n_shingles").alias("n1")
    )
    n2 = sizes.select(
        F.col("doc_id").alias("doc2_id"), F.col("n_shingles").alias("n2")
    )
    return (
        common.join(n1, "doc1_id")
        .join(n2, "doc2_id")
        .withColumn(
            "jaccard",
            pround(
                F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")), 4
            ),
        )
        .select("doc1_id", "doc2_id", "common", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    shingle_n: int = DEFAULT_SHINGLE,
    max_shingle_df: int = 2000,
) -> DataFrame:
    """Exact n-gram Jaccard over shingle-join candidates.

    ``max_shingle_df`` is the boilerplate guard: shingles present in more
    than that many docs are dropped from candidate *generation* (they would
    produce quadratic pairs) but still counted in the per-doc sizes, so
    Jaccard stays exact for the pairs that survive.
    """
    from pyspark.sql.window import Window

    sh = shingles(docs, shingle_n)
    # df cap via count-over-window: the kept-shingle set is nearly the full
    # shingle dictionary, so a broadcast semi-join would ship it whole.
    # The windowed frame is PERSISTED (r11): the per-doc sizes and BOTH
    # pair-join sides read the cache, so the corpus is tokenized/shingled
    # once and the shingle-key window shuffle runs once — the pre-r11 plan
    # re-derived the shingle explode 4x (sizes + the window separately per
    # self-join side).
    shw = persist_rotating(
        sh.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
    )
    sizes = shw.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    rare = shw.where(F.col("_df") <= max_shingle_df).drop("_df")
    a = rare.select("shingle", F.col("doc_id").alias("doc1_id"))
    b = rare.select("shingle", F.col("doc_id").alias("doc2_id"))
    common = (
        a.join(b, "shingle")
        .where(F.col("doc1_id") < F.col("doc2_id"))
        .groupBy("doc1_id", "doc2_id")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    s1 = sizes.select(
        F.col("doc_id").alias("doc1_id"), F.col("n_shingles").alias("n1")
    )
    s2 = sizes.select(
        F.col("doc_id").alias("doc2_id"), F.col("n_shingles").alias("n2")
    )
    # s1/s2 are per-document size frames — linear in the corpus, so no
    # broadcast hint; AQE broadcasts only when the runtime size fits.
    return (
        common.join(s1, "doc1_id")
        .join(s2, "doc2_id")
        .withColumn(
            "jaccard",
            pround(
                F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")), 4
            ),
        )
        .select("doc1_id", "doc2_id", "common", "jaccard")
    )


def jaccard_for_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY for the given candidate pairs.

    This is the scale-correct verifier for LSH output: work is
    |pairs| × avg-shingles, not the shingle self-join's quadratic blowup.
    The shingle table is first semi-joined to the doc ids that appear in
    any pair, so at 100 TB the exact pass touches only the (tiny) LSH
    candidate neighbourhood, which is the entire point of banding.

    Pairs sharing zero shingles are absent from the output (their Jaccard
    is 0 — callers threshold above that anyway).
    """
    return jaccard_for_pairs_from_shingles(shingles(docs), pairs)


def simhash64_one(text: str) -> int:
    """The per-document kernel of :func:`simhash64` (60 voting bits in a
    non-negative long) — module-level so the pure arithmetic is directly
    unit/property-testable without Spark (tests/test_properties.py
    fuzzes it against an independent big-int implementation, as it does
    :func:`simhash128_one`)."""
    import hashlib
    from collections import Counter

    import numpy as np

    toks = [t for t in (text or "").lower().split(" ") if t]
    if not toks:
        return 0
    shifts = np.arange(60, dtype=np.uint64)
    tf = Counter(toks)
    hs = np.array(
        [int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16) for t in tf],
        dtype=np.uint64,
    )
    cnt = np.fromiter(tf.values(), dtype=np.int64, count=len(tf))
    bits = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
    votes = ((2 * bits - 1) * cnt[:, None]).sum(axis=0)
    return int(((votes > 0).astype(np.uint64) << shifts).sum())


def simhash64(docs: DataFrame) -> DataFrame:
    """64-bit SimHash over tokens (weighted bit-vote, portable arithmetic).

    Per token: hash60 = the first 15 hex chars of md5 as an integer; for
    each of its 60 bit positions the token votes +tf / -tf, and the
    fingerprint sets the bits with a positive vote.  The whole
    fingerprint is computed inside one Arrow-batched pandas UDF
    (:func:`simhash64_one`): no token explode, no 60× bit blowup, no
    shuffle — a pure map stage Catalyst pipelines with the scan.  ~6×
    faster than the former explode(token) × explode(bit) formulation at
    sf0.1 (0.09 vs 0.59 s), bit-identical to it.  Python md5 ≡ JVM md5
    ≡ DuckDB md5, so the oracle reproduces every fingerprint; the
    banded-candidate growth of this 60-bit fingerprint at 10x is in
    PLANS.md "Round-6: dedup-plane candidate growth at 10x".  Token-less
    documents get fingerprint 0; callers that must match the oracle's
    tf-based fingerprint table filter them out first
    (``textstats.has_tokens``).
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        return texts.map(simhash64_one).astype("int64")

    return docs.select("doc_id", _simhash(F.col("text")).alias("simhash"))


def simhash128_one(text: str) -> tuple[int, int]:
    """The per-document 128-bit SimHash kernel (two signed-long halves) —
    module-level so the pure arithmetic is directly unit/property-testable
    without Spark (tests/test_properties.py fuzzes it against an
    independent big-int implementation)."""
    import hashlib
    from collections import Counter

    import numpy as np

    toks = [t for t in (text or "").lower().split(" ") if t]
    if not toks:
        return 0, 0
    shifts = np.arange(64, dtype=np.uint64)
    tf = Counter(toks)
    digests = [hashlib.md5(t.encode("utf-8")).hexdigest() for t in tf]
    h_hi = np.array([int(d[:16], 16) for d in digests], dtype=np.uint64)
    h_lo = np.array([int(d[16:], 16) for d in digests], dtype=np.uint64)
    cnt = np.fromiter(tf.values(), dtype=np.int64, count=len(tf))

    def fold(h) -> int:
        bits = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).astype(
            np.int64
        )
        votes = ((2 * bits - 1) * cnt[:, None]).sum(axis=0)
        word = ((votes > 0).astype(np.uint64) << shifts).sum()
        return int(np.uint64(word).astype(np.int64))

    return fold(h_hi), fold(h_lo)


def simhash128_mapside(docs: DataFrame) -> DataFrame:
    """128-bit SimHash as two signed longs ``(simhash_hi, simhash_lo)`` —
    the wide-fingerprint kernel that kills the random band-collision
    quadratic term measured on the 60-bit plane (PLANS.md §round-6:
    net candidate exponent 1.88 at 5k→50k from n²·bands/2¹⁵ collisions).

    Per token the FULL md5 digest supplies the bit hash: hex[0:16] votes
    fingerprint bits 64..127 (``simhash_hi``), hex[16:32] votes bits
    0..63 (``simhash_lo``); votes are ±tf, a set bit means a positive
    vote — the same arithmetic as :func:`simhash64`, twice.  Python md5
    ≡ DuckDB md5, and the two halves parse portably
    (``('0x'||substr(md5(t),1,16))::UBIGINT``), so the oracle reproduces
    both longs bit-for-bit (the sign bit falls out of two's complement
    on both sides).  Zero shuffle: one Arrow-batched map stage.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType, StructField, StructType

    _one = simhash128_one

    out_t = StructType(
        [
            StructField("simhash_hi", LongType()),
            StructField("simhash_lo", LongType()),
        ]
    )

    @pandas_udf(out_t)
    def _simhash(texts: pd.Series) -> pd.DataFrame:
        pairs = texts.map(_one)
        return pd.DataFrame(
            {
                "simhash_hi": pairs.map(lambda p: p[0]).astype("int64"),
                "simhash_lo": pairs.map(lambda p: p[1]).astype("int64"),
            }
        )

    fp = _simhash(F.col("text"))
    return docs.select(
        "doc_id",
        fp.getField("simhash_hi").alias("simhash_hi"),
        fp.getField("simhash_lo").alias("simhash_lo"),
    )


def _fp128_block(start: int, width: int) -> Column:
    """Bits ``[start, start+width)`` of the 128-bit fingerprint held in the
    signed-long pair (``simhash_hi`` = bits 64..127, ``simhash_lo`` =
    bits 0..63), as a non-negative long.  Handles blocks that straddle
    the 64-bit word boundary; ``shiftrightunsigned`` keeps the sign bit
    out of the extraction."""
    hi, lo = F.col("simhash_hi"), F.col("simhash_lo")
    if width == 64:
        # whole-word block (n_blocks=2): the mask literal (2^64-1) would
        # overflow a signed long — the word IS the block
        assert start in (0, 64)
        return lo if start == 0 else hi
    if start >= 64:
        return F.shiftrightunsigned(hi, start - 64).bitwiseAND(
            F.lit((1 << width) - 1)
        )
    if start + width <= 64:
        return F.shiftrightunsigned(lo, start).bitwiseAND(
            F.lit((1 << width) - 1)
        )
    lo_bits = 64 - start
    hi_bits = width - lo_bits
    lo_part = F.shiftrightunsigned(lo, start).bitwiseAND(
        F.lit((1 << lo_bits) - 1)
    )
    hi_part = hi.bitwiseAND(F.lit((1 << hi_bits) - 1))
    return lo_part.bitwiseOR(F.shiftleft(hi_part, lo_bits))


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    shingle_n: int = 8,
) -> DataFrame:
    """Benchmark-contamination scan: corpus documents sharing any word
    n-gram with a held-out evaluation set — the standard pre-training
    hygiene check before a data release.

    Same scale shape as the dedup plane: one shingle equi-join (never
    all-pairs); the benchmark side is usually tiny, so AQE broadcasts
    it at runtime.  Output: (corpus_id, benchmark_id, shared_ngrams).
    """
    c = shingles(corpus, shingle_n).withColumnRenamed(
        "doc_id", "corpus_id"
    )
    b = shingles(benchmark, shingle_n).withColumnRenamed(
        "doc_id", "benchmark_id"
    )
    return (
        c.join(b, "shingle")
        .groupBy("corpus_id", "benchmark_id")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_ngrams"))
    )


def containment_scores(
    corpus: DataFrame,
    benchmark: DataFrame,
    shingle_n: int = 8,  # matches contamination_check — a caller swapping
    # between the two siblings with default args must not silently switch
    # from 8-gram to far-looser 3-gram overlap
) -> DataFrame:
    """Normalised benchmark containment — the severity metric
    decontamination pipelines threshold on (e.g. the GPT-3 appendix's
    13-gram overlap checks): for each (corpus doc c, eval doc e) sharing
    at least one n-gram, containment = |sh(e) ∩ sh(c)| / |sh(e)| — the
    FRACTION of the eval example present in the training doc, which
    :func:`contamination_check`'s raw shared counts don't normalise.

    Output: (corpus_id, benchmark_id, shared_ngrams, containment),
    containment rounded to 4 decimals.  Same scale shape as the scan:
    one shingle equi-join (benchmark side tiny → AQE broadcast), plus a
    benchmark-size aggregate that is |benchmark|-bounded.
    """
    shared = contamination_check(corpus, benchmark, shingle_n)
    bsz = (
        shingles(benchmark, shingle_n)
        .groupBy(F.col("doc_id").alias("benchmark_id"))
        .agg(F.count(F.lit(1)).alias("_nb"))
    )
    return (
        shared.join(bsz, "benchmark_id")
        .where(F.col("corpus_id") != F.col("benchmark_id"))
        .select(
            "corpus_id",
            "benchmark_id",
            "shared_ngrams",
            pround(F.col("shared_ngrams") / F.col("_nb"), 4).alias(
                "containment"
            ),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    shingle_n: int = 8,
) -> DataFrame:
    """Drop every corpus document sharing any word n-gram with the
    held-out benchmark — the *action* :func:`contamination_check`'s scan
    implies, as one plan: shingle equi-join → distinct hit ids →
    left-anti join back onto the corpus.  The anti-join keys on doc_id,
    so the expensive shingle comparison happens exactly once and the
    corpus rows are never widened."""
    hits = (
        contamination_check(corpus, benchmark, shingle_n)
        .select(F.col("corpus_id").alias("doc_id"))
        .distinct()
    )
    return corpus.join(hits, "doc_id", "left_anti")


def incremental_ingest(new_docs: DataFrame, corpus: DataFrame) -> DataFrame:
    """Ingestion-time exact dedup for a continuously growing corpus:
    drop new-batch documents whose normalised content fingerprint
    already exists in the corpus (left-anti on the hash — the
    "already processed" pattern the reference uses for picture hashes,
    PictureHashAnalyser2.scala:57), then keep one representative per
    fingerprint *within* the batch (min doc_id).

    Scale shape: the corpus side reduces to distinct fingerprints
    before the anti-join, so the join key set is |unique contents|, and
    both sides shuffle only md5 strings — never text.  Output:
    (doc_id, fingerprint) for the surviving new documents.
    """
    from puma_matcher_spark.llmdata.textstats import with_fingerprint

    return incremental_ingest_indexed(
        new_docs, with_fingerprint(corpus)
    )


def duplicate_spans(docs: DataFrame, shingle_n: int = 10) -> DataFrame:
    """Exact-substring duplicate spans: token ranges covered by any
    ``shingle_n``-gram that occurs more than once in the corpus
    (within- or cross-document) — the span-level dedup signal
    "exact substring deduplication" pipelines cut from training data,
    at word-shingle granularity instead of a suffix array.

    Shape: positional shingles map-side (transform over a sequence, no
    token explode), one gram-count aggregation, a semi-join back onto
    occurrences, then a gaps-and-islands merge of overlapping/adjacent
    hits per document (windowed running max — same pattern as the
    text-match run merger).  All shuffle-partitioned; the gram count has
    the same skew profile as the shingle df-cap and needs no driver
    state.

    Output: (doc_id, span_start, span_end, span_len) with 0-based
    inclusive token positions, spans merged when they overlap or touch.
    """
    from pyspark.sql.window import Window

    base = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("_tk")
    )
    n = shingle_n
    elems = [F.element_at(F.col("_tk"), F.col("_i") + j) for j in range(n)]
    occ = (
        base.select(
            "doc_id",
            F.posexplode(
                F.when(
                    F.size("_tk") >= n,
                    F.sequence(F.lit(1), F.size("_tk") - n + 1),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("_p", "_i"),
            F.col("_tk"),
        )
        .select(
            "doc_id",
            (F.col("_i") - 1).alias("start"),
            F.concat_ws(" ", *elems).alias("shingle"),
        )
    )
    dup = (
        occ.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") > 1)
        .select("shingle")
    )
    hits = occ.join(dup, "shingle", "left_semi").select(
        "doc_id", "start", (F.col("start") + n - 1).alias("end")
    )
    w = Window.partitionBy("doc_id").orderBy("start")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "_new",
        F.when(
            prev_max_end.isNull() | (F.col("start") > prev_max_end + 1), 1
        ).otherwise(0),
    ).withColumn(
        "island",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("doc_id", "island")
        .agg(
            F.min("start").cast("long").alias("span_start"),
            F.max("end").cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def cut_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Apply a duplicate-span cut list (:func:`duplicate_spans`) to the
    corpus: drop every token whose 0-based position falls inside any of
    the document's spans and re-join the survivors — the action
    exact-substring dedup takes on training text.

    The span list rides a per-doc array (collect_list → typically a few
    entries), so the cut itself is a map-side nested higher-order filter;
    the only shuffle is the doc_id join against the (small) span table.

    Output: (doc_id, clean_text, n_tokens_removed).
    """
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("_spans")
    )
    base = docs.join(sp, "doc_id", "left").select(
        "doc_id",
        tokens(F.lower(F.col("text"))).alias("_tk"),
        F.coalesce(
            "_spans", F.array().cast("array<struct<s:bigint,e:bigint>>")
        ).alias("_spans"),
    )
    kept = F.filter(
        "_tk",
        lambda x, i: ~F.exists(
            "_spans", lambda sp_: (i >= sp_["s"]) & (i <= sp_["e"])
        ),
    )
    return base.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        (F.size("_tk") - F.size(kept)).cast("long").alias("n_tokens_removed"),
    )


def jaccard_prefix_join(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact-threshold set-similarity self-join with PPJoin-style prefix
    filtering — the LOSSLESS scalable alternative to LSH for
    ``jaccard >= t``.

    Per document, only the first ``|d| - ceil(t*|d|) + 1`` shingles in
    global rarity order (df asc, shingle asc) are indexed; the prefix
    lemma guarantees any pair with Jaccard >= t shares at least one
    prefix shingle, so the candidate equi-join misses nothing while
    skipping the most common shingles — exactly where the self-join
    blowup lives.  Candidates are then verified with the exact Jaccard.

    Unlike MinHash-LSH this has NO false negatives, so the DuckDB
    oracle is simply the naive all-pairs definition filtered at t.

    Scale shape: one df aggregate, one per-doc rarity window, one
    equi-join on prefix shingles, then :func:`jaccard_for_pairs`-style
    verification on the candidates only.
    """
    from pyspark.sql.window import Window

    # the shingle frame feeds FIVE branches (sizes, df, ranked prefix,
    # both verification sides) — persist it once instead of re-running
    # the tokenize→explode chain per branch (bounded ring, no leak)
    sh = persist_rotating(shingles(docs))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    dfreq = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("shingle").asc()
    )
    ranked = (
        sh.join(dfreq, "shingle")
        .join(sizes, "doc_id")
        .withColumn("pos", F.row_number().over(w))
    )
    # the epsilon guards the float product: t*n for an exactly-integer
    # true value can land a hair ABOVE the integer (0.1*70 →
    # 7.000000000000001), and ceil of that would shorten the prefix
    # below the lossless bound.  Subtracting 1e-9 can only make the
    # prefix LONGER (more candidates) — the safe direction.
    prefix = ranked.where(
        F.col("pos")
        <= F.col("n")
        - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9))
        + 1
    ).select("doc_id", "shingle")
    cand = (
        prefix.select("shingle", F.col("doc_id").alias("doc1_id"))
        .join(prefix.select("shingle", F.col("doc_id").alias("doc2_id")), "shingle")
        .where(F.col("doc1_id") < F.col("doc2_id"))
        .select("doc1_id", "doc2_id")
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("doc1_id"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc2_id"), "shingle")
    common = (
        cand.join(a, "doc1_id")
        .join(b, ["doc2_id", "shingle"])
        .groupBy("doc1_id", "doc2_id")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc1_id"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("doc2_id"), F.col("n").alias("n2"))
    from puma_matcher_spark.functions.rounding import pround

    # threshold on the UNROUNDED ratio: the prefix lemma guarantees
    # candidates only for true jaccard >= t, so filtering on the rounded
    # value could keep a pair (true J just below t, rounds up) that
    # candidate generation was never obliged to produce — the oracle
    # filters unrounded too, keeping the two sides equivalent
    raw_j = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    return (
        common.join(s1, "doc1_id")
        .join(s2, "doc2_id")
        .where(raw_j >= threshold)
        .withColumn("jaccard", pround(raw_j, 4))
        .select("doc1_id", "doc2_id", "common", "jaccard")
    )


def simhash128_keys(
    sh: DataFrame,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """Combination-key frame of the 128-bit block scheme: one row per
    (document × block combination) — exactly ``C(n_blocks, n_blocks -
    max_hamming)`` rows per doc (C(5,2)=10 at the defaults).

    Keys are packed into a TWO-LONG ``(val_lo, val_hi)`` pair (key bits
    0..63 / 64..127): r*width <= b*(128//b) <= 128 always fits, so every
    ``(max_hamming, n_blocks)`` the pigeonhole construction admits is
    joinable — small radii (max_hamming=1 -> 2x42=84-bit keys, =2 ->
    2x32=64) used to trip a single-long <=62-bit assert at runtime.
    Bit-pattern equality is all the equi-join needs, so signedness is
    irrelevant.  Factored out of :func:`simhash128_candidates` so the
    plan-shape CI guard can count the fan-out directly."""
    from itertools import combinations

    b = n_blocks if n_blocks is not None else max_hamming + 2
    assert b > max_hamming, "need more blocks than allowed bit flips"
    r = b - max_hamming  # blocks per combination key
    width = 128 // b
    block_vals = [_fp128_block(i * width, width) for i in range(b)]
    combos = list(combinations(range(b), r))

    def _packed(combo) -> tuple[Column, Column]:
        lo, hi = F.lit(0).cast("long"), F.lit(0).cast("long")
        for pos, j in enumerate(combo):
            v, off = block_vals[j], pos * width
            if off >= 64:
                hi = hi.bitwiseOR(F.shiftleft(v, off - 64))
            elif off + width <= 64:
                lo = lo.bitwiseOR(F.shiftleft(v, off))
            else:  # straddles the word boundary
                lo = lo.bitwiseOR(F.shiftleft(v, off))  # high bits drop off
                hi = hi.bitwiseOR(F.shiftrightunsigned(v, 64 - off))
        return lo, hi

    def _key_struct(ci: int, combo) -> Column:
        lo, hi = _packed(combo)
        return F.struct(
            F.lit(ci).alias("combo"),
            lo.alias("val_lo"),
            hi.alias("val_hi"),
        )

    return sh.select(
        "doc_id",
        F.explode(
            F.array(*[_key_struct(ci, combo) for ci, combo in enumerate(combos)])
        ).alias("k"),
    ).select(
        "doc_id",
        F.col("k.combo").alias("combo"),
        F.col("k.val_lo").alias("val_lo"),
        F.col("k.val_hi").alias("val_hi"),
    )


def simhash128_candidates(
    sh: DataFrame,
    max_hamming: int = 3,
    n_blocks: int | None = None,
    max_band_bucket: int | None = 2000,
) -> DataFrame:
    """Pre-verify candidate pairs of the 128-bit block-combination scheme
    (see :func:`simhash_hamming_pairs`): ``sh`` is a
    ``(doc_id, simhash_hi, simhash_lo)`` frame; output is the distinct
    ``(doc1_id, doc2_id)`` set from the combination-key equi-join over
    :func:`simhash128_keys`.  Exposed separately so candidate volume can
    be measured without the verify join (PLANS.md "Round-6: dedup-plane
    candidate growth at 10x" measured it on the 60-bit layout this
    replaced)."""
    keys = simhash128_keys(sh, max_hamming, n_blocks)
    if max_band_bucket is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("combo", "val_lo", "val_hi")
        keys = keys.withColumn("_n", F.count(F.lit(1)).over(w)).where(
            F.col("_n") <= max_band_bucket
        )
    # persisted (r11): same class as lsh_candidate_pairs — the self-join
    # broadcasts one side, so without the persist the fingerprint + key
    # explode + bucket-cap window chain runs once PER SIDE
    keys = persist_rotating(keys)
    key_cols = ["combo", "val_lo", "val_hi"]
    a = keys.select(*key_cols, F.col("doc_id").alias("doc1_id"))
    bb = keys.select(*key_cols, F.col("doc_id").alias("doc2_id"))
    return (
        a.join(bb, key_cols)
        .where(F.col("doc1_id") < F.col("doc2_id"))
        .select("doc1_id", "doc2_id")
        .distinct()
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    max_band_bucket: int | None = 2000,
    n_blocks: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate self-join with pigeonhole block blocking —
    the web-scale dedup pattern of Manku et al. (WWW'07).  Output:
    (doc1_id, doc2_id, hamming), id1 < id2; the candidate set is
    COMPLETE (a theorem, not a recall knob) and the exact popcount(xor)
    verify keeps only true near-dups.

    The 128-bit fingerprint (:func:`simhash128_mapside`) is split into
    ``n_blocks`` blocks (default ``max_hamming + 2``) and equi-joined on
    EVERY combination of ``n_blocks - max_hamming`` blocks — Manku's
    multi-table construction.  ≤ ``max_hamming`` flips touch ≤
    ``max_hamming`` blocks, so some combination of the clean blocks
    matches exactly: completeness holds, while each join key is
    ``(n_blocks - max_hamming) * (128 // n_blocks)`` bits wide (50 bits
    at the defaults) — the random-collision term n²·keys/2^width that
    made 15-bit single bands quadratic at ≥10⁶ docs (measured exponent
    1.88, PLANS.md §round-6) is pushed past 10¹⁴ docs.  C(5,2)=10 key
    rows/doc vs 4 for the former 60-bit single-band layout: a 2.5×
    map-side explode buys the n² term.

    Scale shape: fingerprints are map-side (zero-shuffle kernel);
    candidates come from ONE equi-join on the combination key — never an
    all-pairs product.  ``max_band_bucket`` caps degenerate buckets
    (boilerplate corpora hashing identically) exactly like the LSH
    band-bucket cap.
    """
    # token-less documents carry NO content signal: their fingerprint is
    # the all-zero vector, which would clique every empty doc with every
    # other ("no content" is not "same content", and a corpus with many
    # blank docs would flood one bucket) — exclude them up front, which
    # also matches the exact all-pairs oracle (docs with no tf rows
    # never enter its fingerprint table).  One definition of
    # "token-less", everywhere: textstats.has_tokens — proven equivalent
    # to size(tokens(text)) > 0 (Spark trim strips only the space char,
    # the tokenizer's sole delimiter) and 2.4x cheaper than building the
    # token array per row just to test emptiness.
    from puma_matcher_spark.llmdata.textstats import has_tokens

    docs = docs.where(has_tokens(F.col("text")))
    # persisted (r11; reverses the earlier "no persist" note): the kernel
    # is zero-SHUFFLE but not zero-COST — each of the three consumers
    # (keys + both verify sides) re-ran the full tokenize→md5→bit-vote
    # pass over the corpus, pure CPU repeated three times.  The cached
    # frame is three longs per doc, the smallest thing in the pipeline.
    sh = persist_rotating(simhash128_mapside(docs))
    cand = simhash128_candidates(sh, max_hamming, n_blocks, max_band_bucket)
    s1 = sh.select(
        F.col("doc_id").alias("doc1_id"),
        F.col("simhash_hi").alias("_h1"),
        F.col("simhash_lo").alias("_l1"),
    )
    s2 = sh.select(
        F.col("doc_id").alias("doc2_id"),
        F.col("simhash_hi").alias("_h2"),
        F.col("simhash_lo").alias("_l2"),
    )
    hamming = (
        F.bit_count(F.col("_h1").bitwiseXOR(F.col("_h2")))
        + F.bit_count(F.col("_l1").bitwiseXOR(F.col("_l2")))
    ).cast("long")
    return (
        cand.join(s1, "doc1_id")
        .join(s2, "doc2_id")
        .select("doc1_id", "doc2_id", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
