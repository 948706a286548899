"""Text-analysis operators for the training-data pipeline plane.

All pure Catalyst expressions (split / higher-order array functions /
md5) — no Python UDFs, so the whole plan stays in whole-stage codegen and
scales linearly with input splits.  Operates on the ``documents`` table
(doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from puma_matcher_spark.functions.rounding import pround

# Tiny English function-word list for the n-gram/stopword language heuristic.
EN_STOPWORDS = (
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "are",
    "for", "on", "with", "by", "at", "from", "as", "that", "this", "it",
)


def tokens(text: Column) -> Column:
    """Whitespace tokenization, empty tokens dropped."""
    return F.filter(F.split(text, " "), lambda x: x != F.lit(""))


def has_tokens(text: Column) -> Column:
    """THE token-less-document predicate — one definition, used at every
    site that must agree with :func:`tokens` (the simhash plane, the
    ingest quality gates' emptiness checks).

    Equivalent by construction to ``size(tokens(text)) > 0``: tokens()
    splits on the space character ONLY, and Spark SQL's ``trim`` strips
    exactly that character (verified: trim("\\t") == "\\t" — Spark trim
    is not Python str.strip), so ``trim(text) != ''`` holds iff the text
    contains a non-space character iff it has >= 1 token.  Implemented
    with trim because the ``size(filter(split(...)))`` spelling builds
    the full token array per row just to test emptiness — measured 2.4x
    the map-side cost of the fingerprint stage it guards at sf0.1
    (PLANS.md §round-8).  NULL text: trim(NULL) != '' is NULL → filtered,
    same as size(tokens(NULL)) = -1 → filtered — both match the oracle's
    tf CTE, which never emits rows for token-less documents.  The
    whitespace-zoo parity test (tests/test_llmdata.py) pins Spark ≡
    DuckDB on tab/newline/NULL/empty documents through this predicate,
    and a property test pins the equivalence to the tokenizer itself.
    """
    return F.trim(text) != F.lit("")


def with_token_stats(docs: DataFrame) -> DataFrame:
    """Token counting + quality scoring (length / distinct-ratio / stopword
    ratio).  The distinct-token ratio is a cheap lexical-diversity proxy;
    the stopword ratio feeds language ID and boilerplate detection.

    Token-less documents (round 8): the ratios are NULL — Spark's ANSI
    mode otherwise throws DIVIDE_BY_ZERO on the first empty document,
    and DuckDB's x/0.0 is NULL, so NULL is both the crash fix and the
    cross-engine definition (pinned by the whitespace-zoo parity test).
    """
    toks = tokens(F.col("text"))
    sw = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("token_count"),
        F.length("text").cast("long").alias("char_count"),
        F.when(n_tokens > 0, pround(n_distinct / n_tokens, 4)).alias(
            "distinct_ratio"
        ),
        F.when(n_tokens > 0, pround(n_stop / n_tokens, 4)).alias(
            "stopword_ratio"
        ),
    )


#: the lang-ID decision threshold — the ONE definition both the parquet
#: path (with_lang_id) and the manifest-ingest path (apps) share
LANG_ID_THRESHOLD = 0.03


def english_stopword_ratio(text_col: Column) -> Column:
    """English function-word hit ratio — the lang-ID kernel, factored so
    every ingest path labels the same text identically.  NULL for
    token-less documents (ANSI Spark would throw DIVIDE_BY_ZERO; DuckDB
    x/0.0 is NULL; lang_id_label resolves NULL to 'unk' on both sides)."""
    toks = tokens(text_col)
    sw = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n = F.size(toks)
    return F.when(
        n > 0, F.size(F.filter(toks, lambda x: F.array_contains(sw, x))) / n
    )


def lang_id_label(text_col: Column) -> Column:
    """'en' when :func:`english_stopword_ratio` reaches
    ``LANG_ID_THRESHOLD``, else 'unk'."""
    return (
        F.when(english_stopword_ratio(text_col) >= LANG_ID_THRESHOLD, F.lit("en"))
        .otherwise(F.lit("unk"))
    )


def with_lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: English function-word hit ratio."""
    return docs.select(
        "doc_id",
        lang_id_label(F.col("text")).alias("predicted_lang"),
    )


def with_fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of the lower-cased, whitespace-normalised
    text (the exact-dedup key).  At 100 TB this is the map-side-cheapest
    possible content key — one pass, no shuffle until the dedup groupBy.

    Token-less documents get a NULL fingerprint (round 8): the DuckDB
    twin is md5(array_to_string(tokens, ' ')) and array_to_string([]) is
    NULL there, while Spark's concat_ws yields '' — md5('') silently
    diverged from the oracle on any corpus with an empty document.  NULL
    is also the better semantics: "no content" is not "same content"
    (the simhash plane's rule), so a token-less batch doc never
    exact-matches a corpus doc through the NULL key in the incremental
    anti-join, while GROUP BY still folds NULLs into one audit group on
    both engines."""
    normalised = F.concat_ws(" ", tokens(F.lower(F.col("text"))))
    return docs.select(
        "doc_id",
        F.when(has_tokens(F.col("text")), F.md5(normalised)).alias(
            "fingerprint"
        ),
    )


# Gopher/C4-style keep thresholds.  Applied to ROUNDED metrics so the
# keep/drop verdict is reproducible across engines (both sides compare
# the same 4-decimal values, never a raw binary double near a boundary).
QUALITY_THRESHOLDS = {
    "min_tokens": 10,
    "mean_word_len": (3.0, 5.2),
    "max_dup_bigram_frac": 0.05,
    "max_symbol_ratio": 0.1,
}


def with_quality_flags(docs: DataFrame) -> DataFrame:
    """Heuristic document-quality filter for pre-training curation
    (Gopher-rules shape): token count, mean word length, duplicate-bigram
    fraction (repetition proxy) and symbol-to-char ratio, plus a
    keep/drop verdict.  Pure higher-order array expressions — map-side,
    whole-stage codegen, no shuffle, linear at any corpus size."""
    t = QUALITY_THRESHOLDS
    d = docs.select(
        "doc_id",
        F.col("text").alias("_text"),
        tokens(F.lower(F.col("text"))).alias("_tk"),
    )
    # bigrams via zip_with over shifted slices (empty when < 2 tokens)
    d = d.withColumn(
        "_bg",
        F.expr(
            "CASE WHEN size(_tk) >= 2 THEN "
            "zip_with(slice(_tk, 1, size(_tk)-1), slice(_tk, 2, size(_tk)-1), "
            "(a, b) -> concat(a, ' ', b)) "
            "ELSE array() END"
        ),
    )
    n_tok = F.size("_tk")
    # token-less / empty-text guards (round 8): mean_word_len and
    # symbol_ratio are NULL when their denominator is 0 — DuckDB's
    # x/0.0 is NULL (the oracle's semantics) and Spark would otherwise
    # produce Infinity (or DIVIDE_BY_ZERO under integral ANSI); NULL
    # metrics make the keep predicate NULL -> verdict 'drop' on both
    # engines (pinned by the whitespace-zoo parity test)
    mean_wl = F.when(
        n_tok > 0,
        pround(
            F.expr("aggregate(_tk, 0, (acc, x) -> acc + length(x))").cast(
                "double"
            )
            / n_tok,
            4,
        ),
    )
    dup_bg = pround(
        F.when(
            F.size("_bg") > 0,
            F.lit(1.0) - F.size(F.array_distinct("_bg")).cast("double") / F.size("_bg"),
        ).otherwise(F.lit(0.0)),
        4,
    )
    sym = F.when(
        F.length("_text") > 0,
        pround(
            (
                F.length("_text")
                - F.length(F.regexp_replace("_text", "[^a-zA-Z0-9 ]", ""))
            ).cast("double")
            / F.length("_text"),
            4,
        ),
    )
    d = d.select(
        "doc_id",
        n_tok.cast("long").alias("token_count"),
        mean_wl.alias("mean_word_len"),
        dup_bg.alias("dup_bigram_frac"),
        sym.alias("symbol_ratio"),
    )
    lo, hi = t["mean_word_len"]
    keep = (
        (F.col("token_count") >= t["min_tokens"])
        & F.col("mean_word_len").between(lo, hi)
        & (F.col("dup_bigram_frac") <= t["max_dup_bigram_frac"])
        & (F.col("symbol_ratio") <= t["max_symbol_ratio"])
    )
    return d.withColumn(
        "verdict", F.when(keep, F.lit("keep")).otherwise(F.lit("drop"))
    )


def source_mix(docs: DataFrame) -> DataFrame:
    """Per-source corpus mix report: document and token counts plus each
    source's share of total tokens.  One hash aggregate; the global-share
    window runs over the already-aggregated per-source frame (rows =
    number of sources, i.e. tiny at any corpus scale)."""
    from pyspark.sql import Window

    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens(F.lower(F.col("text"))))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        pround(
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w).cast("double"),
            4,
        ).alias("token_share"),
    )


def ngram_array(col: str, n: int) -> Column:
    """Space-joined word n-grams from a token-array column, empty array
    when the document has fewer than n tokens.  Pure higher-order
    expression (sequence + transform + element_at) — map-side, no
    explode until the caller asks for one."""
    elems = ", ".join(f"element_at({col}, i + {j})" for j in range(n))
    return F.expr(
        f"CASE WHEN size({col}) >= {n} THEN "
        f"transform(sequence(1, size({col}) - {n - 1}), "
        f"i -> concat_ws(' ', {elems})) "
        f"ELSE array() END"
    )


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document (beyond the simple
    distinct-bigram ratio in :func:`with_quality_flags`):

    * ``top_bigram_char_frac`` — characters covered by the single most
      frequent bigram over all bigram-occurrence characters (ties broken
      to the lexicographically smallest gram, so the row is
      deterministic).
    * ``dup_trigram_char_frac`` — characters covered by trigrams that
      occur more than once, over all trigram-occurrence characters.

    Both numerator and denominator are exact integer sums (character
    counts), divided only at the end — so the result is reproducible
    across engines and partition layouts, with no float-sum ordering
    hazard.  Scale shape: two (doc, gram) hash aggregations plus per-doc
    roll-ups, all shuffle-partitioned by doc/gram; nothing driver-side.
    """
    base = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("_tk")
    )

    bgc = (
        base.select("doc_id", F.explode(ngram_array("_tk", 2)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    chars = F.col("cnt") * F.length("gram")
    top = (
        bgc.groupBy("doc_id")
        .agg(
            # min of (-cnt, gram) = highest count, then smallest gram
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("nc"), F.col("gram").alias("g")
                )
            ).alias("_top"),
            F.sum(chars).alias("_tw"),
        )
        .select(
            "doc_id",
            F.col("_top.g").alias("top_bigram"),
            pround(
                (-F.col("_top.nc") * F.length("_top.g")).cast("double")
                / F.col("_tw").cast("double"),
                4,
            ).alias("top_bigram_char_frac"),
        )
    )

    tgc = (
        base.select("doc_id", F.explode(ngram_array("_tk", 3)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dup = tgc.groupBy("doc_id").agg(
        pround(
            F.sum(F.when(F.col("cnt") > 1, chars).otherwise(F.lit(0)))
            .cast("double")
            / F.sum(chars).cast("double"),
            4,
        ).alias("dup_trigram_char_frac")
    )

    return (
        docs.select("doc_id")
        .join(top, "doc_id", "left")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "top_bigram",
            F.coalesce("top_bigram_char_frac", F.lit(0.0)).alias(
                "top_bigram_char_frac"
            ),
            F.coalesce("dup_trigram_char_frac", F.lit(0.0)).alias(
                "dup_trigram_char_frac"
            ),
        )
    )


def vocab_topk(docs: DataFrame, k: int = 100, n: int = 2) -> DataFrame:
    """Corpus-wide top-k word n-gram vocabulary with a deterministic
    (count desc, gram asc) order — the first step of building a tokenizer
    merge table or a boilerplate blocklist from the corpus itself.

    Scale shape: one partial-aggregated gram count (map-side combine)
    followed by a TakeOrdered top-k — the rank window only ever sees the
    k surviving rows, so the single-partition window is safe at any
    corpus size.
    """
    from pyspark.sql import Window

    base = docs.select(tokens(F.lower(F.col("text"))).alias("_tk"))
    counts = (
        base.select(F.explode(ngram_array("_tk", n)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )
    order = [F.col("n_occurrences").desc(), F.col("gram").asc()]
    top = counts.orderBy(*order).limit(k)
    return top.select(
        F.row_number().over(Window.orderBy(*order)).cast("long").alias(
            "vocab_rank"
        ),
        "gram",
        "n_occurrences",
    )


# Pre-tokenizer shape of BPE vocabularies: letter runs, digit runs, and
# individual punctuation marks.  Deliberately regex-only (identical RE2/
# Java semantics) so the count is computable in any engine.
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def char_entropy(docs: DataFrame) -> DataFrame:
    """Shannon entropy of the character distribution per document — the
    cheap compressibility proxy for boilerplate/garbage detection (very
    low entropy → repeated filler; very high → binary noise in text
    fields).  One (doc, char) aggregation; frequencies never leave the
    engine.  Output: (doc_id, n_chars, distinct_chars, entropy_bits)."""
    from pyspark.sql import Window

    chars = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.col("text"), "(?!^)"), lambda c: c != F.lit("")
            )
        ).alias("c"),
    )
    freq = chars.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n"))
    per_doc = Window.partitionBy("doc_id")
    p = F.col("n") / F.sum("n").over(per_doc)
    return (
        freq.withColumn("_p", p)
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_chars"),
            F.count(F.lit(1)).cast("long").alias("distinct_chars"),
            pround(-F.sum(F.col("_p") * F.log2("_p")), 4).alias("entropy_bits"),
        )
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    token distribution — the cheap perplexity proxy used to rank
    documents by "typicality" (very low → noise/garbage; very high →
    repetitive boilerplate).  Needs no external model: p(tok) is the
    corpus relative frequency, folded in as a scalar-subquery total.

    Scale shape: one (doc, tok) aggregation, one token-frequency
    aggregation, an equi-join on tok, and a per-doc roll-up — all
    shuffle-partitioned, nothing driver-side.
    Output: (doc_id, n_tokens, avg_logprob)."""
    toks = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    gf = tf.groupBy("tok").agg(F.sum("tf").alias("gf"))
    total = gf.agg(F.sum("gf").cast("double").alias("t"))
    scored = tf.join(gf, "tok").withColumn(
        "_lp", F.col("tf") * F.log10(F.col("gf") / total.scalar())
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        pround(F.sum("_lp") / F.sum("tf"), 4).alias("avg_logprob"),
    )


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document mean add-one-smoothed bigram conditional
    log-probability under the corpus's own bigram model — the stronger
    perplexity proxy (:func:`unigram_logprob` scores typicality of the
    vocabulary; this scores typicality of the *sequencing*, which is
    what separates fluent text from shuffled-word salad with the same
    unigram profile).

    p(next | tok) = (c(tok,next) + 1) / (c(tok) + V), V = vocab size,
    folded in as a scalar subquery.  Docs with fewer than two tokens
    emit no row (they have no bigrams).

    Scale shape: bigrams come from one lead() window per doc (shuffle
    on doc_id), then per-doc bigram counts join the corpus bigram and
    unigram frequency tables on their keys — everything
    shuffle-partitioned, nothing driver-side.
    Output: (doc_id, n_bigrams, avg_logprob)."""
    from pyspark.sql.window import Window

    toks = docs.select(
        "doc_id", F.posexplode(tokens(F.lower(F.col("text"))))
    ).select("doc_id", F.col("pos"), F.col("col").alias("tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull())
        .select("doc_id", "tok", "nxt")
    )
    dbc = big.groupBy("doc_id", "tok", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    bf = dbc.groupBy("tok", "nxt").agg(F.sum("m").cast("long").alias("c12"))
    uf = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    vocab = uf.agg(F.count(F.lit(1)).cast("double").alias("v"))
    lp = F.log10((F.col("c12") + 1.0) / (F.col("c1") + vocab.scalar()))
    return (
        dbc.join(bf, ["tok", "nxt"])
        .join(uf, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("n_bigrams"),
            pround(F.sum(F.col("m") * lp) / F.sum("m"), 4).alias(
                "avg_logprob"
            ),
        )
    )


def xcorpus_bigram_logprob(train_docs: DataFrame, score_docs: DataFrame) -> DataFrame:
    """Cross-corpus perplexity proxy — the CCNet/data-selection setup:
    fit the add-one-smoothed bigram model on a TRUSTED corpus
    (``train_docs``), score a CANDIDATE corpus (``score_docs``) under
    it.  Unlike :func:`bigram_logprob` (self-scored, every event seen),
    the scored corpus can contain out-of-vocabulary tokens and unseen
    bigrams, so the model tables join LEFT and smoothing handles the
    zero counts: p(next|tok) = (c12 + 1) / (c1 + V) with c12 = 0 for an
    unseen bigram and c1 = 0 for an OOV history (V = train vocab size).

    Scale shape: model = two aggregations over the train corpus (bigram
    and unigram counts, V as a scalar subquery); scoring = one lead()
    window per doc + two LEFT equi-joins on the token keys + a per-doc
    roll-up — everything shuffle-partitioned, the model tables are the
    ones a production run persists once and reuses per candidate shard.
    Output: (doc_id, n_bigrams, avg_logprob) over ``score_docs`` with
    >= 2 tokens.
    """
    from pyspark.sql.window import Window

    def _bigrams(docs: DataFrame) -> DataFrame:
        toks = docs.select(
            "doc_id", F.posexplode(tokens(F.lower(F.col("text"))))
        ).select("doc_id", F.col("pos"), F.col("col").alias("tok"))
        w = Window.partitionBy("doc_id").orderBy("pos")
        return (
            toks.withColumn("nxt", F.lead("tok").over(w))
            .where(F.col("nxt").isNotNull())
            .select("doc_id", "tok", "nxt")
        )

    train_toks = train_docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    uf = train_toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    bf = _bigrams(train_docs).groupBy("tok", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    vocab = uf.agg(F.count(F.lit(1)).cast("double").alias("v"))

    dbc = _bigrams(score_docs).groupBy("doc_id", "tok", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    lp = F.log10(
        (F.coalesce(F.col("c12"), F.lit(0)) + 1.0)
        / (F.coalesce(F.col("c1"), F.lit(0)) + vocab.scalar())
    )
    return (
        # a token-less training corpus has no model (V = 0 would zero the
        # smoothing denominator): no model -> no scores, not a crash
        dbc.where(vocab.scalar() > 0)
        .join(bf, ["tok", "nxt"], "left")
        .join(uf, "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("n_bigrams"),
            pround(F.sum(F.col("m") * lp) / F.sum("m"), 4).alias(
                "avg_logprob"
            ),
        )
    )


def with_bpe_token_count(docs: DataFrame) -> DataFrame:
    """Token counting for training-data budgeting: whitespace words plus
    a BPE-ish pre-tokenizer count (the unit LLM data pipelines budget
    by).  Pure ``regexp_extract_all`` — map-side, no shuffle, linear at
    any corpus size."""
    pieces = F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_RE), 0)
    return docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("word_count"),
        F.size(pieces).cast("long").alias("bpe_token_count"),
    )


def bpe_top_merges(docs: DataFrame, k: int = 50) -> DataFrame:
    """Top-k BPE merge candidates: corpus-wide counts of adjacent
    character pairs, weighted by word frequency — the inner-loop
    statistic of byte-pair-encoding tokenizer training (the classic
    formulation aggregates per DISTINCT word first, so the pair scan
    touches |vocabulary| rows, not |corpus| tokens — the same
    distinct-before-expensive-work shape as the dedup plane).

    Output: (merge_rank, pair, pair_count), ties broken to the
    lexicographically smallest pair.
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    pairs = vocab.select(
        F.explode(
            F.expr(
                "CASE WHEN length(tok) >= 2 THEN "
                "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2)) "
                "ELSE array() END"
            )
        ).alias("pair"),
        "c",
    )
    counts = pairs.groupBy("pair").agg(
        F.sum("c").cast("long").alias("pair_count")
    )
    order = [F.col("pair_count").desc(), F.col("pair").asc()]
    return (
        counts.orderBy(*order)
        .limit(k)
        .select(
            F.row_number()
            .over(Window.orderBy(*order))
            .cast("long")
            .alias("merge_rank"),
            "pair",
            "pair_count",
        )
    )


def ngram_novelty(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-document n-gram novelty against everything EARLIER in the
    corpus (doc-id order): the fraction of a document's distinct word
    n-grams whose first corpus occurrence is this document.  The
    curriculum / data-selection signal behind "how much of this shard is
    new text" — near-1 for fresh material, near-0 for boilerplate
    re-crawls.

    Shape: map-side shingling (higher-order expressions, one explode),
    one (shingle) aggregate for the global first-occurrence id, one
    equi-join back on shingle, one (doc) aggregate.  Two shuffles total,
    both on keys with corpus-bounded cardinality; nothing quadratic.

    Output: (doc_id, n_shingles, n_novel, novel_frac) — docs with fewer
    than ``n`` tokens carry zero shingles and are emitted with
    novel_frac NULL.
    """
    from puma_matcher_spark.functions.rounding import pround

    # array_distinct keeps the per-doc shingle SET, so the first-occurrence
    # aggregate and the per-doc counts each see a (doc, shingle) once
    sh = (
        docs.select(
            "doc_id", tokens(F.col("text")).alias("__tk")
        )
        .select(
            "doc_id", F.array_distinct(ngram_array("__tk", n)).alias("__shs")
        )
        .select("doc_id", F.explode_outer("__shs").alias("shingle"))
    )
    first = (
        sh.where(F.col("shingle").isNotNull())
        .groupBy("shingle")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    joined = sh.join(first, "shingle", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("shingle").cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novel_frac",
            F.when(
                F.col("n_shingles") > 0,
                pround(F.col("n_novel") / F.col("n_shingles"), 4),
            ),
        )
    )


def vocab_coverage(docs: DataFrame, ks: tuple = (100, 500, 2000)) -> DataFrame:
    """Tokenizer design metric: the share of all token OCCURRENCES that a
    top-k vocabulary covers, for each candidate k — the curve that decides
    how large a wordpiece/BPE vocab needs to be before <unk> rates are
    acceptable.

    Shape: one token-count aggregate; only ranks <= max(ks) can ever
    contribute to covered_share, so a distributed ``orderBy().limit``
    (TakeOrdered — per-partition top-k, then a k-row merge) bounds the
    single-partition ranking window to max(ks) rows at ANY corpus size
    (the same shape vocab_topk/bpe_merges use); then a tiny exploded k
    list and one conditional aggregate.  The totals still aggregate the
    FULL count frame.  Output: (k, vocab_size, covered_share).
    """
    from pyspark.sql.window import Window

    from puma_matcher_spark.functions.rounding import pround

    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    order = [F.col("cnt").desc(), F.col("tok").asc()]  # total order: tok unique
    top = counts.orderBy(*order).limit(int(max(ks)))
    w = Window.orderBy(*order)
    ranked = top.withColumn("rank", F.row_number().over(w))
    # ONE scalar subquery (a struct of both totals — a single aggregate
    # pass over the count frame), not one per field: separate .scalar()
    # calls each replan the token explode + aggregate
    stats = counts.agg(
        F.struct(
            F.sum("cnt").cast("long").alias("t"),
            F.count(F.lit(1)).cast("long").alias("v"),
        ).alias("s")
    ).scalar()
    total, n_vocab = stats.getField("t"), stats.getField("v")
    # fan the constant k list out as an exploded literal array — pure
    # projection, no join (a 3-row broadcast cross join would be fine at
    # any scale but trips the repo's no-cartesian CI guard for nothing)
    return (
        ranked.select(
            "cnt",
            "rank",
            F.explode(
                F.array(*[F.lit(int(k)).cast("long") for k in ks])
            ).alias("k"),
        )
        .groupBy("k")
        .agg(
            F.sum(
                F.when(F.col("rank") <= F.col("k"), F.col("cnt")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("_covered")
        )
        .select(
            "k",
            F.least(F.col("k"), n_vocab).cast("long").alias("vocab_size"),
            pround(F.col("_covered") / total, 4).alias("covered_share"),
        )
    )


def vocab_drift(docs: DataFrame) -> DataFrame:
    """Distribution-shift monitor between the even- and odd-doc_id halves
    of the corpus: add-one-smoothed unigram distributions over the union
    vocabulary, symmetric KL divergences — the drift alarm a rolling
    ingest pipeline watches between shards/snapshots.

    Shape: one (half, token) aggregate, a half-pivot via conditional
    sums (no join), two scalar totals, one global sum.  Output: one row
    (n_vocab, n_even_tokens, n_odd_tokens, kl_even_odd, kl_odd_even).
    """
    from puma_matcher_spark.functions.rounding import pround

    tok = docs.select(
        (F.col("doc_id") % 2 == 0).alias("even"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    per = tok.groupBy("tok").agg(
        F.sum(F.when(F.col("even"), 1).otherwise(0)).cast("long").alias("c_even"),
        F.sum(F.when(F.col("even"), 0).otherwise(1)).cast("long").alias("c_odd"),
    )
    # one struct scalar = one aggregate pass over `per`, not three
    stats = per.agg(
        F.struct(
            F.count(F.lit(1)).cast("long").alias("v"),
            F.sum("c_even").cast("long").alias("ne"),
            F.sum("c_odd").cast("long").alias("no"),
        ).alias("s")
    ).scalar()
    v = stats.getField("v")
    n_even = stats.getField("ne")
    n_odd = stats.getField("no")
    p = (F.col("c_even") + 1) / (n_even + v)
    q = (F.col("c_odd") + 1) / (n_odd + v)
    return (
        per.agg(
            pround(F.sum(p * F.log(p / q)), 4).alias("kl_even_odd"),
            pround(F.sum(q * F.log(q / p)), 4).alias("kl_odd_even"),
        )
        .select(
            v.alias("n_vocab"),
            n_even.alias("n_even_tokens"),
            n_odd.alias("n_odd_tokens"),
            "kl_even_odd",
            "kl_odd_even",
        )
    )


def pmi_bigrams(docs: DataFrame, min_count: int = 5, k: int = 50) -> DataFrame:
    """Top-k adjacent-word collocations by pointwise mutual information
    (Church & Hanks 1990): pmi(a,b) = ln(p(ab) / (p(a)·p(b))) with
    p(ab) = c(ab)/N_bigrams and p(w) = c(w)/N_tokens — the corpus-
    linguistics staple for phrase mining / tokenizer-merge candidates.

    ``min_count`` filters the unstable low-frequency tail (PMI is
    notoriously noisy there); the top-k orders by the ROUNDED pmi then
    (w1, w2) so the cut is deterministic across engines.  Shape: ONE
    tokenize pass (the token-array frame is persisted; r11), the bigram
    pairs built inside the row (transform over a position sequence, no
    shuffle before the explode), then one bigram aggregate, one unigram
    aggregate (persisted — both joins and the n_uni scalar read it), and
    two hash joins on the word key (AQE broadcasts the unigram side at
    fixture scale).  Output: (w1, w2, n_pair, pmi).
    """
    from puma_matcher_spark.functions.caching import persist_rotating
    from puma_matcher_spark.functions.rounding import pround

    # r11: the pre-r11 plan re-derived the tokenize from the document scan
    # SIX times (unigram counts, the n_uni scalar subquery, the bigram
    # build, the n_bi scalar subquery, and the unigram-count subtree once
    # per join side).  Persist the tokenized frame and the (small) unigram
    # counts, and fold both corpus scalars into aggregates over the caches:
    # n_uni == sum of unigram counts, n_bi == sum over docs of
    # max(len-1, 0) adjacent pairs — identical values, one tokenize pass.
    toks = persist_rotating(docs.select(tokens(F.col("text")).alias("_tk")))
    uni = toks.select(F.explode("_tk").alias("w"))
    uc = persist_rotating(
        uni.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n_uni = uc.agg(F.sum("c").cast("long").alias("n")).scalar()

    idx = F.when(
        F.size("_tk") >= 2, F.sequence(F.lit(1), F.size("_tk") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = toks.select(
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(F.col("_tk"), i).alias("w1"),
                    F.element_at(F.col("_tk"), i + 1).alias("w2"),
                ),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    bc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .where(F.col("n_pair") >= min_count)
    )
    # adjacent-pair count per doc is max(len - 1, 0); greatest() absorbs a
    # NULL token array (size(NULL) is NULL post-legacy) exactly like the
    # explode/when path did
    n_bi = toks.agg(
        F.sum(F.greatest(F.size("_tk") - 1, F.lit(0))).cast("long").alias("n")
    ).scalar()
    p_ab = F.col("n_pair") / n_bi
    p_a = F.col("_ca") / n_uni
    p_b = F.col("_cb") / n_uni
    scored = (
        bc.join(uc.select(F.col("w").alias("w1"), F.col("c").alias("_ca")), "w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("c").alias("_cb")), "w2")
        .select(
            "w1",
            "w2",
            "n_pair",
            pround(F.log(p_ab / (p_a * p_b)), 4).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)
