"""Text matching family: n-gram sentence matcher, single-word matcher,
rare-word analyser, TF-IDF cosine title matcher.

Reference operators:

* ``TextMatcher`` (matcher/TextMatcher.scala:55-157, A6) — 4-word
  "sentence" shingles, posting lists capped at
  ``sentence.maxoccurency`` (2000), pair roll-up with per-doc word-count
  normalisation.
* ``SingleWordMatcher/Scorer`` (matcher/SingleWordMatcher.scala:53-118,
  scorer/SingleWordScorer.scala:53-57, A5) — word-level matching with
  ``sqrt(N/df)`` idf and a ≥3-matched-words filter.
* ``RareWordAnalyser`` (analyser/RareWordAnalyser.scala:44-68, P12) —
  informative-word extraction by tf/df/length predicates.
* ``CosineMatcher`` (matcher/CosineMatcher.scala:64-114, J6) — TF-IDF
  cosine all-pairs over titles.  The reference uses mllib DIMSUM
  (``columnSimilarities``); rebuilt as an exact sparse-vector self-join on
  shared tokens — the equivalent quadratic guard is the token df cap, and
  the join form keeps everything in Catalyst (DIMSUM is RDD-based and
  leaves codegen).  At 100 TB the df cap is what bounds the token-join
  fan-out (same trick as the entity matcher).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


DEFAULT_SENTENCE_LENGTH = 4       # puma.matching.textmatcher.sentence.length
DEFAULT_SENTENCE_MAX_OCC = 2000   # puma.matching.textmatcher.sentence.maxoccurency
DEFAULT_MIN_MATCHED_WORDS = 3


def sentence_shingles(
    docs: DataFrame,
    n: int = DEFAULT_SENTENCE_LENGTH,
    id_col: str = "document_version_id",
) -> DataFrame:
    """Positional n-word shingles from the filtered token stream — fully
    map-side.

    The token array is materialised in-row by the string-level tokenizer
    (stopword/length deletion as two codegen regex passes — a per-element
    regex in the array lambda was ~10× slower, which is why the earlier
    formulation exploded tokens and used lead() windows, paying a
    full per-token shuffle).  Shingles come from transform over a
    position sequence + element_at: zero exchange between scan and the
    posting-list aggregation.  ``spread_input`` restores parallelism on
    single-split fixture scans.
    """
    from puma_matcher_spark.functions.text import tokenize_string_deletions
    from puma_matcher_spark.operators.skew import spread_input

    base = spread_input(docs).select(
        F.col(id_col).alias("document_version_id"),
        tokenize_string_deletions(F.col("text")).alias("_tk"),
    )
    cnt = F.size("_tk")
    idx = F.when(cnt >= n, F.sequence(F.lit(1), cnt - n + 1)).otherwise(
        F.array().cast("array<int>")
    )
    sh = F.transform(
        idx,
        lambda i: F.struct(
            (i - 1).cast("int").alias("position"),  # matches row_number()'s int
            F.concat_ws(
                " ", *[F.element_at(F.col("_tk"), i + j) for j in range(n)]
            ).alias("sentence"),
        ),
    )
    ex = base.select("document_version_id", F.explode(sh).alias("_s"))
    return ex.select(
        "document_version_id",
        F.col("_s.position").alias("position"),
        F.col("_s.sentence").alias("sentence"),
    )


def text_match_pairs(
    docs: DataFrame,
    n: int = DEFAULT_SENTENCE_LENGTH,
    max_occurrence: int = DEFAULT_SENTENCE_MAX_OCC,
    id_col: str = "document_version_id",
) -> DataFrame:
    """A6 — pairs sharing word-n-gram sentences.

    Output: (dv1, dv2, common_sentences, positions aggregated count) with
    the sentence-occurrence cap applied before the self-join (TextMatcher
    .scala:55 caps posting lists; the core anti-explosion guard).
    """
    from pyspark.sql.window import Window

    sh = sentence_shingles(docs, n, id_col).select(
        "document_version_id", "sentence"
    ).distinct()
    # occurrence cap via count-over-window on the join key: one shuffle on
    # `sentence` that the self-join below reuses.  (Broadcasting the kept-
    # sentence set is an anti-pattern here — it is nearly the full shingle
    # dictionary, i.e. huge.)
    occ_w = Window.partitionBy("sentence")
    capped = (
        sh.withColumn("_occ", F.count(F.lit(1)).over(occ_w))
        .where(F.col("_occ") <= max_occurrence)
        .drop("_occ")
    )
    a = capped.select("sentence", F.col("document_version_id").alias("document_version1_id"))
    b = capped.select("sentence", F.col("document_version_id").alias("document_version2_id"))
    return (
        a.join(b, "sentence")
        .where(F.col("document_version1_id") < F.col("document_version2_id"))
        .groupBy("document_version1_id", "document_version2_id")
        .agg(F.count(F.lit(1)).cast("long").alias("common_sentences"))
    )


def text_match_scores(
    docs: DataFrame,
    max_occurrence: int = DEFAULT_SENTENCE_MAX_OCC,
    id_col: str = "document_version_id",
) -> DataFrame:
    """TextScorer — score = shared sentences normalised by the smaller
    document's sentence count (scorer/TextScorer.scala:37-46 semantics:
    overlap relative to document size)."""
    pairs = text_match_pairs(
        docs, DEFAULT_SENTENCE_LENGTH, max_occurrence, id_col
    )
    counts = (
        sentence_shingles(docs, DEFAULT_SENTENCE_LENGTH, id_col)
        .select("document_version_id", "sentence")
        .distinct()
        .groupBy("document_version_id")
        .agg(F.count(F.lit(1)).alias("n_sentences"))
    )
    c1 = counts.select(
        F.col("document_version_id").alias("document_version1_id"),
        F.col("n_sentences").alias("n1"),
    )
    c2 = counts.select(
        F.col("document_version_id").alias("document_version2_id"),
        F.col("n_sentences").alias("n2"),
    )
    # c1/c2 are per-document frames — they grow linearly with the corpus,
    # so no explicit broadcast hint: AQE broadcasts when the runtime size
    # allows and shuffle-joins when it doesn't (100 TB-safe either way).
    return (
        pairs.join(c1, "document_version1_id")
        .join(c2, "document_version2_id")
        .withColumn(
            "score",
            F.col("common_sentences") / F.least(F.col("n1"), F.col("n2")),
        )
        .select(
            "document_version1_id",
            "document_version2_id",
            "common_sentences",
            "score",
        )
    )


def text_match_merged(
    docs: DataFrame,
    n: int = DEFAULT_SENTENCE_LENGTH,
    max_occurrence: int = DEFAULT_SENTENCE_MAX_OCC,
    id_col: str = "document_version_id",
) -> DataFrame:
    """A6 run-merge — contiguous matched-passage extraction
    (TextMatcher.scala:95-157 ``groupSentenceFMF``).

    The reference walks each pair's matched shingles sorted by doc-1
    position and merges a match into the current run when BOTH position
    deltas vs the previous match are ≤ n; a merged run's word length is
    its doc-1 position span + n.  That sequential scan is a
    gaps-and-islands problem, so it stays fully in Catalyst: ``lag()``
    flags run starts, a running ``sum()`` numbers the islands, and two
    group-bys on the same (dv1, dv2) key — one shuffle — roll runs up to
    the pair row.  Per reference semantics each shared sentence
    contributes one match at its FIRST occurrence position in each doc
    (``indexOf``), and a sentence participates only when it appears in
    >1 and < max_occurrence distinct documents.

    Output per pair: run start positions in both docs, run word sizes,
    ``max_sentence_size`` (longest run), ``text_match_count`` (number of
    runs), ``word_match_count`` (total matched words), and each doc's
    total shingle count (``doc{1,2}_word_count``).
    """
    from pyspark.sql.window import Window

    sh = sentence_shingles(docs, n, id_col)
    first = sh.groupBy("document_version_id", "sentence").agg(
        F.min("position").alias("pos")
    )
    occ_w = Window.partitionBy("sentence")
    capped = (
        first.withColumn("_occ", F.count(F.lit(1)).over(occ_w))
        .where((F.col("_occ") > 1) & (F.col("_occ") < max_occurrence))
        .drop("_occ")
    )
    a = capped.select(
        "sentence",
        F.col("document_version_id").alias("document_version1_id"),
        F.col("pos").alias("pos1"),
    )
    b = capped.select(
        "sentence",
        F.col("document_version_id").alias("document_version2_id"),
        F.col("pos").alias("pos2"),
    )
    m = (
        a.join(b, "sentence")
        .where(F.col("document_version1_id") < F.col("document_version2_id"))
        .select("document_version1_id", "document_version2_id", "pos1", "pos2")
    )
    w = Window.partitionBy("document_version1_id", "document_version2_id").orderBy(
        "pos1"
    )
    flagged = m.withColumn(
        "new_run",
        F.when(
            F.lag("pos1").over(w).isNull()
            | (F.col("pos1") - F.lag("pos1").over(w) > n)
            | (F.col("pos2") - F.lag("pos2").over(w) > n),
            1,
        ).otherwise(0),
    )
    runs0 = flagged.withColumn(
        "run_id",
        F.sum("new_run").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    runs = runs0.groupBy(
        "document_version1_id", "document_version2_id", "run_id"
    ).agg(
        F.min("pos1").alias("s1"),
        F.min_by("pos2", "pos1").alias("s2"),
        (F.max("pos1") - F.min("pos1") + n).cast("long").alias("run_size"),
    )
    merged = runs.groupBy("document_version1_id", "document_version2_id").agg(
        F.sort_array(F.collect_list(F.struct("s1", "s2", "run_size"))).alias("runs")
    )
    pair_rows = merged.select(
        "document_version1_id",
        "document_version2_id",
        F.transform("runs", lambda r: r["s1"]).alias("doc1_positions"),
        F.transform("runs", lambda r: r["s2"]).alias("doc2_positions"),
        F.transform("runs", lambda r: r["run_size"]).alias("run_sizes"),
        F.array_max(F.transform("runs", lambda r: r["run_size"]))
        .cast("long")
        .alias("max_sentence_size"),
        F.size("runs").cast("long").alias("text_match_count"),
        F.aggregate(
            F.transform("runs", lambda r: r["run_size"]),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("word_match_count"),
    )
    # per-doc total (non-distinct) shingle counts, as the reference's
    # word-count join; per-doc frame → no broadcast hint, AQE decides.
    counts = sh.groupBy("document_version_id").agg(
        F.count(F.lit(1)).cast("long").alias("word_count")
    )
    c1 = counts.select(
        F.col("document_version_id").alias("document_version1_id"),
        F.col("word_count").alias("doc1_word_count"),
    )
    c2 = counts.select(
        F.col("document_version_id").alias("document_version2_id"),
        F.col("word_count").alias("doc2_word_count"),
    )
    return pair_rows.join(c1, "document_version1_id", "left").join(
        c2, "document_version2_id", "left"
    )


def single_word_scores(
    docs: DataFrame,
    id_col: str = "document_version_id",
) -> DataFrame:
    """A5 — word-level pair scoring with sqrt idf.

    word score = (tf1 + tf2) * sqrt(N / df) over words with df ≤
    ``DEFAULT_SENTENCE_MAX_OCC``; pair score = Σ word scores, keep pairs
    with ≥ ``DEFAULT_MIN_MATCHED_WORDS`` common words
    (SingleWordMatcher.scala:53-54 + SingleWordScorer.scala:53-57).
    """
    from puma_matcher_spark.functions.text import exploded_tokens

    words = exploded_tokens(docs, "text", id_col).select(
        "document_version_id", "word"
    )
    tf = words.groupBy("document_version_id", "word").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # N computed in-plan as a scalar subquery so building the query never
    # scans the corpus eagerly — at 100 TB the old plan-build-time
    # .count() was a full second pass over the token table.  scalar()
    # plans as a Subquery node (executed once, reused), adding no join.
    n_docs = (
        tf.select("document_version_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    keep = dfreq.where(F.col("df") <= DEFAULT_SENTENCE_MAX_OCC)
    idf = keep.withColumn("idf", F.sqrt(n_docs.scalar() / F.col("df")))
    # idf keeps the *rare* words (df ≤ cap) — nearly the whole vocabulary,
    # which grows with the corpus.  No broadcast hint; AQE decides.
    tf_i = tf.join(idf.select("word", "idf"), "word")
    a = tf_i.select(
        "word", "idf",
        F.col("document_version_id").alias("document_version1_id"),
        F.col("tf").alias("tf1"),
    )
    b = tf_i.select(
        F.col("word").alias("word"),
        F.col("document_version_id").alias("document_version2_id"),
        F.col("tf").alias("tf2"),
    )
    return (
        a.join(b, "word")
        .where(F.col("document_version1_id") < F.col("document_version2_id"))
        .groupBy("document_version1_id", "document_version2_id")
        .agg(
            F.sum((F.col("tf1") + F.col("tf2")) * F.col("idf")).alias("score"),
            F.count(F.lit(1)).cast("long").alias("matched_words"),
        )
        .where(F.col("matched_words") >= DEFAULT_MIN_MATCHED_WORDS)
    )


def rare_words(
    docs: DataFrame,
    min_tf: int = 5,
    min_df: int = 2,
    max_df: int = 50,
    min_len: int = 5,
    max_len: int = 90,
    id_col: str = "document_version_id",
) -> DataFrame:
    """P12 — informative-word extraction (RareWordAnalyser.scala:44-61):
    per-doc tf ≥ min_tf, doc-count in [min_df, max_df], length in
    [min_len, max_len], letters only."""
    words = docs.select(
        F.col(id_col).alias("document_version_id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
                lambda x: x != F.lit(""),
            )
        ).alias("word"),
    )
    tf = words.groupBy("document_version_id", "word").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    # dfreq is the full vocabulary — unbounded at scale, so no broadcast
    # hint (the tf frame is already shuffled on `word` by its own groupBy,
    # so this join reuses that partitioning under AQE).
    return (
        tf.join(dfreq, "word")
        .where(
            (F.col("tf") >= min_tf)
            & F.col("df").between(min_df, max_df)
            & F.length("word").between(min_len, max_len)
            & F.col("word").rlike("^[a-z]+$")
        )
        .select("document_version_id", "word", "tf", "df")
    )


def cosine_title_matches(docs: DataFrame, min_score: float = 0.2) -> DataFrame:
    """J6 — exact TF-IDF cosine similarity between title vectors.

    weight(doc, token) = tf * log10(N / df); cosine via shared-token join:
    Σ w1·w2 / (‖w1‖·‖w2‖), keep score > min_score
    (CosineMatcher.scala:64-114 semantics with an exact join instead of
    DIMSUM sampling).
    """
    from puma_matcher_spark.functions.text import exploded_tokens

    words = exploded_tokens(docs, "title", "document_version_id").select(
        "document_version_id", "word"
    )
    tf = words.groupBy("document_version_id", "word").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # N in-plan as a scalar subquery — see single_word_scores
    n_docs = (
        tf.select("document_version_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    # the weight frame feeds THREE consumers (norms + both join sides);
    # without a persist each re-derives the tokenize→tf→df chain from
    # the scan (ReuseExchange only merges identical exchanges within a
    # stage graph, not across these three branches).  persist_rotating
    # bounds the cache across repeated calls — a bare .persist() here
    # leaked one cached frame per invocation for the session lifetime
    from puma_matcher_spark.functions.caching import persist_rotating

    w = persist_rotating(
        tf.join(dfreq.where(F.col("df") <= 2000), "word")
        .withColumn(
            "weight", F.col("tf") * F.log10(n_docs.scalar() / F.col("df"))
        )
        .select("document_version_id", "word", "weight")
    )
    norms = w.groupBy("document_version_id").agg(
        F.sqrt(F.sum(F.col("weight") * F.col("weight"))).alias("norm")
    )
    a = w.select(
        "word",
        F.col("document_version_id").alias("document_version1_id"),
        F.col("weight").alias("w1"),
    )
    b = w.select(
        "word",
        F.col("document_version_id").alias("document_version2_id"),
        F.col("weight").alias("w2"),
    )
    dots = (
        a.join(b, "word")
        .where(F.col("document_version1_id") < F.col("document_version2_id"))
        .groupBy("document_version1_id", "document_version2_id")
        .agg(F.sum(F.col("w1") * F.col("w2")).alias("dot"))
    )
    n1 = norms.select(
        F.col("document_version_id").alias("document_version1_id"),
        F.col("norm").alias("norm1"),
    )
    n2 = norms.select(
        F.col("document_version_id").alias("document_version2_id"),
        F.col("norm").alias("norm2"),
    )
    # n1/n2 are per-document norm frames (corpus-sized) — no broadcast
    # hint, AQE picks the strategy from runtime sizes.
    return (
        dots.join(n1, "document_version1_id")
        .join(n2, "document_version2_id")
        .withColumn("score", F.col("dot") / (F.col("norm1") * F.col("norm2")))
        .where(F.col("score") > min_score)
        .select("document_version1_id", "document_version2_id", "score")
    )
