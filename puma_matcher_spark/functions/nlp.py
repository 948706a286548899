"""NLP tagging (M7): POS, NER and lemma columns from a vendored
statistical backend, with rule stand-ins behind the same signatures.

Reference: Stanford CoreNLP ``pos()``/``ner()``/``lemma()`` columns with a
POS whitelist ``FW, MD, NN*, RP, PDT, UH, VB*`` + NER 'O'
(AdvancedInstrumentAnalyser.scala:553-571,
DocumentWordSpecAnalyser.scala:166-220).  The reference has one tagger;
the rebuild has two backends, chosen per call by the ``backend``
argument:

* ``perceptron`` (default) — the vendored averaged-perceptron POS tagger
  and NER model (functions/perceptron.py) and the lexicon-validated
  lemmatiser (functions/lemmatizer.py), their weights and lexicon
  shipped in data/.  Accuracy-gated on labelled fixtures
  (tests/test_nlp.py) per SURVEY.md §7.4 — tagger divergence is
  expected, gate with labelled metrics, not exact match.
* ``heuristic`` — deterministic suffix rules.  The ``word_features``
  DuckDB oracle mirrors them rule for rule (:func:`heuristic_pos_sql`,
  :func:`heuristic_lemma_sql`), so the registered query pins it.

Any other name raises ``ValueError``; a missing model file raises on
first use rather than falling back to the rules.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from puma_matcher_spark.functions import lemmatizer, perceptron

# reference whitelist (AdvancedInstrumentAnalyser.scala:553-554,
# DocumentWordSpecAnalyser.scala:170)
POS_WHITELIST = (
    "FW", "MD", "NN", "NNS", "NNP", "NNPS", "RP", "PDT", "UH",
    "VB", "VBD", "VBG", "VBN", "VBP", "VBZ",
)

_DETERMINERS = {"the", "a", "an", "this", "that", "these", "those"}
_PREPOSITIONS = {"of", "in", "on", "at", "by", "for", "with", "from", "to", "as"}
_MODALS = {"can", "could", "will", "would", "shall", "should", "may", "might", "must"}


def _heuristic_pos(tok: str) -> str:
    """Deterministic suffix-rule tagger — STAND-IN for CoreNLP."""
    if tok in _DETERMINERS:
        return "DT"
    if tok in _PREPOSITIONS:
        return "IN"
    if tok in _MODALS:
        return "MD"
    if tok.endswith("ing"):
        return "VBG"
    if tok.endswith("ed"):
        return "VBD"
    if tok.endswith("ly"):
        return "RB"
    if tok.endswith("s") and len(tok) > 3:
        return "NNS"
    return "NN"


# ---- backends ---------------------------------------------------------------

#: tagging backends: the vendored statistical models (default) and the
#: suffix rules that the word_features oracle mirrors
BACKENDS = ("perceptron", "heuristic")


def _heuristic(backend: str) -> bool:
    """True for the rule backend, False for the perceptron; any other
    name raises."""
    if backend not in BACKENDS:
        raise ValueError(
            f"unknown NLP backend {backend!r}; expected one of {BACKENDS}"
        )
    return backend == "heuristic"


def _pos_batch(arr, backend: str = "perceptron"):
    if arr is None:
        return None
    if _heuristic(backend):
        return [_heuristic_pos(t) for t in arr]
    return perceptron.load_default().tag(list(arr))


def _ner_batch(arr, backend: str = "perceptron"):
    if arr is None:
        return None
    if _heuristic(backend):
        # capitalisation with the reference's 'O' default class
        return [
            "ENTITY" if i > 0 and t[:1].isupper() else "O"
            for i, t in enumerate(arr)
        ]
    # vendored averaged-perceptron NER (functions/perceptron.py, trained
    # weights in data/ner_weights.json) with the reference's 'O' class
    return perceptron.load_default_ner().tag(list(arr))


def _lemma_batch(arr, backend: str = "perceptron"):
    if arr is None:
        return None
    if _heuristic(backend):
        return [_heuristic_lemma(t) for t in arr]
    # POS-conditioned morphy lemmatisation (functions/lemmatizer.py):
    # detachment rules validated against the vendored lexicon, POS from
    # the perceptron tagger — the CoreNLP lemma() contract (tag first,
    # then lemmatise)
    lem = lemmatizer.load_default()
    tags = perceptron.load_default().tag(list(arr))
    return [lem.lemma(t, tag) for t, tag in zip(arr, tags)]


def make_tag_udf(kernel, backend: str = "perceptron"):
    """Arrow-batched array→array tagging UDF running ``kernel`` with
    ``backend`` (checked here, on the driver)."""
    _heuristic(backend)

    @F.pandas_udf(ArrayType(StringType()))
    def _udf(tokens: pd.Series) -> pd.Series:
        return tokens.map(lambda arr: kernel(arr, backend))

    return _udf


#: Arrow-batched NER tagging of token arrays (perceptron backend)
ner_tags = make_tag_udf(_ner_batch)


_VOWELS = set("aeiou")

_IRREGULAR_LEMMAS = {
    "is": "be", "are": "be", "am": "be", "was": "be", "were": "be",
    "been": "be", "being": "be",
    "has": "have", "had": "have", "having": "have",
    "does": "do", "did": "do", "done": "do",
    "went": "go", "gone": "go", "going": "go",
    "children": "child", "men": "man", "women": "woman",
    "feet": "foot", "teeth": "tooth", "mice": "mouse", "geese": "goose",
    "people": "person", "data": "datum",
    "better": "good", "best": "good", "worse": "bad", "worst": "bad",
    "made": "make", "said": "say", "took": "take", "taken": "take",
    "found": "find", "used": "use", "using": "use", "gave": "give",
    "given": "give", "shown": "show", "showed": "show", "seen": "see",
    "saw": "see",
}


def _heuristic_lemma(tok: str) -> str:
    """Rule-based English lemmatiser — STAND-IN for CoreNLP ``lemma()``
    (Document.sentences().lemmas(), DocumentWordSpecAnalyser.scala:190).
    Irregular table + suffix rules with doubling/e-restore undo;
    deterministic, accuracy-gated in tests against a hand-tagged
    fixture rather than exact-matched (SURVEY §7.4)."""
    t = tok.lower()
    if t in _IRREGULAR_LEMMAS:
        return _IRREGULAR_LEMMAS[t]
    if len(t) > 4 and t.endswith("ies"):
        return t[:-3] + "y"
    if len(t) > 4 and (
        t.endswith("sses") or t.endswith("ches") or t.endswith("shes")
        or t.endswith("xes") or t.endswith("zes")
    ):
        return t[:-2]
    if len(t) > 3 and t.endswith("s") and not t.endswith("ss") and not t.endswith("us"):
        return t[:-1]
    for suffix in ("ing", "ed"):
        if len(t) > len(suffix) + 2 and t.endswith(suffix):
            stem = t[: -len(suffix)]
            if len(stem) > 2 and stem[-1] == stem[-2] and stem[-1] not in "lsz":
                return stem[:-1]  # running → run
            if (
                len(stem) > 2
                and stem[-1] not in _VOWELS
                and stem[-2] in _VOWELS
                and stem[-3] not in _VOWELS
            ):
                return stem + "e"  # making → make, scored → score
            return stem  # reading → read
    return t


def heuristic_pos_sql(col: str) -> str:
    """DuckDB CASE expression mirroring ``_heuristic_pos`` rule-for-rule
    (generated from the same word sets, so the oracle cannot drift)."""
    d = ", ".join(f"'{w}'" for w in sorted(_DETERMINERS))
    p = ", ".join(f"'{w}'" for w in sorted(_PREPOSITIONS))
    m = ", ".join(f"'{w}'" for w in sorted(_MODALS))
    return (
        f"CASE WHEN {col} IN ({d}) THEN 'DT'"
        f" WHEN {col} IN ({p}) THEN 'IN'"
        f" WHEN {col} IN ({m}) THEN 'MD'"
        f" WHEN {col} LIKE '%ing' THEN 'VBG'"
        f" WHEN {col} LIKE '%ed' THEN 'VBD'"
        f" WHEN {col} LIKE '%ly' THEN 'RB'"
        f" WHEN {col} LIKE '%s' AND len({col}) > 3 THEN 'NNS'"
        f" ELSE 'NN' END"
    )


def heuristic_lemma_sql(col: str) -> str:
    """DuckDB CASE expression mirroring ``_heuristic_lemma`` (irregular
    table + suffix rules incl. doubling/e-restore undo), generated from
    the same ``_IRREGULAR_LEMMAS`` dict.  Assumes ``col`` is already
    lowercase (tokenize output)."""
    irr = " ".join(
        f"WHEN {col} = '{k}' THEN '{v}'" for k, v in _IRREGULAR_LEMMAS.items()
    )
    vowels = "('a','e','i','o','u')"

    def stem_rules(stem: str) -> str:
        last = f"substr({stem}, len({stem}), 1)"
        last2 = f"substr({stem}, len({stem})-1, 1)"
        last3 = f"substr({stem}, len({stem})-2, 1)"
        return (
            f"CASE WHEN len({stem}) > 2 AND {last} = {last2}"
            f" AND {last} NOT IN ('l','s','z')"
            f" THEN left({stem}, len({stem})-1)"
            f" WHEN len({stem}) > 2 AND {last} NOT IN {vowels}"
            f" AND {last2} IN {vowels} AND {last3} NOT IN {vowels}"
            f" THEN {stem} || 'e'"
            f" ELSE {stem} END"
        )

    ing = stem_rules(f"left({col}, len({col})-3)")
    ed = stem_rules(f"left({col}, len({col})-2)")
    return (
        f"CASE {irr}"
        f" WHEN len({col}) > 4 AND {col} LIKE '%ies'"
        f" THEN left({col}, len({col})-3) || 'y'"
        f" WHEN len({col}) > 4 AND (right({col}, 4) IN ('sses','ches','shes')"
        f" OR right({col}, 3) IN ('xes','zes'))"
        f" THEN left({col}, len({col})-2)"
        f" WHEN len({col}) > 3 AND {col} LIKE '%s'"
        f" AND right({col}, 2) <> 'ss' AND right({col}, 2) <> 'us'"
        f" THEN left({col}, len({col})-1)"
        f" WHEN len({col}) > 5 AND {col} LIKE '%ing' THEN {ing}"
        f" WHEN len({col}) > 4 AND {col} LIKE '%ed' THEN {ed}"
        f" ELSE {col} END"
    )


def word_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "document_version_id",
    min_lemma_len: int = 4,
    backend: str = "perceptron",
) -> DataFrame:
    """Per-word NLP feature rows: (doc, word, lemma, pos_tag,
    word_position), POS-whitelisted with lemma length ≥ min_lemma_len —
    the DocumentWordSpecAnalyser.scala:166-220 extraction (one output
    row per kept word, positions 1-based over the full token stream).
    ``backend`` picks the tagger: the perceptron by default,
    'heuristic' for the oracle-reproducible rule path.
    """
    from puma_matcher_spark.functions.text import tokenize

    lemma_udf = make_tag_udf(_lemma_batch, backend)
    pos_udf = make_tag_udf(_pos_batch, backend)
    toks = docs.select(
        F.col(id_col).alias("document_version_id"),
        tokenize(F.col(text_col)).alias("_words"),
    )
    tagged = toks.select(
        "document_version_id",
        F.posexplode(
            F.arrays_zip(
                F.col("_words").alias("word"),
                lemma_udf(F.col("_words")).alias("lemma"),
                pos_udf(F.col("_words")).alias("pos_tag"),
            )
        ).alias("pos", "z"),
    )
    wl = F.array(*[F.lit(t) for t in POS_WHITELIST])
    return (
        tagged.where(
            F.array_contains(wl, F.col("z.pos_tag"))
            & (F.length("z.lemma") >= min_lemma_len)
        )
        .select(
            "document_version_id",
            F.col("z.word").alias("word"),
            F.col("z.lemma").alias("lemma"),
            F.col("z.pos_tag").alias("pos_tag"),
            (F.col("pos") + 1).cast("long").alias("word_position"),
        )
    )
