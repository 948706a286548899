"""Text processing: tokenization, stopword removal, Porter stemming.

Rebuild of the reference's TextDataSource preprocessing chain
(matching/datasource/TextDataSource.scala:32-70: lowercase → split \\W+ →
drop short words → stopwords → Porter stem) and its pure-Scala stemmer
(utils/nlp/PorterStemmer.scala).

Tokenize/stopword/min-length are Catalyst expressions (codegen, no
Python).  Stemming is genuinely procedural → a vectorized pandas UDF
(Arrow batches; the classic Porter 1980 algorithm implemented below from
the published description).  This is one of the four sanctioned
pandas-UDF kernels (SURVEY.md §2.10).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

# reference resource stopwords.txt (loaded ProgramConfig.scala:66);
# trimmed to a representative public English stopword list.
STOPWORDS = (
    "the a an of and or to in is are was were be been being for on with by "
    "at from as that this these those it its if then than so not no nor but "
    "such do does did done can could will would shall should may might must "
    "have has had having i you he she we they them his her our your their "
    "what which who whom when where why how all any both each few more most "
    "other some only own same too very just about into over under again"
).split()

DEFAULT_MIN_WORD_LENGTH = 3  # puma.matching.textmatcher.word.minLength
_STOPWORD_RE = "^(?:" + "|".join(STOPWORDS) + ")$"


def tokenize(text: Column) -> Column:
    """lowercase → split on non-word runs → length + stopword filters.

    TextDataSource.scala:42-54 as pure column expressions.  The stopword
    test is a precompiled regex alternation, not ``array_contains`` over a
    literal array: CreateArray isn't constant-folded inside lambda
    functions, so the array-literal variant rebuilt the 100-element array
    per token (measured ~10× slowdown on the shingle path).
    """
    toks = F.split(F.lower(text), r"[^a-z0-9]+")
    return F.filter(
        toks,
        lambda x: (F.length(x) >= DEFAULT_MIN_WORD_LENGTH) & ~x.rlike(_STOPWORD_RE),
    )


def tokenize_string_deletions(text: Column) -> Column:
    """``tokenize`` with the filters applied at the STRING level: two
    codegen regexp_replace passes delete stopword tokens and short
    tokens before the split, so the array lambda is a trivial
    non-empty check (no per-element regex — the cost that made
    array-lambda tokenization ~10× slower).  Token boundaries are
    explicit ``[a-z0-9]`` lookarounds, not ``\\b`` (underscore is a word
    char to \\b but a delimiter to this tokenizer).  Output is
    element-for-element identical to ``tokenize`` (asserted in tests).
    Used by the map-side shingle path where the token array must be
    materialised in-row.
    """
    sw = "|".join(STOPWORDS)
    t = F.lower(text)
    t = F.regexp_replace(t, f"(?<![a-z0-9])(?:{sw})(?![a-z0-9])", " ")
    short = f"[a-z0-9]{{1,{DEFAULT_MIN_WORD_LENGTH - 1}}}"
    t = F.regexp_replace(t, f"(?<![a-z0-9]){short}(?![a-z0-9])", " ")
    return F.filter(F.split(t, "[^a-z0-9]+"), lambda x: x != F.lit(""))


def exploded_tokens(docs, text_col: str = "text", id_col: str = "document_version_id"):
    """(document_version_id, pos, word) rows — same filter semantics as
    ``tokenize`` but applied AFTER posexplode as a row-level predicate.

    Prefer this on hot paths: predicates inside array lambdas are
    interpreted and re-evaluate literal subtrees (regex compile, array
    construction) per element, measured ~100× slower than the codegen'd
    row-level WHERE this produces.  ``pos`` is renumbered to be
    consecutive over surviving tokens (matching ``tokenize`` positions).
    """
    from pyspark.sql.window import Window

    raw = docs.select(
        F.col(id_col).alias("document_version_id"),
        F.posexplode(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+")).alias(
            "_raw_pos", "word"
        ),
    )
    kept = raw.where(
        (F.length("word") >= DEFAULT_MIN_WORD_LENGTH)
        & ~F.col("word").rlike(_STOPWORD_RE)
    )
    w = Window.partitionBy("document_version_id").orderBy("_raw_pos")
    return kept.select(
        "document_version_id",
        (F.row_number().over(w) - 1).alias("pos"),
        "word",
    )


# ---------------------------------------------------------------------------
# Porter stemmer (Porter, 1980, "An algorithm for suffix stripping") —
# vectorized over Arrow batches.
# ---------------------------------------------------------------------------

_VOWELS = "aeiou"


def _is_cons(word: str, i: int) -> bool:
    c = word[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """Number of VC sequences."""
    m = 0
    prev_vowel = False
    for i in range(len(stem)):
        cons = _is_cons(stem, i)
        if cons and prev_vowel:
            m += 1
        prev_vowel = not cons
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return (
        len(word) >= 2
        and word[-1] == word[-2]
        and _is_cons(word, len(word) - 1)
    )


def _cvc(word: str) -> bool:
    if len(word) < 3:
        return False
    return (
        _is_cons(word, len(word) - 3)
        and not _is_cons(word, len(word) - 2)
        and _is_cons(word, len(word) - 1)
        and word[-1] not in "wxy"
    )


# rule tables shared by porter_stem AND the generated SQL twin
# (porter_sql_ctes) — single source of truth, drift-proof
STEP2_RULES = (
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
    ("anci", "ance"), ("izer", "ize"), ("abli", "able"), ("alli", "al"),
    ("entli", "ent"), ("eli", "e"), ("ousli", "ous"), ("ization", "ize"),
    ("ation", "ate"), ("ator", "ate"), ("alism", "al"), ("iveness", "ive"),
    ("fulness", "ful"), ("ousness", "ous"), ("aliti", "al"),
    ("iviti", "ive"), ("biliti", "ble"),
)
STEP3_RULES = (
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
)
STEP4_SUFFIXES = (
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
)


def porter_stem(word: str) -> str:
    """Classic Porter steps 1a-5b."""
    if len(word) <= 2:
        return word
    w = word

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # step 1b
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    elif (w.endswith("ed") and _has_vowel(w[:-2])) or (
        w.endswith("ing") and _has_vowel(w[:-3])
    ):
        w = w[:-2] if w.endswith("ed") else w[:-3]
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif _ends_double_cons(w) and not w.endswith(("l", "s", "z")):
            w = w[:-1]
        elif _measure(w) == 1 and _cvc(w):
            w += "e"

    # step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # step 2
    for suf, rep in STEP2_RULES:
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break

    # step 3
    for suf, rep in STEP3_RULES:
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break

    # step 4
    for suf in STEP4_SUFFIXES:
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 1:
                w = w[: -len(suf)]
            break
    else:
        if w.endswith("ion") and len(w) > 3 and w[-4] in "st":
            if _measure(w[:-3]) > 1:
                w = w[:-3]

    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        if _measure(stem) > 1 or (_measure(stem) == 1 and not _cvc(stem)):
            w = stem
    # step 5b
    if _measure(w) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]
    return w


# ---------------------------------------------------------------------------
# Porter stemmer → DuckDB SQL twin (generated from the SAME rule tables)
# ---------------------------------------------------------------------------


def _cv_sql(col: str) -> str:
    """Consonant/vowel canonicalisation: vowels → 'a'; then 'y' preceded
    by a consonant becomes a vowel.  RE2 has no lookbehind, but the
    sequential non-overlapping scan of ``([^a])y → \\1a`` implements
    exactly the alternating y-classification Porter defines (each match
    consumes its predecessor, so a 'y' following a just-vowelised 'y'
    correctly stays a consonant).  cv of any prefix == prefix of cv,
    which the per-step expressions below rely on."""
    return (
        f"regexp_replace(regexp_replace({col}, '[aeiou]', 'a', 'g'),"
        f" '([^a])y', '\\1a', 'g')"
    )


def porter_sql_ctes(src: str) -> tuple[str, str]:
    """CTE chain stemming the ``word`` column of CTE/table ``src`` — returns
    (sql_text, final_cte_name); the final CTE carries ``src``'s columns
    plus ``stem``.  Generated from STEP2_RULES/STEP3_RULES/STEP4_SUFFIXES
    so the SQL cannot drift from ``porter_stem``."""

    def m(cv: str, k) -> str:  # measure of the stem obtained dropping k chars
        return (
            f"len(regexp_extract_all(left({cv}, len({cv})-{k}), 'a+[^a]+'))"
        )

    def hasv(cv: str, k) -> str:
        return f"contains(left({cv}, len({cv})-{k}), 'a')"

    def dbl(w: str, cv: str, k) -> str:  # stem ends in doubled consonant
        last = f"(len({w})-{k})"
        return (
            f"({last} >= 2 AND substr({w}, {last}-1, 1) = substr({w}, {last}, 1)"
            f" AND substr({cv}, {last}, 1) <> 'a')"
        )

    def cvc(w: str, cv: str, k) -> str:  # stem ends consonant-vowel-consonant
        last = f"(len({w})-{k})"
        return (
            f"({last} >= 3 AND substr({cv}, {last}-2, 1) <> 'a'"
            f" AND substr({cv}, {last}-1, 1) = 'a'"
            f" AND substr({cv}, {last}, 1) <> 'a'"
            f" AND substr({w}, {last}, 1) NOT IN ('w','x','y'))"
        )

    def cut(w: str, k) -> str:
        return f"left({w}, len({w})-{k})"

    w, cv = "word", None
    ctes: list[str] = []

    def emit(name: str, expr: str) -> str:
        ctes.append(f"{name} AS (SELECT *, {expr} AS _{name} FROM {src_ref[0]})")
        src_ref[0] = name
        return f"_{name}"

    src_ref = [src]

    # step 1a
    w = emit(
        "p1a",
        f"CASE WHEN right({w}, 4) = 'sses' THEN {cut(w, 2)}"
        f" WHEN right({w}, 3) = 'ies' THEN {cut(w, 2)}"
        f" WHEN right({w}, 2) = 'ss' THEN {w}"
        f" WHEN right({w}, 1) = 's' THEN {cut(w, 1)}"
        f" ELSE {w} END",
    )
    cv = emit("c1a", _cv_sql(w))

    # step 1b (with the at/bl/iz + doubling + cvc post-adjustments)
    def post(k: int) -> str:
        stem = cut(w, k)
        return (
            f"CASE WHEN right({stem}, 2) IN ('at','bl','iz') THEN {stem} || 'e'"
            f" WHEN {dbl(w, cv, k)} AND right({stem}, 1) NOT IN ('l','s','z')"
            f" THEN {cut(w, k + 1)}"
            f" WHEN {m(cv, k)} = 1 AND {cvc(w, cv, k)} THEN {stem} || 'e'"
            f" ELSE {stem} END"
        )

    w = emit(
        "p1b",
        f"CASE WHEN right({w}, 3) = 'eed' THEN"
        f" (CASE WHEN {m(cv, 3)} > 0 THEN {cut(w, 1)} ELSE {w} END)"
        f" WHEN right({w}, 2) = 'ed' AND {hasv(cv, 2)} THEN {post(2)}"
        f" WHEN right({w}, 3) = 'ing' AND {hasv(cv, 3)} THEN {post(3)}"
        f" ELSE {w} END",
    )
    cv = emit("c1b", _cv_sql(w))

    # step 1c
    w = emit(
        "p1c",
        f"CASE WHEN right({w}, 1) = 'y' AND {hasv(cv, 1)}"
        f" THEN {cut(w, 1)} || 'i' ELSE {w} END",
    )
    cv = emit("c1c", _cv_sql(w))

    # steps 2 and 3 (first matching suffix wins; replace only when m > 0)
    def rule_case(rules, min_m: int) -> str:
        whens = []
        for suf, rep in rules:
            k = len(suf)
            out = f"{cut(w, k)} || '{rep}'" if rep else cut(w, k)
            whens.append(
                f"WHEN right({w}, {k}) = '{suf}' THEN"
                f" (CASE WHEN {m(cv, k)} > {min_m} THEN {out} ELSE {w} END)"
            )
        return "CASE " + " ".join(whens) + f" ELSE {w} END"

    w = emit("p2", rule_case(STEP2_RULES, 0))
    cv = emit("c2", _cv_sql(w))
    w = emit("p3", rule_case(STEP3_RULES, 0))
    cv = emit("c3", _cv_sql(w))

    # step 4 (m > 1 deletions, with the trailing s/t + 'ion' special case)
    whens = []
    for suf in STEP4_SUFFIXES:
        k = len(suf)
        whens.append(
            f"WHEN right({w}, {k}) = '{suf}' THEN"
            f" (CASE WHEN {m(cv, k)} > 1 THEN {cut(w, k)} ELSE {w} END)"
        )
    whens.append(
        f"WHEN right({w}, 3) = 'ion' AND len({w}) > 3"
        f" AND substr({w}, len({w})-3, 1) IN ('s','t') THEN"
        f" (CASE WHEN {m(cv, 3)} > 1 THEN {cut(w, 3)} ELSE {w} END)"
    )
    w = emit("p4", "CASE " + " ".join(whens) + f" ELSE {w} END")
    cv = emit("c4", _cv_sql(w))

    # step 5a
    w = emit(
        "p5a",
        f"CASE WHEN right({w}, 1) = 'e' AND ({m(cv, 1)} > 1 OR"
        f" ({m(cv, 1)} = 1 AND NOT {cvc(w, cv, 1)}))"
        f" THEN {cut(w, 1)} ELSE {w} END",
    )
    cv = emit("c5a", _cv_sql(w))

    # step 5b + the ≤2-char passthrough guard
    w = emit(
        "p5b",
        "CASE WHEN len(word) <= 2 THEN word"
        f" WHEN {m(cv, 0)} > 1 AND {dbl(w, cv, 0)} AND right({w}, 1) = 'l'"
        f" THEN {cut(w, 1)} ELSE {w} END",
    )
    final = f"stemmed AS (SELECT *, {w} AS stem FROM {src_ref[0]})"
    ctes.append(final)
    return ",\n".join(ctes), "stemmed"


@F.pandas_udf(ArrayType(StringType()))
def stem_tokens(tokens: pd.Series) -> pd.Series:
    """Arrow-batched Porter stemming of token arrays."""
    return tokens.map(
        lambda arr: [porter_stem(t) for t in arr] if arr is not None else None
    )


def text_features(docs, text_col: str = "text", id_col: str = "document_version_id"):
    """TextDataSource output: (id, words[], stemmed feature[], position[]).

    Reference TextDataSource.scala:32-70 emits parallel arrays; positions
    are the token indexes after filtering.
    """
    toks = tokenize(F.col(text_col))
    out = docs.select(
        F.col(id_col),
        F.coalesce(toks, F.array().cast("array<string>")).alias("words"),
    )
    feature = stem_tokens(F.col("words"))
    # guard the position sequence: sequence(0, -1) on a token-less doc
    # would produce the DESCENDING [0, -1] (Spark infers step -1), not
    # an empty array
    return out.select(
        id_col,
        "words",
        feature.alias("feature"),
        F.when(
            F.size("words") > 0,
            F.sequence(F.lit(0), F.size("words") - 1),
        )
        .otherwise(F.array().cast("array<int>"))
        .alias("position"),
    )
