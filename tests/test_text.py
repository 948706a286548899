"""Text family: tokenizer, Porter stemmer, code regexes, text matchers."""

from pyspark.sql import functions as F

from puma_matcher_spark.functions import codes
from puma_matcher_spark.functions.text import porter_stem, text_features, tokenize
from puma_matcher_spark.operators import textmatch as tm


def test_porter_stem_published_examples():
    # examples from Porter (1980)
    cases = {
        "caresses": "caress",
        "ponies": "poni",
        "ties": "ti",
        "caress": "caress",
        "cats": "cat",
        "feed": "feed",
        "agreed": "agre",
        "plastered": "plaster",
        "motoring": "motor",
        "sing": "sing",
        "conflated": "conflat",
        "troubled": "troubl",
        "sized": "size",
        "happy": "happi",
        "relational": "relat",
        "conditional": "condit",
        "rational": "ration",
        "digitizer": "digit",
        "operator": "oper",
        "feudalism": "feudal",
        "probate": "probat",
        "controll": "control",
        "roll": "roll",
    }
    for word, want in cases.items():
        assert porter_stem(word) == want, f"{word} -> {porter_stem(word)} != {want}"


def test_string_level_tokenizer_matches_tokenize(spark):
    """The string-deletion tokenizer must be element-for-element equal to
    tokenize on real fixture text plus underscore/punctuation edges."""
    from puma_matcher_spark.functions.text import tokenize_string_deletions

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [
            (10_001, "The_quick the_brown fox-and-the dog; a an of IN by"),
            (10_002, "x yy zzz the123 123the abc_the_def  double  spaces"),
            (10_003, ""),
        ],
        ["doc_id", "text"],
    )
    both = docs.unionByName(edge).select(
        "doc_id",
        tokenize(F.col("text")).alias("a"),
        tokenize_string_deletions(F.col("text")).alias("b"),
    )
    diff = both.where(F.col("a") != F.col("b")).count()
    assert diff == 0


def test_porter_sql_twin_matches_python_kernel():
    """The generated DuckDB CTE chain must agree with porter_stem on the
    published examples AND on fuzzed words covering every rule family
    (plurals, eed/ed/ing with doubling and e-restore, y-vowel chains,
    step-2/3/4 suffixes, 5a/5b) — this equivalence is what upgrades
    text_features_stemmed from rows-only to hash-checked."""
    import random

    import duckdb

    from puma_matcher_spark.functions.text import porter_sql_ctes

    rng = random.Random(42)
    stems = [
        "caress", "poni", "cat", "agree", "plaster", "motor", "conflat",
        "hop", "tan", "fall", "hiss", "fizz", "fail", "file", "happ",
        "rel", "condit", "valenc", "digit", "oper", "feudal", "triplic",
        "electric", "hope", "good", "reviv", "allow", "infer", "syzyg",
        "day", "cry", "controll", "roll", "yy", "a", "xx",
    ]
    sufs = [
        "", "s", "es", "ses", "ies", "sses", "ed", "eed", "ing", "y",
        "ational", "tional", "enci", "izer", "ousli", "ization", "ator",
        "iveness", "biliti", "icate", "ative", "ful", "ness", "al",
        "ance", "er", "ic", "able", "ant", "ement", "ent", "sion",
        "tion", "ion", "ism", "ate", "iti", "ous", "ive", "ize", "e", "l",
    ]
    words = sorted(
        {s + x for s in stems for x in sufs}
        | {
            "".join(rng.choice("abcdefilmnorstuyz") for _ in range(rng.randint(1, 12)))
            for _ in range(3000)
        }
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE w AS SELECT unnest($1::VARCHAR[]) AS word", [words]
    )
    ctes, final = porter_sql_ctes("w")
    rows = con.execute(f"WITH {ctes} SELECT word, stem FROM {final}").fetchall()
    assert len(rows) == len(words)
    bad = [(w, porter_stem(w), s) for w, s in rows if porter_stem(w) != s]
    assert not bad, f"{len(bad)} SQL/python stem mismatches, first: {bad[:5]}"


def test_tokenize_filters(spark):
    df = spark.createDataFrame([("The QUICK-brown fox is on it xy",)], ["t"])
    got = df.select(tokenize(F.col("t")).alias("toks")).first()["toks"]
    # 'the'/'is'/'on'/'it' stopwords, 'xy' too short
    assert got == ["quick", "brown", "fox"]


def test_text_features_parallel_arrays(spark):
    df = spark.createDataFrame([(1, "running quickly through forests")], ["doc_id", "text"])
    r = text_features(df, id_col="doc_id").first()
    assert r["words"] == ["running", "quickly", "through", "forests"]
    assert r["feature"] == ["run", "quickli", "through", "forest"]
    assert r["position"] == [0, 1, 2, 3]


def test_proposal_code_and_doi_extraction(spark):
    df = spark.createDataFrame(
        [
            (1, "see proposal 7-02-1234 and CRG-881 plus doi 10.5291/ILL-DATA.4-01-1 end"),
            (2, "no codes here"),
        ],
        ["document_version_id", "text"],
    )
    got = {
        r["document_version_id"]: (r["pcs"], r["dois"])
        for r in df.select(
            "document_version_id",
            codes.extract_codes(F.col("text"), codes.PROPOSAL_CODE_RE).alias("pcs"),
            codes.extract_codes(F.col("text"), codes.DOI_RE).alias("dois"),
        ).collect()
    }
    assert got == {
        1: (["7-02-1234", "CRG-881", "4-01-1"], ["10.5291/ILL-DATA.4-01-1"]),
        2: ([], []),
    }


def test_sentence_shingles_and_cap(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),
            (3, "unrelated words entirely different here"),
        ],
        ["document_version_id", "text"],
    )
    pairs = tm.text_match_pairs(docs, n=4).collect()
    assert len(pairs) == 1
    r = pairs[0]
    # docs 1,2 share exactly the 4-gram 'alpha beta gamma delta'
    assert (r["document_version1_id"], r["document_version2_id"], r["common_sentences"]) == (1, 2, 1)


def test_text_match_merged_contiguous_run(spark):
    """Two docs sharing a 6-word passage: the three overlapping 4-gram
    matches must merge into ONE run of 6 words (TextMatcher.scala:95-157
    semantics), not count as three separate matches."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "omega psi chi alpha beta gamma delta epsilon zeta"),
        ],
        ["document_version_id", "text"],
    )
    rows = tm.text_match_merged(docs, n=4).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["document_version1_id"], r["document_version2_id"]) == (1, 2)
    assert r["doc1_positions"] == [0]
    assert r["doc2_positions"] == [3]
    assert r["run_sizes"] == [6]
    assert r["max_sentence_size"] == 6
    assert r["text_match_count"] == 1
    assert r["word_match_count"] == 6
    assert r["doc1_word_count"] == 3  # 6 tokens → 3 shingles
    assert r["doc2_word_count"] == 6  # 9 tokens → 6 shingles


def test_text_match_merged_distant_matches_stay_separate_runs(spark):
    """Matches more than n positions apart must NOT merge."""
    docs = spark.createDataFrame(
        [
            (3, "alpha beta gamma delta aaa bbb ccc ddd eee fff red green blue yellow"),
            (4, "alpha beta gamma delta ggg hhh iii jjj kkk lll red green blue yellow"),
        ],
        ["document_version_id", "text"],
    )
    rows = tm.text_match_merged(docs, n=4).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["doc1_positions"] == [0, 10]
    assert r["doc2_positions"] == [0, 10]
    assert r["run_sizes"] == [4, 4]
    assert r["text_match_count"] == 2
    assert r["word_match_count"] == 8
    assert r["max_sentence_size"] == 4


def test_cosine_identical_titles_score_one(spark):
    docs = spark.createDataFrame(
        [
            (1, "neutron scattering study"),
            (2, "neutron scattering study"),
            (3, "crystal growth experiment"),
        ],
        ["document_version_id", "title"],
    )
    out = {
        (r["document_version1_id"], r["document_version2_id"]): r["score"]
        for r in tm.cosine_title_matches(docs, min_score=0.2).collect()
    }
    assert abs(out[(1, 2)] - 1.0) < 1e-9
    assert (1, 3) not in out
