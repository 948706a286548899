"""Semantics tests for the retrieval plane (llmdata/retrieval.py).
Oracle parity at sf0.001 is covered by test_oracle_parity."""

from __future__ import annotations

from puma_matcher_spark.llmdata.retrieval import bm25_scores, phrase_lookup


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "rare word appears here"),
            (2, "common common common filler filler"),
            (3, "common text with a rare token and more words padding it"),
            (4, "common phrase match phrase match end"),
            (5, "unrelated filler tokens only"),
        ],
        "doc_id LONG, text STRING",
    )


def test_bm25_ranks_rare_term_over_common(spark):
    scores = {
        r["doc_id"]: r
        for r in bm25_scores(_docs(spark), ["rare", "common"]).collect()
    }
    # doc 2 matches only 'common' (df 3 of 5 → idf clamps to 0) → score 0
    assert scores[2]["score"] == 0.0
    # docs with 'rare' (df 2 of 5, idf > 0) outscore common-only docs
    assert scores[1]["score"] > scores[2]["score"]
    assert scores[1]["matched_terms"] == 1
    assert scores[3]["matched_terms"] == 2
    # shorter doc with the same rare tf scores higher (length normalisation)
    assert scores[1]["score"] > scores[3]["score"]


def test_phrase_lookup_counts_occurrences(spark):
    out = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_lookup(_docs(spark), "phrase match").collect()
    }
    assert out == {4: 2}


def test_phrase_lookup_requires_contiguity(spark):
    assert phrase_lookup(_docs(spark), "common end").count() == 0


def test_phrase_lookup_edge_cases(spark):
    """r11 in-row gram rewrite: overlapping occurrences count per
    position, single-token phrases work, a phrase longer than the doc
    matches nothing, and empty/whitespace docs produce no row (the
    sequence() guard path)."""
    docs = spark.createDataFrame(
        [
            (1, "a a a a"),
            (2, "b"),
            (3, ""),
            (4, "   "),
            (5, "x  a a  y"),  # double spaces: empty tokens dropped
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_lookup(docs, "a a").collect()
    }
    assert out == {1: 3, 5: 1}  # overlapping positions all count
    single = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_lookup(docs, "a").collect()
    }
    assert single == {1: 4, 5: 2}
    assert phrase_lookup(docs, "b b").count() == 0  # longer than doc 2
    assert phrase_lookup(docs, "a a a a a").count() == 0


def test_phrase_lookup_empty_phrase_matches_nothing(spark):
    """r12 (r11 advice): an empty or whitespace-only phrase must return
    an empty frame with the (doc_id, n_occurrences) schema — the old
    lead()-window contract — not raise IndexError at plan build."""
    docs = _docs(spark)
    for phrase in ("", "   "):
        out = phrase_lookup(docs, phrase)
        assert [f.name for f in out.schema.fields] == [
            "doc_id",
            "n_occurrences",
        ]
        assert out.count() == 0
