"""Picture/hamming, context windows, editors, ML plane, file sources."""

import os

import pytest
import tempfile

from pyspark.sql import functions as F

from puma_matcher_spark.operators import context as cx
from puma_matcher_spark.operators import picture as pic
from puma_matcher_spark.operators.editors import hundred_match_editor
from puma_matcher_spark.sources.files import clean_full_text, read_text_files


def test_hamming_long(spark):
    df = spark.createDataFrame([(0b1011, 0b0010)], ["a", "b"])
    assert df.select(
        pic.hamming_long(F.col("a"), F.col("b")).alias("d")
    ).first()["d"] == 2


def test_size_filter(spark):
    pics = spark.createDataFrame(
        [(1, 200, 200), (2, 100, 200)], ["id", "width", "height"]
    )
    assert [r["id"] for r in pic.picture_size_filter(pics).collect()] == [1]


def test_context_windows_edges(spark):
    toks = spark.createDataFrame(
        [(1, i, w) for i, w in enumerate(["a", "b", "target", "c", "d", "e"])],
        ["document_version_id", "pos", "word"],
    )
    out = cx.mention_contexts(toks, ["target"], k=2).collect()
    assert len(out) == 1
    assert out[0]["context"] == ["a", "b", "target", "c", "d"]


def test_editors(spark):
    cand = spark.createDataFrame(
        [(10, "doi", 5.0), (11, "person", 5.0)],
        ["pair_id", "score_type", "score"],
    )
    out = {r["pair_id"]: r["score"] for r in hundred_match_editor(cand, ["doi"]).collect()}
    assert out == {10: 100.0, 11: 5.0}


def test_read_text_files_and_clean(spark):
    with tempfile.TemporaryDirectory() as d:
        p1 = os.path.join(d, "a.txt")
        p2 = os.path.join(d, "b.txt")
        with open(p1, "w") as f:
            f.write("hello\x01  world\n")
        with open(p2, "w") as f:
            f.write("second doc")
        path_map = spark.createDataFrame(
            [(1, p1), (2, p2)], ["document_version_id", "file_path"]
        )
        out = clean_full_text(read_text_files(spark, path_map))
        got = {r["document_version_id"]: r["text"] for r in out.collect()}
        assert got == {1: "hello world", 2: "second doc"}
        # scale path: glob-based distributed listing, no driver collect,
        # same result (extra unmapped files are simply not joined)
        out_g = clean_full_text(
            read_text_files(spark, path_map, base_glob=os.path.join(d, "*.txt"))
        )
        got_g = {r["document_version_id"]: r["text"] for r in out_g.collect()}
        assert got_g == got


def test_read_text_files_glob_handles_spaces_and_missing(spark):
    import pytest

    with tempfile.TemporaryDirectory() as d:
        p1 = os.path.join(d, "with space.txt")  # percent-encoded in the URI
        p2 = os.path.join(d, "plus+name.txt")   # must NOT decode '+' to ' '
        for p, body in [(p1, "spaced"), (p2, "plussed")]:
            with open(p, "w") as f:
                f.write(body)
        path_map = spark.createDataFrame(
            [(1, p1), (2, p2)], ["document_version_id", "file_path"]
        )
        glob = os.path.join(d, "*.txt")
        got = {
            r["document_version_id"]: r["text"]
            for r in read_text_files(spark, path_map, base_glob=glob).collect()
        }
        assert got == {1: "spaced", 2: "plussed"}

        # the collect branch must also decode URIs (space in name)
        got_c = {
            r["document_version_id"]: r["text"]
            for r in read_text_files(spark, path_map).collect()
        }
        assert got_c == got

        # strict (default): a mapped path absent from the scan fails LOUDLY
        bad_map = spark.createDataFrame(
            [(1, p1), (3, os.path.join(d, "nope.txt"))],
            ["document_version_id", "file_path"],
        )
        with pytest.raises(Exception, match="no scanned file matched"):
            read_text_files(spark, bad_map, base_glob=glob).collect()
        # opt-out keeps the row with NULL text
        lax = {
            r["document_version_id"]: r["text"]
            for r in read_text_files(
                spark, bad_map, base_glob=glob, strict=False
            ).collect()
        }
        assert lax[1] == "spaced" and lax[3] is None


def test_rf_classifier_learns_separable_data(spark):
    rows = [(float(i % 2), float(i % 2) * 10 + (i % 3) * 0.1, float(i)) for i in range(200)]
    df = spark.createDataFrame(rows, ["label", "f1", "f2"])
    from puma_matcher_spark.operators.instrument_ml import train_rf_classifier

    _, acc = train_rf_classifier(df, ["f1", "f2"], num_trees=20, max_depth=5)
    assert acc > 0.95


def test_word2vec_and_kmeans_run(spark):
    from puma_matcher_spark.operators.instrument_ml import word2vec_embeddings

    sents = spark.createDataFrame(
        [(1, ["neutron", "beam"]), (2, ["neutron", "source"]), (3, ["crystal", "growth"])],
        ["id", "words"],
    )
    emb = word2vec_embeddings(sents, size=4)
    assert "w2v" in emb.columns and emb.count() == 3


def test_fpgrowth_finds_frequent_pair(spark):
    from puma_matcher_spark.operators.instrument_ml import fpgrowth_itemsets

    baskets = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a", "b"]), (3, ["a", "c"]), (4, ["a", "b", "c"])],
        ["id", "items"],
    )
    freq = {tuple(sorted(r["items"])): r["freq"] for r in fpgrowth_itemsets(baskets, min_support=0.5).collect()}
    assert freq[("a",)] == 4
    assert freq[("a", "b")] == 3


def test_csv_source_roundtrip(spark):
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "instruments.csv")
        with open(p, "w") as f:
            f.write("instrument_id,code\n1,IN5\n2,D22\n")
        from puma_matcher_spark.sources.files import read_csv_table

        df = read_csv_table(spark, p)
        got = {(r["instrument_id"], r["code"]) for r in df.collect()}
        assert got == {(1, "IN5"), (2, "D22")}


def test_ner_tags_dispatch_by_backend(spark):
    """Round 6: the default backend is the vendored statistical NER
    (CoreNLP-style classes — Grenoble → LOCATION, IN5 → INSTRUMENT);
    the heuristic stand-in keeps its capitalisation ENTITY tags when
    pinned."""
    from puma_matcher_spark.functions.nlp import _ner_batch, ner_tags

    words = ["The", "sample", "from", "Grenoble", "used", "IN5"]
    df = spark.createDataFrame([(1, words)], ["id", "words"])
    r = df.select(ner_tags(F.col("words")).alias("t")).first()["t"]
    assert r == ["O", "O", "O", "LOCATION", "O", "INSTRUMENT"]
    assert _ner_batch(words, backend="heuristic") == [
        "O", "O", "O", "ENTITY", "O", "ENTITY",
    ]


def test_instrument_feature_table(spark):
    from puma_matcher_spark.operators.instrument_ml import instrument_feature_table

    mentions = spark.createDataFrame(
        [(1, 100, "in5", 2), (1, 100, "in5", 9), (1, 100, "thermal", 5)],
        ["document_version_id", "instrument_id", "word", "pos"],
    )
    r = instrument_feature_table(mentions).first()
    assert r["mention_count"] == 3
    assert r["distinct_aliases"] == 2
    assert (r["first_pos"], r["last_pos"], r["span"]) == (2, 9, 7)


@pytest.mark.slow
def test_pic_separates_disjoint_cliques(spark):
    """M9 PIC: two disjoint high-weight cliques must land in different
    clusters (PICExample.scala graph shape)."""
    from puma_matcher_spark.operators.instrument_ml import pic_clusters

    edges = []
    for clique in ([1, 2, 3, 4], [10, 11, 12, 13]):
        for i, a in enumerate(clique):
            for b in clique[i + 1 :]:
                edges.append((a, b, 1.0))
    # one weak bridge: PIC's pseudo-eigenvector is degenerate on fully
    # disconnected graphs (the published algorithm assumes connectivity)
    edges.append((4, 10, 0.01))
    pairs = spark.createDataFrame(
        edges, ["document_version1_id", "document_version2_id", "score"]
    )
    out = pic_clusters(pairs, k=2, max_iter=30)
    by_id = {r["id"]: r["cluster"] for r in out.collect()}
    left = {by_id[i] for i in (1, 2, 3, 4)}
    right = {by_id[i] for i in (10, 11, 12, 13)}
    assert len(left) == 1 and len(right) == 1
    assert left != right
    # repeat-run stability (the rows-only gate needs deterministic output)
    again = {
        r["id"]: r["cluster"]
        for r in pic_clusters(pairs, k=2, max_iter=30).collect()
    }
    assert again == by_id
