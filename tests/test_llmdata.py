import pytest
"""Unit tests for the LLM-data-pipeline operators."""

from pyspark.sql import functions as F

from puma_matcher_spark.llmdata import dedup as dd
from puma_matcher_spark.llmdata import similarity as sim
from puma_matcher_spark.llmdata import textstats as ts


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates_groups_normalised_text(spark):
    docs = _docs(
        spark,
        [
            (1, "the quick brown fox"),
            (2, "The  quick Brown fox"),  # same after lower + ws-normalise
            (3, "something else"),
        ],
    )
    out = {r["keep_id"]: r["doc_count"] for r in dd.exact_duplicates(docs).collect()}
    assert out == {1: 2, 3: 1}


def test_shingles_are_distinct_ngrams(spark):
    docs = _docs(spark, [(1, "a b c d")])
    got = {r["shingle"] for r in dd.shingles(docs, 3).collect()}
    assert got == {"a b c", "b c d"}


def test_minhash_identical_docs_share_all_bands(spark):
    docs = _docs(
        spark,
        [
            (1, "w1 w2 w3 w4 w5 w6 w7 w8"),
            (2, "w1 w2 w3 w4 w5 w6 w7 w8"),
            (3, "x1 x2 x3 x4 x5 x6 x7 x8"),
        ],
    )
    pairs = {
        (r["doc1_id"], r["doc2_id"])
        for r in dd.minhash_dedup_pairs(docs).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_lsh_bucket_guard_drops_boilerplate_cluster(spark):
    """A bucket above max_bucket_size must produce no candidate pairs
    (boilerplate guard); small buckets are unaffected."""
    boiler = [(i, "same old cookie banner text repeated") for i in range(6)]
    pair = [(100, "y1 y2 y3 y4 y5 y6"), (101, "y1 y2 y3 y4 y5 y6")]
    docs = _docs(spark, boiler + pair)
    guarded = {
        (r["doc1_id"], r["doc2_id"])
        for r in dd.minhash_dedup_pairs(docs, max_bucket_size=5).collect()
    }
    assert guarded == {(100, 101)}  # 6-doc cluster dropped, pair kept
    unguarded = dd.minhash_dedup_pairs(docs, max_bucket_size=None).count()
    assert unguarded == 15 + 1  # 6C2 boilerplate pairs + the real pair


def test_ngram_jaccard_exact_value(spark):
    # doc1: shingles {a b c, b c d}; doc2: {a b c}; J = 1/2
    docs = _docs(spark, [(1, "a b c d"), (2, "a b c")])
    rows = dd.ngram_jaccard_pairs(docs, 3).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc1_id"], r["doc2_id"], r["common"]) == (1, 2, 1)
    assert abs(r["jaccard"] - 0.5) < 1e-9


def test_simhash_near_dups_have_close_hashes(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = _docs(
        spark,
        [(1, base), (2, base + " lambda"), (3, "totally different words here now")],
    )
    got = {r["doc_id"]: r["simhash"] for r in dd.simhash64(docs).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(got[1], got[2]) < hamming(got[1], got[3])


def test_token_stats_and_lang_id(spark):
    docs = spark.createDataFrame(
        [(1, "the cat is on the mat"), (2, "zzz qqq xxx")], ["doc_id", "text"]
    )
    stats = {r["doc_id"]: r for r in ts.with_token_stats(docs).collect()}
    assert stats[1]["token_count"] == 6
    assert stats[1]["stopword_ratio"] > 0.3
    langs = {r["doc_id"]: r["predicted_lang"] for r in ts.with_lang_id(docs).collect()}
    assert langs == {1: "en", 2: "unk"}


def test_brute_force_topk_finds_identical_vector(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = sim.brute_force_topk(emb, emb.where(F.col("vec_id") == 1), k=2)
    got = [(r["neighbor_id"], r["cosine_sim"]) for r in out.collect()]
    assert got[0] == (2, 1.0)
    assert len(got) == 2


def test_lsh_bucketed_topk_recalls_identical_vector(spark):
    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(20)]
    rows.append((100, rows[5][1]))  # exact dup of vec 5
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = sim.lsh_bucketed_topk(emb, k=3, dim=3, n_planes=4)
    top = {
        r["query_id"]: r["neighbor_id"]
        for r in out.collect()
        if r["rank"] == 1
    }
    assert top.get(100) == 5  # identical vectors always share every bucket


def test_lsh_multi_table_recall_is_monotone(spark):
    """n_tables is the recall knob: a pair is a candidate if it collides
    in ANY table, so the 2-table candidate set contains the 1-table set
    and recall@k vs brute force can only improve.  Also pins the
    cross-table dedup: no (query, neighbor) pair may appear twice."""
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk(emb, emb, k=5).collect()
    }

    def recall(n_tables):
        out = sim.lsh_bucketed_topk(
            emb, k=5, dim=16, n_planes=4, n_tables=n_tables
        )
        rows_ = [(r["query_id"], r["neighbor_id"]) for r in out.collect()]
        assert len(rows_) == len(set(rows_)), "duplicate pair after dedup"
        return len(brute & set(rows_)) / len(brute)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1, (r1, r2)
    assert r2 > 0.35  # two 4-plane tables must find a real fraction


def test_ivf_topk_recall_vs_brute_force(spark):
    import random

    rng = random.Random(3)
    # three well-separated clusters, 60 vectors each
    rows = []
    vid = 0
    for center in ((5.0, 0.0), (0.0, 5.0), (-5.0, -5.0)):
        for _ in range(60):
            rows.append(
                (vid, [rng.gauss(center[0], 0.4), rng.gauss(center[1], 0.4), 1.0])
            )
            vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.where(F.col("vec_id") % 30 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.ivf_topk(emb, q, k=5, n_cells=3, n_probe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall


def test_ivf_topk_self_search_distributed(spark):
    """query = corpus (self-search) must work without a driver collect —
    the probe assignment is computed in-plan from literal centers."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0, 1), rng.gauss(0, 1), rng.gauss(0, 1)])
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = sim.ivf_topk(emb, emb, k=3, n_cells=4, n_probe=2)
    from puma_matcher_spark.plans import inspect as pi

    # plan sanity: no cartesian (probe join is an equi-join on cell)
    assert not pi.has_cartesian(out)
    got = out.collect()
    assert len({r["query_id"] for r in got}) == 120  # every query served
    assert all(r["query_id"] != r["neighbor_id"] for r in got)


def test_curation_pipeline_end_to_end(spark):
    from puma_matcher_spark.llmdata.pipeline import curate_documents

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = spark.createDataFrame(
        [
            (1, base),                      # keeper
            (2, base),                      # exact dup of 1 → dropped
            (3, base + "lambda"),           # near-dup of 1 → dropped
            (4, "tiny"),                    # too short → dropped
            (5, "completely different words forming a unique document here"),
        ],
        ["doc_id", "text"],
    )
    result = curate_documents(docs, min_tokens=5, jaccard_threshold=0.5)
    kept = {r["doc_id"] for r in result.clean.collect()}
    assert kept == {1, 5}
    assert result.stage_counts["input"] == 5
    assert result.stage_counts["after_exact_dedup"] == 4
    assert result.stage_counts["after_near_dedup"] == 3
    assert result.stage_counts["after_quality"] == 2


def test_curation_of_an_empty_corpus_counts_zeros(spark):
    """Every stage of an empty corpus is empty at run time; the counts
    observed at the top of each stage job still come back, as zeros."""
    from puma_matcher_spark.llmdata.pipeline import curate_documents

    docs = spark.createDataFrame(
        [], "doc_id LONG, text STRING, lang STRING, source STRING"
    )
    result = curate_documents(docs)
    assert result.stage_counts == {
        "input": 0,
        "after_exact_dedup": 0,
        "after_near_dedup": 0,
        "after_quality": 0,
    }
    assert result.clean.collect() == []


@pytest.mark.slow
def test_curation_scoped_bucket_cache_is_released(spark):
    """r12 (r11 verdict #7): repeated curation runs must not accumulate
    CacheManager entries — the monotonic-growth failure the r11 ring
    opt-out fixed must stay fixed whatever the bucket-persist strategy
    is (the run-scoped persist was measured slower at sf0.1 and
    reverted; this pin outlives that decision)."""
    from puma_matcher_spark.llmdata.pipeline import curate_documents

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base + "lambda"), (4, "tiny")],
        ["doc_id", "text"],
    )
    for _ in range(3):
        result = curate_documents(docs, min_tokens=5, jaccard_threshold=0.5)
        assert {r["doc_id"] for r in result.clean.collect()} == {1}
        assert cm.isEmpty(), "curation run leaked a CacheManager entry"


def test_sequence_packing_layout(spark):
    """Packing must be a gapless concatenate-then-chunk layout per
    source: offsets advance by token counts, windows chain contiguously,
    and spans cover exactly the doc's token range."""
    from puma_matcher_spark.llmdata.packing import sequence_packing

    docs = spark.createDataFrame(
        [
            (1, "a b c", "s1"),            # 3 tokens → pack 0 offset 0
            (2, "d e f g", "s1"),          # 4 tokens → pack 0 offset 3
            (3, " ".join(["w"] * 10), "s1"),  # crosses the ctx=8 boundary
            (4, "x y", "s2"),              # independent stream
        ],
        ["doc_id", "text", "source"],
    )
    rows = {
        r["doc_id"]: r for r in sequence_packing(docs, ctx_len=8).collect()
    }
    assert (rows[1]["pack_id"], rows[1]["pack_offset"]) == (0, 0)
    assert (rows[2]["pack_id"], rows[2]["pack_offset"]) == (0, 3)
    # doc 3 starts at absolute token 7 → pack 0 offset 7, ends at 17 →
    # spans packs 0..2
    assert (rows[3]["pack_id"], rows[3]["pack_offset"]) == (0, 7)
    assert rows[3]["n_packs_spanned"] == 3
    assert (rows[4]["pack_id"], rows[4]["pack_offset"]) == (0, 0)


def test_sequence_packing_salted_streams(spark):
    """The salted scale path must still be a gapless layout per
    (source, salt) stream, conserve every document and token, and stay a
    pure function of the input (same doc → same stream every run)."""
    from puma_matcher_spark.llmdata.packing import sequence_packing

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (3 + i % 5)), f"s{i % 2}") for i in range(40)],
        ["doc_id", "text", "source"],
    )
    flat = sequence_packing(docs, ctx_len=16)
    salted = sequence_packing(docs, ctx_len=16, n_salts=4)
    rows = salted.collect()
    assert len(rows) == 40
    assert {r["stream_salt"] for r in rows} == {0, 1, 2, 3}
    assert all(r["doc_id"] % 4 == r["stream_salt"] for r in rows)
    # token totals are conserved across layouts
    assert sum(r["n_tokens"] for r in rows) == sum(
        r["n_tokens"] for r in flat.collect()
    )
    # per-stream layout is gapless: offsets chain by token count mod ctx
    by_stream = {}
    for r in sorted(rows, key=lambda r: (r["source"], r["stream_salt"], r["doc_id"])):
        key = (r["source"], r["stream_salt"])
        pos = by_stream.get(key, 0)
        assert r["pack_id"] == pos // 16
        assert r["pack_offset"] == pos % 16
        by_stream[key] = pos + r["n_tokens"]


def test_temperature_mix_invariants(spark):
    """alpha=0.5 upsamples small sources: mix weights sum to 1, rates are
    in (0, 1], the smallest source gets the largest rate, and the md5
    keep-gate is consistent with the emitted rate."""
    from puma_matcher_spark.llmdata.sampling import temperature_mix

    docs = spark.createDataFrame(
        [(i, "tok " * (50 if i % 10 else 5), "big" if i % 10 else "small")
         for i in range(200)],
        ["doc_id", "text", "source"],
    ).select("doc_id", F.rtrim("text").alias("text"), "source")
    out = {r["source"]: r for r in temperature_mix(docs).collect()}
    assert abs(sum(r["mix_weight"] for r in out.values()) - 1.0) < 1e-3
    assert all(0 < r["sample_rate"] <= 1.0 for r in out.values())
    # 'small' has far fewer tokens → temperature upsampling caps at 1,
    # while the dominant source is down-sampled below 1
    assert out["small"]["sample_rate"] == 1.0
    assert out["big"]["sample_rate"] < 1.0
    assert out["small"]["n_kept"] == out["small"]["n_docs"]
    assert 0 < out["big"]["n_kept"] < out["big"]["n_docs"]


def test_char_entropy_known_values(spark):
    from puma_matcher_spark.llmdata.textstats import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert rows[1]["entropy_bits"] == 0.0
    assert rows[2]["entropy_bits"] == 1.0
    assert rows[3]["entropy_bits"] == 2.0
    assert rows[3]["distinct_chars"] == 4
    assert rows[1]["n_chars"] == 4


def test_jaccard_for_pairs_matches_full_join_on_candidates(spark):
    """The pair-scoped exact verifier must agree with the full shingle
    self-join formulation restricted to the same candidate set — i.e.
    scoping the work to LSH candidates changes cost, never results."""
    from puma_matcher_spark.llmdata import dedup as dd

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    docs = spark.createDataFrame(
        [
            (1, base * 3),
            (2, base * 3 + "lambda"),
            (3, base + "mu nu xi omicron pi rho sigma tau"),
            (4, "completely different words forming a unique document here"),
            (5, base * 2 + "unrelated suffix tokens appended here now"),
        ],
        ["doc_id", "text"],
    )
    cand = dd.minhash_dedup_pairs(docs)
    scoped = {
        (r["doc1_id"], r["doc2_id"], r["common"], r["jaccard"])
        for r in dd.jaccard_for_pairs(docs, cand).collect()
    }
    full = {
        (r["doc1_id"], r["doc2_id"], r["common"], r["jaccard"])
        for r in dd.ngram_jaccard_pairs(docs)
        .join(cand, ["doc1_id", "doc2_id"], "left_semi")
        .collect()
    }
    assert scoped == full
    assert scoped  # non-trivial: the fixture must produce candidates


def test_deterministic_shuffle_total_order_and_stability(spark):
    """The distributed rank must be a permutation of 0..n-1, identical
    across input repartitionings, and equal to the naive global ordering
    by (hash, key)."""
    from puma_matcher_spark.llmdata.dedup import portable_hash60
    from puma_matcher_spark.llmdata.sampling import deterministic_shuffle

    docs = spark.range(500).select(F.col("id").alias("doc_id"))
    a = {(r["doc_id"], r["shuffle_rank"]) for r in deterministic_shuffle(docs).collect()}
    b = {
        (r["doc_id"], r["shuffle_rank"])
        for r in deterministic_shuffle(docs.repartition(13)).collect()
    }
    assert a == b
    ranks = sorted(r for _, r in a)
    assert ranks == list(range(500))
    naive = sorted(
        (
            (r["h"], r["doc_id"])
            for r in docs.select(
                "doc_id", portable_hash60(F.col("doc_id").cast("string")).alias("h")
            ).collect()
        )
    )
    expected = {doc: i for i, (_, doc) in enumerate(naive)}
    assert dict(a) == expected


def test_hash_split_deterministic_and_partition_invariant(spark):
    """Split assignment must be a pure function of the key — identical
    after any repartitioning (seeded sample() is NOT; that's the point)."""
    from puma_matcher_spark.llmdata.sampling import with_split

    docs = spark.range(500).select(F.col("id").alias("doc_id"))
    a = {(r["doc_id"], r["split"]) for r in with_split(docs).collect()}
    b = {
        (r["doc_id"], r["split"])
        for r in with_split(docs.repartition(13)).collect()
    }
    assert a == b
    splits = {}
    for _, s in a:
        splits[s] = splits.get(s, 0) + 1
    # ~80/10/10 with hash noise
    assert 0.7 <= splits["train"] / 500 <= 0.9
    assert splits["val"] > 0 and splits["test"] > 0


def test_bpe_token_count_shapes(spark):
    from puma_matcher_spark.llmdata.textstats import with_bpe_token_count

    docs = spark.createDataFrame(
        [(1, "it's 2024, tokenizer-ready text!")], ["doc_id", "text"]
    )
    r = with_bpe_token_count(docs).first()
    # pieces: it ' s 2024 , tokenizer - ready text !  → 10
    assert r["bpe_token_count"] == 10
    assert r["word_count"] == 4


def test_pii_scrub_and_counts(spark):
    from puma_matcher_spark.llmdata.pii import scrub_pii, with_pii_counts

    docs = spark.createDataFrame(
        [(1, "mail alice@example.com or call +1-555-123-4567 from 10.0.0.1")],
        ["doc_id", "text"],
    )
    counts = with_pii_counts(docs).first()
    assert (counts["n_email"], counts["n_phone"], counts["n_ip"]) == (1, 1, 1)
    scrubbed = scrub_pii(docs).first()["scrubbed_text"]
    assert "<EMAIL>" in scrubbed and "<PHONE>" in scrubbed and "<IP>" in scrubbed
    assert "alice@example.com" not in scrubbed


def test_pii_card_detection_with_luhn(spark):
    """Card-shaped digit runs are counted and scrubbed; only
    checksum-valid ones count as n_card_valid (they carry the real leak
    risk), and card runs are redacted BEFORE the shorter phone rule can
    eat a prefix of them."""
    from puma_matcher_spark.llmdata.pii import scrub_pii, with_pii_counts

    docs = spark.createDataFrame(
        [
            (1, "pay with 4532 0151 1283 0366 thanks"),   # Luhn-valid
            (2, "fake number 4532 0151 1283 0367 here"),  # checksum fails
            (3, "call +1-555-123-4567 maybe"),            # phone, not card
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in with_pii_counts(docs).collect()}
    assert (rows[1]["n_card"], rows[1]["n_card_valid"]) == (1, 1)
    assert (rows[2]["n_card"], rows[2]["n_card_valid"]) == (1, 0)
    assert rows[3]["n_card"] == 0 and rows[3]["n_phone"] == 1
    scrubbed = {r["doc_id"]: r["scrubbed_text"] for r in scrub_pii(docs).collect()}
    assert "<CARD>" in scrubbed[1] and "0366" not in scrubbed[1]
    assert "<CARD>" in scrubbed[2]
    assert "<PHONE>" in scrubbed[3] and "<CARD>" not in scrubbed[3]


def test_contamination_check_counts_shared_ngrams(spark):
    corpus = _docs(spark, [(2, "one two three four five six unique tail")])
    bench = _docs(
        spark,
        [(1, "one two three four five six other"), (3, "nothing in common here at all")],
    )
    rows = dd.contamination_check(corpus, bench, shingle_n=5).collect()
    assert len(rows) == 1
    r = rows[0]
    # shared 5-grams: 'one..five' and 'two..six'
    assert (r["corpus_id"], r["benchmark_id"], r["shared_ngrams"]) == (2, 1, 2)


def test_quality_flags_metrics_and_verdict(spark):
    docs = _docs(
        spark,
        [
            # 12 varied tokens, no repeated bigram, mean len in band → keep
            (1, "alpha beta gamma delta epsi zeta etaa theta iota kappa lamda muon"),
            # heavy bigram repetition → drop
            (2, "spam ham spam ham spam ham spam ham spam ham spam ham"),
            # too few tokens → drop
            (3, "too short"),
        ],
    )
    out = {r["doc_id"]: r for r in ts.with_quality_flags(docs).collect()}
    assert out[1]["verdict"] == "keep"
    assert out[1]["dup_bigram_frac"] == 0.0
    assert out[2]["verdict"] == "drop"
    assert out[2]["dup_bigram_frac"] > 0.5
    assert out[3]["verdict"] == "drop"
    assert out[3]["token_count"] == 2
    # single-token doc: bigram list empty, no division error
    single = ts.with_quality_flags(_docs(spark, [(9, "word")])).first()
    assert single["dup_bigram_frac"] == 0.0


def test_source_mix_shares_sum_to_one(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),
            (2, "e f", "s1"),
            (3, "g h", "s2"),
        ],
        ["doc_id", "text", "source"],
    )
    rows = {r["source"]: r for r in ts.source_mix(docs).collect()}
    assert rows["s1"]["n_docs"] == 2 and rows["s1"]["n_tokens"] == 6
    assert rows["s2"]["n_tokens"] == 2
    assert rows["s1"]["token_share"] == 0.75 and rows["s2"]["token_share"] == 0.25


def test_repetition_metrics_known_values(spark):
    docs = _docs(
        spark,
        [
            # bigrams: 'a b','b a','a b','b c' -> top 'a b' cnt 2, chars 2*3=6
            # of total 3+3+3+3=12 -> 0.5
            # trigrams: 'a b a','b a b','a b c' all unique -> dup frac 0.0
            (1, "a b a b c"),
            # 'x y x y x y': bigrams 'x y'(3),'y x'(2) -> top 3*3=9 of 15 -> 0.6
            # trigrams 'x y x'(2),'y x y'(2) -> all duplicated -> 1.0
            (2, "x y x y x y"),
            # one token: no grams at all
            (3, "solo"),
        ],
    )
    out = {r["doc_id"]: r for r in ts.repetition_metrics(docs).collect()}
    assert out[1]["top_bigram"] == "a b"
    assert out[1]["top_bigram_char_frac"] == 0.5
    assert out[1]["dup_trigram_char_frac"] == 0.0
    assert out[2]["top_bigram"] == "x y"
    assert out[2]["top_bigram_char_frac"] == 0.6
    assert out[2]["dup_trigram_char_frac"] == 1.0
    assert out[3]["top_bigram"] is None
    assert out[3]["top_bigram_char_frac"] == 0.0


def test_repetition_metrics_tie_breaks_lexicographically(spark):
    # 'b a' and 'a b' both occur once -> top must be the smaller gram 'a b'
    out = ts.repetition_metrics(_docs(spark, [(1, "b a b")])).first()
    assert out["top_bigram"] == "a b"


def test_vocab_topk_order_and_rank(spark):
    docs = _docs(
        spark,
        [
            (1, "a b a b"),   # 'a b' x2, 'b a' x1
            (2, "a b c"),     # 'a b' x1, 'b c' x1
        ],
    )
    rows = ts.vocab_topk(docs, k=2, n=2).collect()
    assert [(r["vocab_rank"], r["gram"], r["n_occurrences"]) for r in rows] == [
        (1, "a b", 3),
        (2, "b a", 1),  # ties with 'b c' broken lexicographically
    ]


def test_decontaminate_drops_only_overlapping_docs(spark):
    corpus = _docs(
        spark,
        [
            (2, "one two three four five clean tail"),
            (4, "totally different words here again ok"),
        ],
    )
    bench = _docs(spark, [(1, "one two three four five other thing")])
    kept = {r["doc_id"] for r in dd.decontaminate(corpus, bench, shingle_n=5).collect()}
    assert kept == {4}


def test_chunk_documents_layout(spark):
    from puma_matcher_spark.llmdata.packing import chunk_documents

    docs = _docs(spark, [(1, " ".join(f"t{i}" for i in range(10)))])
    rows = sorted(
        chunk_documents(docs, chunk_len=4, overlap=1).collect(),
        key=lambda r: r["chunk_id"],
    )
    # stride 3: starts 1,4,7,10 -> ceil((10-4)/3)=2 -> chunks at k=0,1,2
    assert [(r["chunk_id"], r["n_tokens"], r["chunk_text"]) for r in rows] == [
        (0, 4, "t0 t1 t2 t3"),
        (1, 4, "t3 t4 t5 t6"),
        (2, 4, "t6 t7 t8 t9"),
    ]
    # short doc -> one (short) chunk
    one = chunk_documents(_docs(spark, [(2, "a b")]), chunk_len=4, overlap=1).collect()
    assert len(one) == 1 and one[0]["chunk_text"] == "a b"


def test_quality_stratified_sample_rank_and_ties(spark):
    from puma_matcher_spark.llmdata.sampling import quality_stratified_sample

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),       # ratio 1.0
            (2, "a a a a", "s1"),       # ratio 0.25
            (3, "a b a b", "s1"),       # ratio 0.5
            (4, "x y", "s2"),           # ratio 1.0
        ],
        ["doc_id", "text", "source"],
    )
    rows = quality_stratified_sample(docs, per_source=2).collect()
    got = {(r["source"], r["sample_rank"]): r["doc_id"] for r in rows}
    assert got == {("s1", 1): 1, ("s1", 2): 3, ("s2", 1): 4}


def test_incremental_ingest_drops_known_and_batch_dups(spark):
    corpus = _docs(spark, [(2, "known doc text")])
    new = _docs(
        spark,
        [
            (1, "Known  DOC text"),   # same normalised content as corpus -> drop
            (3, "fresh content one"),
            (5, "fresh content one"), # in-batch dup -> keep min id 3
            (7, "fresh content two"),
        ],
    )
    kept = {r["doc_id"] for r in dd.incremental_ingest(new, corpus).collect()}
    assert kept == {3, 7}


def test_duplicate_spans_merges_overlaps(spark):
    docs = _docs(
        spark,
        [
            # docs 1 and 2 share the 3-gram runs 'a b c' and 'b c d'
            # (overlapping -> one merged span per doc)
            (1, "a b c d x y z"),
            (2, "q a b c d r s"),
            (3, "nothing shared here at all"),
        ],
    )
    rows = {
        (r["doc_id"]): (r["span_start"], r["span_end"], r["span_len"])
        for r in dd.duplicate_spans(docs, shingle_n=3).collect()
    }
    # doc1: 'a b c' at 0, 'b c d' at 1 -> merged span [0, 3]
    assert rows[1] == (0, 3, 4)
    # doc2: same grams at 1 and 2 -> merged span [1, 4]
    assert rows[2] == (1, 4, 4)
    assert 3 not in rows


def test_duplicate_spans_within_single_doc(spark):
    # the repeated 3-gram 'x y z' inside ONE doc also counts (positions 0 and 4)
    docs = _docs(spark, [(1, "x y z q x y z")])
    spans = sorted(
        (r["span_start"], r["span_end"])
        for r in dd.duplicate_spans(docs, shingle_n=3).collect()
    )
    assert spans == [(0, 2), (4, 6)]


def test_cut_spans_removes_marked_tokens(spark):
    docs = _docs(spark, [(1, "a b c d e"), (2, "clean doc here")])
    spans = spark.createDataFrame(
        [(1, 1, 2)], ["doc_id", "span_start", "span_end"]
    )
    rows = {r["doc_id"]: r for r in dd.cut_spans(docs, spans).collect()}
    assert rows[1]["clean_text"] == "a d e"
    assert rows[1]["n_tokens_removed"] == 2
    assert rows[2]["clean_text"] == "clean doc here"
    assert rows[2]["n_tokens_removed"] == 0


def test_label_centroids_elementwise_mean(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 2.0], 0), (2, [3.0, 6.0], 0), (3, [5.0, 5.0], 1)],
        ["vec_id", "embedding", "label"],
    )
    rows = {r["label"]: r for r in sim.label_centroids(emb).collect()}
    assert rows[0]["centroid"] == [2.0, 4.0] and rows[0]["n_vectors"] == 2
    assert rows[1]["centroid"] == [5.0, 5.0] and rows[1]["n_vectors"] == 1


def test_nearest_centroid_confusion_separable(spark):
    # two tight clusters -> perfect diagonal confusion
    emb = spark.createDataFrame(
        [(1, [0.0, 0.1], 0), (2, [0.1, 0.0], 0),
         (3, [9.0, 9.1], 1), (4, [9.1, 9.0], 1)],
        ["vec_id", "embedding", "label"],
    )
    got = {
        (r["true_label"], r["assigned_label"]): r["n_vectors"]
        for r in sim.nearest_centroid_confusion(emb).collect()
    }
    assert got == {(0, 0): 2, (1, 1): 2}


def test_bpe_top_merges_weighted_by_word_frequency(spark):
    docs = _docs(spark, [(1, "aab aab ab"), (2, "aab")])
    rows = ts.bpe_top_merges(docs, k=3).collect()
    # 'aab' x3 contributes pairs aa,ab each x3; 'ab' x1 contributes ab x1
    got = [(r["merge_rank"], r["pair"], r["pair_count"]) for r in rows]
    assert got == [(1, "ab", 4), (2, "aa", 3)]


def test_chunk_documents_empty_doc_yields_no_rows(spark):
    from puma_matcher_spark.llmdata.packing import chunk_documents

    docs = _docs(spark, [(1, ""), (2, "   "), (3, "one two")])
    rows = chunk_documents(docs, chunk_len=4, overlap=1).collect()
    assert {r["doc_id"] for r in rows} == {3}


def test_ngram_novelty_first_doc_owns_shared_shingles(spark):
    # doc 1 introduces "a b c" / "b c d"; doc 2 repeats "a b c" and adds
    # "b c e"; doc 3 is too short for any 3-gram
    docs = _docs(spark, [(1, "a b c d"), (2, "a b c e"), (3, "x y")])
    rows = {r["doc_id"]: r for r in ts.ngram_novelty(docs, n=3).collect()}
    assert rows[1]["n_shingles"] == 2 and rows[1]["n_novel"] == 2
    assert rows[1]["novel_frac"] == 1.0
    assert rows[2]["n_shingles"] == 2 and rows[2]["n_novel"] == 1
    assert rows[2]["novel_frac"] == 0.5
    assert rows[3]["n_shingles"] == 0 and rows[3]["novel_frac"] is None


def test_ngram_novelty_counts_repeated_shingles_once(spark):
    # the same 3-gram repeated within one doc counts once (distinct set)
    docs = _docs(spark, [(7, "a b c a b c a b c")])
    row = ts.ngram_novelty(docs, n=3).collect()[0]
    # distinct shingles: "a b c", "b c a", "c a b" -> all novel
    assert row["n_shingles"] == 3 and row["n_novel"] == 3


@pytest.mark.slow
def test_semantic_dedup_groups_transitive_chain(spark):
    # 1~2 and 2~3 but 1!~3: one transitive group {1,2,3}; 4 isolated
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.45]),    # cos(1,2) ~ .895, cos(2,3) ~ .45/1.006
            (3, [0.0, 1.0]),     # cos(1,3) = 0
            (4, [-1.0, -1.0]),   # negative cosine to all others
        ],
        ["vec_id", "embedding"],
    )
    rows = sim.semantic_dedup_groups(emb, threshold=0.4).collect()
    got = {r["vec_id"]: (r["group_id"], r["group_size"], r["is_representative"]) for r in rows}
    assert got == {1: (1, 3, True), 2: (1, 3, False), 3: (1, 3, False)}


def test_semantic_dedup_groups_accepts_external_pairs(spark):
    # the pairs= hook (LSH/IVF candidates at scale) bypasses the
    # all-pairs edge stage entirely
    emb = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(1, 5)], ["vec_id", "embedding"]
    )
    pairs = spark.createDataFrame([(1, 2), (3, 4)], ["id1", "id2"])
    rows = sim.semantic_dedup_groups(emb, pairs=pairs).collect()
    got = {r["vec_id"]: r["group_id"] for r in rows}
    assert got == {1: 1, 2: 1, 3: 3, 4: 3}


@pytest.mark.slow
def test_semantic_dedup_lsh_pairs_are_a_refinement(spark):
    # the 100 TB path: sign-LSH bucket candidates feed semantic_dedup's
    # pairs= hook.  LSH can only MISS edges (same-bucket constraint), so
    # every LSH-derived group must sit inside one exact-threshold group.
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 8))
    rows = []
    vid = 0
    for b in base:
        for _ in range(3):  # 3 near-copies per cluster
            vid += 1
            rows.append((vid, [float(x) for x in b + rng.normal(scale=0.01, size=8)]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    exact = {r["vec_id"]: r["group_id"]
             for r in sim.semantic_dedup_groups(emb, threshold=0.9).collect()}

    buckets = sim.sign_lsh_keys(emb, dim=8, n_planes=4)
    b1 = buckets.select(F.col("vec_id").alias("id1"), F.col("bucket").alias("b1"))
    b2 = buckets.select(F.col("vec_id").alias("id2"), F.col("bucket").alias("b2"))
    cand = (b1.join(b2, (F.col("b1") == F.col("b2")) & (F.col("id1") < F.col("id2")))
            .select("id1", "id2"))
    # verify candidates at the same cosine threshold (LSH = candidate gen,
    # exact check stays)
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    verified = (cand
        .join(v.select(F.col("vec_id").alias("id1"), F.col("e").alias("e1")), "id1")
        .join(v.select(F.col("vec_id").alias("id2"), F.col("e").alias("e2")), "id2")
        .where(sim.cosine(F.col("e1"), F.col("e2")) >= 0.9)
        .select("id1", "id2"))
    lsh = {r["vec_id"]: r["group_id"]
           for r in sim.semantic_dedup_groups(emb, pairs=verified).collect()}

    # refinement: two vectors in the same LSH group are in the same exact group
    by_group = {}
    for vec, g in lsh.items():
        by_group.setdefault(g, []).append(vec)
    for members in by_group.values():
        assert len({exact[m] for m in members}) == 1, members


def test_vocab_coverage_curve(spark):
    # corpus: 'a' x4, 'b' x2, 'c' x1, 'd' x1  (total 8 occurrences)
    docs = _docs(spark, [(1, "a a b c"), (2, "a a b d")])
    got = {r["k"]: (r["vocab_size"], r["covered_share"])
           for r in ts.vocab_coverage(docs, ks=(1, 2, 10)).collect()}
    assert got == {1: (1, 0.5), 2: (2, 0.75), 10: (4, 1.0)}


def test_vocab_drift_identical_halves_is_zero(spark):
    # even and odd halves have identical unigram distributions -> KL = 0
    docs = _docs(spark, [(0, "x y"), (1, "x y"), (2, "y z"), (3, "y z")])
    row = ts.vocab_drift(docs).collect()[0]
    assert row["n_vocab"] == 3
    assert row["n_even_tokens"] == 4 and row["n_odd_tokens"] == 4
    assert row["kl_even_odd"] == 0.0 and row["kl_odd_even"] == 0.0


def test_vocab_drift_detects_shift(spark):
    docs = _docs(spark, [(0, "x x x x"), (1, "z z z z")])
    row = ts.vocab_drift(docs).collect()[0]
    assert row["kl_even_odd"] > 0.5 and row["kl_odd_even"] > 0.5


def test_ngram_novelty_invariants_on_generated_corpus(spark):
    """Every distinct corpus shingle is novel in EXACTLY one document
    (its first), so sum(n_novel) == |distinct shingles|; novelty is
    bounded by the doc's shingle count; the earliest doc is fully novel."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]
    docs = _docs(
        spark,
        [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 20))))
         for i in range(30)],
    )
    rows = ts.ngram_novelty(docs, n=3).collect()
    assert len(rows) == 30
    assert all(0 <= r["n_novel"] <= r["n_shingles"] for r in rows)
    total_novel = sum(r["n_novel"] for r in rows)
    # recompute distinct shingles directly from the same tokenizer
    toks = docs.select(ts.tokens(F.col("text")).alias("__tk"))
    distinct_shingles = (
        toks.select(F.explode(ts.ngram_array("__tk", 3)).alias("s"))
        .distinct()
        .count()
    )
    assert total_novel == distinct_shingles
    first_with = min(r["doc_id"] for r in rows if r["n_shingles"] > 0)
    first_row = next(r for r in rows if r["doc_id"] == first_with)
    assert first_row["novel_frac"] == 1.0


@pytest.mark.slow
def test_semantic_dedup_group_invariants(spark):
    """group_id is the min member id, exactly one representative per
    group, and group_size matches the actual member count."""
    import random

    rng = random.Random(23)
    rows = []
    for i in range(40):
        base = [rng.gauss(0, 1) for _ in range(4)]
        rows.append((i + 1, [float(x) for x in base]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = sim.semantic_dedup_groups(emb, threshold=0.8).collect()
    groups = {}
    for r in out:
        groups.setdefault(r["group_id"], []).append(r)
    for gid, members in groups.items():
        assert gid == min(m["vec_id"] for m in members)
        assert sum(m["is_representative"] for m in members) == 1
        assert all(m["group_size"] == len(members) for m in members)


def _hamming128(a: tuple[int, int], b: tuple[int, int]) -> int:
    m = (1 << 64) - 1
    return bin((a[0] ^ b[0]) & m).count("1") + bin((a[1] ^ b[1]) & m).count("1")


def test_simhash128_block_combinations_are_complete(spark):
    """Pigeonhole completeness of the 128-bit multi-table construction
    (5 blocks, C(5,2) two-block combination keys) vs brute force — the
    default production path of simhash_hamming_pairs."""
    import random

    rng = random.Random(11)
    rows = []
    for c in range(15):  # planted near-dup pairs: base + one extra token
        base = [f"t{rng.randrange(10000)}" for _ in range(100)]
        rows.append((2 * c, " ".join(base)))
        rows.append((2 * c + 1, " ".join(base + [f"x{c}"])))
    for i in range(30, 60):  # unique background docs
        rows.append((i + 30, " ".join(f"u{rng.randrange(10**6)}" for _ in range(40))))
    docs = _docs(spark, rows)
    blocked = {
        (r["doc1_id"], r["doc2_id"]): r["hamming"]
        for r in dd.simhash_hamming_pairs(docs, max_hamming=3).collect()
    }
    sh = {
        r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
        for r in dd.simhash128_mapside(docs).collect()
    }
    brute = {
        (a, b): _hamming128(sh[a], sh[b])
        for a in sh for b in sh
        if a < b and _hamming128(sh[a], sh[b]) <= 3
    }
    assert len(brute) > 0  # fixture must actually exercise the radius
    assert blocked == brute


def test_simhash128_wider_radius_stays_complete(spark):
    """max_hamming=6 reshapes the construction (8 blocks, C(8,2) keys) —
    completeness must hold at the wider radius too."""
    import random

    rng = random.Random(7)
    rows = []
    for c in range(10):  # planted near-dup pairs within the wider radius
        base = [f"t{rng.randrange(10000)}" for _ in range(60)]
        rows.append((2 * c, " ".join(base)))
        rows.append((2 * c + 1, " ".join(base + [f"x{c}"])))
    for i in range(20, 40):
        rows.append((i + 20, " ".join(f"u{rng.randrange(10**6)}" for _ in range(30))))
    docs = _docs(spark, rows)
    blocked = {
        (r["doc1_id"], r["doc2_id"]): r["hamming"]
        for r in dd.simhash_hamming_pairs(docs, max_hamming=6).collect()
    }
    sh = {
        r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
        for r in dd.simhash128_mapside(docs).collect()
    }
    brute = {
        (a, b): _hamming128(sh[a], sh[b])
        for a in sh for b in sh
        if a < b and _hamming128(sh[a], sh[b]) <= 6
    }
    assert len(brute) > 0
    assert blocked == brute


def test_simhash128_matches_python_reference(spark):
    """Bit-for-bit equality of the Arrow kernel with a from-scratch
    Python implementation of the md5-half vote arithmetic, including the
    empty-document and sign-bit (two's complement) cases."""
    import hashlib
    from collections import Counter

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "",
        3: "repeated repeated repeated token stream",
        4: "unicode tökens ålso håsh portably",
    }

    def ref(text):
        toks = [t for t in text.lower().split(" ") if t]
        if not toks:
            return (0, 0)
        tf = Counter(toks)
        out = []
        for sl in (slice(0, 16), slice(16, 32)):
            votes = [0] * 64
            for t, c in tf.items():
                h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[sl], 16)
                for b in range(64):
                    votes[b] += c if (h >> b) & 1 else -c
            word = sum(1 << b for b in range(64) if votes[b] > 0)
            out.append(word - (1 << 64) if word >= (1 << 63) else word)
        return tuple(out)

    docs = _docs(spark, list(texts.items()))
    got = {
        r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
        for r in dd.simhash128_mapside(docs).collect()
    }
    assert got == {k: ref(v) for k, v in texts.items()}


def test_simhash_band_bucket_cap_drops_degenerate_bands(spark):
    # identical docs share every band; a cap below the clique size must
    # remove those candidates entirely
    docs = _docs(spark, [(i, "same boilerplate text here") for i in range(8)])
    assert dd.simhash_hamming_pairs(docs, max_band_bucket=4).count() == 0
    assert dd.simhash_hamming_pairs(docs, max_band_bucket=None).count() == 28


def test_simhash_pairs_exclude_tokenless_docs(spark):
    """Token-less documents (empty/whitespace text) carry no content
    signal: they must NOT pair with each other via the all-zero
    fingerprint ("no content" is not "same content"), while real
    near-dup pairs in the same frame are unaffected."""
    base = " ".join(f"t{j}" for j in range(100))
    docs = _docs(
        spark,
        [
            (1, ""),
            (2, "   "),
            (3, ""),
            (4, base),
            (5, base + " extra"),
        ],
    )
    got = {
        (r["doc1_id"], r["doc2_id"])
        for r in dd.simhash_hamming_pairs(docs, max_hamming=6).collect()
    }
    assert (1, 2) not in got and (1, 3) not in got and (2, 3) not in got
    assert got == {(4, 5)}


def test_tokenless_predicate_whitespace_zoo(spark, tmp_path):
    """Round-8 (VERDICT r7 'What's wrong' #1): the token-less-document
    predicate must be the TOKENIZER'S OWN emptiness test.  trim(text) != ''
    strips tabs/newlines while tokens() splits on the space character only,
    so a "\\t" document was dropped by the old filter yet HAS a token (and a
    tf row in the DuckDB oracle's fingerprint table).  Prove Spark ≡ oracle
    on a whitespace zoo for all three exported simhash queries."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from puma_matcher_spark.oracle import compare_query
    from puma_matcher_spark.queries import REGISTRY

    base = " ".join(f"t{j}" for j in range(60))
    zoo = [
        (1, "\t"),          # tab-only: HAS a token under space-split
        (2, "\n"),          # newline-only: HAS a token
        (3, " \t "),        # space-wrapped tab: token "\t"
        (4, ""),            # truly token-less
        (5, "   "),         # spaces only: token-less
        (6, None),          # NULL text: token-less
        (7, base),
        (8, base + " extra"),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in zoo], type=pa.int64()),
            "text": pa.array([r[1] for r in zoo], type=pa.string()),
            "lang": pa.array(["en"] * len(zoo)),
            "source": pa.array(["zoo"] * len(zoo)),
            "n_chars": pa.array(
                [len(r[1] or "") for r in zoo], type=pa.int64()
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    for name in ("simhash", "simhash128", "simhash_near_dups"):
        spec = REGISTRY[name]
        res = compare_query(
            spark, con, name, spec.spark_fn, spec.oracle, str(tmp_path)
        )
        assert res.ok, f"{name} diverges from oracle on the zoo: {res}"
    # the tab/newline docs must be PRESENT in the fingerprint output
    got_ids = {
        r["doc_id"]
        for r in REGISTRY["simhash128"].spark_fn(spark, str(tmp_path)).collect()
    }
    assert got_ids == {1, 2, 3, 7, 8}


def test_simhash128_small_radii_complete(spark):
    """ADVICE r7: max_hamming=1 (84-bit keys) and =2 (64-bit keys) used to
    trip the single-long <=62-bit assert at runtime; the two-long packed
    key must make every small radius work AND stay pigeonhole-complete
    vs brute force."""
    import random

    rng = random.Random(23)
    rows = []
    for c in range(12):  # planted near-dups: one extra token ~= low radius
        base = [f"t{rng.randrange(5000)}" for _ in range(150)]
        rows.append((2 * c, " ".join(base)))
        rows.append((2 * c + 1, " ".join(base + [f"x{c}"])))
    for i in range(24, 48):
        rows.append((i + 24, " ".join(f"u{rng.randrange(10**6)}" for _ in range(40))))
    docs = _docs(spark, rows)
    sh = {
        r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
        for r in dd.simhash128_mapside(docs).collect()
    }
    for radius in (1, 2):
        blocked = {
            (r["doc1_id"], r["doc2_id"]): r["hamming"]
            for r in dd.simhash_hamming_pairs(docs, max_hamming=radius).collect()
        }
        brute = {
            (a, b): _hamming128(sh[a], sh[b])
            for a in sh for b in sh
            if a < b and _hamming128(sh[a], sh[b]) <= radius
        }
        assert blocked == brute, f"radius {radius} diverges"
    assert any(
        _hamming128(sh[a], sh[b]) <= 2 for a in sh for b in sh if a < b
    )  # fixture exercises at least one small radius


def test_simhash128_whole_word_blocks(spark):
    """n_blocks=2 (width-64 blocks, the whole-word edge of _fp128_block)
    must run and equal brute force at max_hamming=1."""
    import random

    rng = random.Random(5)
    rows = []
    for c in range(8):
        base = [f"t{rng.randrange(5000)}" for _ in range(200)]
        rows.append((2 * c, " ".join(base)))
        rows.append((2 * c + 1, " ".join(base + [f"y{c}"])))
    docs = _docs(spark, rows)
    sh = {
        r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
        for r in dd.simhash128_mapside(docs).collect()
    }
    blocked = {
        (r["doc1_id"], r["doc2_id"]): r["hamming"]
        for r in dd.simhash_hamming_pairs(
            docs, max_hamming=1, n_blocks=2
        ).collect()
    }
    brute = {
        (a, b): _hamming128(sh[a], sh[b])
        for a in sh for b in sh
        if a < b and _hamming128(sh[a], sh[b]) <= 1
    }
    assert blocked == brute


def test_semantic_contamination_df_counts_shared_doc_once(spark):
    """ADVICE r7: a document present in BOTH frames (benchmark sampled
    from the corpus) must count ONCE toward df_cap — df is
    count(DISTINCT doc_id).  With double-counting, a shingle unique to
    one shared doc reads df=2 and a df_cap=1 run finds no blocking keys
    at all; with distinct counting the self-pair blocks fine."""
    base = " ".join(f"w{j}" for j in range(30))
    corpus = _docs(spark, [(1, base), (2, "totally different text here now")])
    benchmark = _docs(spark, [(1, base)])  # sampled FROM the corpus
    hits = sim.semantic_contamination(
        corpus, benchmark, threshold=0.9, df_cap=1, min_shared=2
    ).collect()
    assert {(r["corpus_id"], r["benchmark_id"]) for r in hits} == {(1, 1)}


def test_simhash128_key_packing_matches_bigint_reference(spark):
    """Round 8: the two-long (val_lo, val_hi) combination-key packing is
    pure bit arithmetic on signed longs — pin it against an independent
    big-int reference over adversarial fingerprints (sign bits set,
    straddle patterns, all-ones) at several radii, so a refactor of the
    shift/mask expressions cannot silently corrupt join keys."""
    from itertools import combinations

    M64 = (1 << 64) - 1

    def signed(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    def ref_keys(hi, lo, max_hamming, n_blocks=None):
        b = n_blocks if n_blocks is not None else max_hamming + 2
        r = b - max_hamming
        width = 128 // b
        u = ((hi & M64) << 64) | (lo & M64)
        blocks = [(u >> (i * width)) & ((1 << width) - 1) for i in range(b)]
        out = {}
        for ci, combo in enumerate(combinations(range(b), r)):
            k = 0
            for pos, j in enumerate(combo):
                k |= blocks[j] << (pos * width)
            out[ci] = (signed(k & M64), signed((k >> 64) & M64))
        return out

    fps = [
        (1, 0x8000000000000000 - 2**64, 0x8000000000000000 - 2**64),  # sign bits
        (2, -1, -1),                                 # all ones
        (3, 0, 1),
        (4, 0x7FFFFFFFFFFFFFFF, 0x0123456789ABCDEF),
        (5, -0x0123456789ABCDF0, 0x00000000FFFFFFFF),
        (6, 0x5555555555555555, -0x5555555555555556),
    ]
    sh = spark.createDataFrame(
        fps, "doc_id LONG, simhash_hi LONG, simhash_lo LONG"
    )
    for radius, nb in ((1, None), (2, None), (3, None), (6, None), (1, 2)):
        keys = dd.simhash128_keys(sh, max_hamming=radius, n_blocks=nb)
        got = {
            (r["doc_id"], r["combo"]): (r["val_lo"], r["val_hi"])
            for r in keys.collect()
        }
        for did, hi, lo in fps:
            want = ref_keys(hi, lo, radius, nb)
            for ci, pair in want.items():
                assert got[(did, ci)] == pair, (
                    f"radius={radius} nb={nb} doc={did} combo={ci}: "
                    f"{got[(did, ci)]} != {pair}"
                )


def test_has_tokens_equals_tokenizer_emptiness(spark):
    """has_tokens must agree with size(tokens(text)) > 0 on every row of
    a whitespace zoo (incl. NBSP, CR, vertical tab, NULL) — the proof
    that the cheap trim-based predicate IS the tokenizer's emptiness
    test under space-only splitting."""
    zoo = [
        "", " ", "  ", "\t", "\n", "\r", "\x0b", " \t ", " ",
        "a", " a", "a ", " a ", "\ta", "a\tb", "\n \n", None,
        "word another", "   ",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(zoo)], ["i", "t"])
    rows = df.select(
        "i",
        F.coalesce(ts.has_tokens(F.col("t")), F.lit(False)).alias("cheap"),
        F.coalesce(F.size(ts.tokens(F.col("t"))) > 0, F.lit(False)).alias("full"),
    ).collect()
    bad = [(r["i"], zoo[r["i"]]) for r in rows if r["cheap"] != r["full"]]
    assert not bad, f"predicates disagree on: {bad!r}"


@pytest.mark.slow
def test_whitespace_zoo_broad_parity(spark, tmp_path):
    """Round 8: EVERY documents-only oracled query must match DuckDB on
    a corpus containing token-less documents (empty / spaces / tab /
    newline / NULL) and duplicate pairs.  The probe behind this test
    caught eight real latent defects: ANSI DIVIDE_BY_ZERO crashes
    (doc_token_stats, lang_id, doc_quality, quality_sample,
    weighted_sample), Spark least()/greatest() silently SKIPPING NULLs
    (doc_chunks phantom row, av_features_shape formula), the token-less
    fingerprint diverging (Spark md5('') vs DuckDB md5(NULL)), a
    NULL-unsafe NOT IN in the incremental oracle, a Word2Vec NPE on
    NULL token arrays, and sequence(0,-1) yielding [0,-1] in
    text_features.

    Documented exceptions (skipped): the semantic_* trio — their
    blocking requires >= 2 shared rare shingles (heuristic recall,
    fixture-verified; see llmdata/similarity.py docstrings), and the
    zoo's 6-token dup docs sit below that sensitivity while the oracle
    is the unblocked all-pairs definition."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from puma_matcher_spark.oracle import compare_query
    from puma_matcher_spark.queries import REGISTRY

    base = " ".join(f"t{j}" for j in range(60))
    zoo = [
        (1, "\t"), (2, "\n"), (3, " \t "), (4, ""), (5, "   "), (6, None),
        (7, base), (8, base + " extra"),
        (9, "dup dup dup dup dup dup"), (10, "dup dup dup dup dup dup"),
        (11, ""), (12, base),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in zoo], pa.int64()),
            "text": pa.array([r[1] for r in zoo], pa.string()),
            "lang": pa.array(["en"] * len(zoo)),
            "source": pa.array(
                ["zooA" if r[0] % 2 else "zooB" for r in zoo]
            ),
            "n_chars": pa.array(
                [len(r[1] or "") for r in zoo], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    known_blocking_recall = {
        "semantic_dedup_blocked",
        "semantic_contamination",
        "semantic_decontaminated",
    }
    failures, n_checked = [], 0
    for name, spec in REGISTRY.items():
        if spec.oracle is None or name in known_blocking_recall:
            continue
        try:
            res = compare_query(
                spark, con, name, spec.spark_fn, spec.oracle, str(tmp_path)
            )
        except Exception as e:
            msg = str(e)
            if "PATH_NOT_FOUND" in msg or "Table with name" in msg:
                continue  # needs tables beyond documents — out of scope
            failures.append(f"{name}: EXC {type(e).__name__}: {msg[:150]}")
            continue
        n_checked += 1
        if not res.ok:
            failures.append(f"{name}: {res}")
    assert n_checked >= 60, f"zoo scope shrank: only {n_checked} checked"
    assert not failures, "zoo divergence:\n" + "\n".join(failures)


def test_xcorpus_logprob_smooths_oov_events(spark):
    """Cross-corpus scoring must handle what self-scoring never sees:
    a fully OOV bigram smooths to (0+1)/(0+V), a seen-history/unseen-
    next bigram to (0+1)/(c1+V) — hand-computed on a two-doc corpus."""
    import math

    train = _docs(spark, [(0, "a b a b")])         # V={a,b}, c1(a)=2,c1(b)=2
    score = _docs(spark, [(1, "a b"), (3, "x y")])  # seen bigram; fully OOV
    rows = {
        r["doc_id"]: r
        for r in ts.xcorpus_bigram_logprob(train, score).collect()
    }
    v = 2.0
    # doc 1: bigram (a,b) seen twice in train -> (2+1)/(2+2)
    assert rows[1]["n_bigrams"] == 1
    assert rows[1]["avg_logprob"] == round(math.log10(3.0 / 4.0), 4)
    # doc 3: (x,y) unseen, history x OOV -> (0+1)/(0+2)
    assert rows[3]["avg_logprob"] == round(math.log10(1.0 / 2.0), 4)


def test_xcorpus_logprob_empty_model_yields_no_rows(spark):
    """A token-less training corpus has no model (V = 0 would zero the
    smoothing denominator): scoring emits no rows instead of an ANSI
    division error."""
    train = _docs(spark, [(0, "   "), (2, None), (4, "")])  # space-only/NULL
    score = _docs(spark, [(1, "a b c")])
    assert ts.xcorpus_bigram_logprob(train, score).count() == 0
