"""NLP plane (M7): lemma/POS heuristics accuracy-gated on a hand-tagged
fixture (SURVEY §7.4 — tagger divergence from CoreNLP is expected; gate
with labelled metrics, not exact match), plus the word-feature
extraction shape of DocumentWordSpecAnalyser.scala:166-220."""

from pyspark.sql import functions as F

from puma_matcher_spark.functions.nlp import (
    POS_WHITELIST,
    _heuristic_lemma,
    _heuristic_pos,
    word_features,
)

# hand-tagged fixture: (token, gold_coarse_pos, gold_lemma)
FIXTURE = [
    ("the", "DT", "the"),
    ("neutron", "NN", "neutron"),
    ("beams", "NNS", "beam"),
    ("were", "VB", "be"),
    ("scattering", "VBG", "scatter"),
    ("slowly", "RB", "slowly"),
    ("in", "IN", "in"),
    ("a", "DT", "a"),
    ("chamber", "NN", "chamber"),
    ("that", "DT", "that"),
    ("contained", "VBD", "contain"),
    ("samples", "NNS", "sample"),
    ("of", "IN", "of"),
    ("materials", "NNS", "material"),
    ("studied", "VBD", "study"),
    ("with", "IN", "with"),
    ("detectors", "NNS", "detector"),
    ("running", "VBG", "run"),
    ("experiments", "NNS", "experiment"),
    ("measured", "VBD", "measure"),
    ("values", "NNS", "value"),
    ("for", "IN", "for"),
    ("energies", "NNS", "energy"),
    ("making", "VBG", "make"),
    ("must", "MD", "must"),
    ("analyses", "NNS", "analyse"),
    ("reported", "VBD", "report"),
    ("results", "NNS", "result"),
    ("from", "IN", "from"),
    ("instrument", "NN", "instrument"),
]


def _coarse(tag: str) -> str:
    for prefix in ("NNS", "NN", "VBG", "VBD", "VB", "DT", "IN", "MD", "RB"):
        if tag.startswith(prefix):
            return prefix
    return tag


def test_pos_accuracy_on_hand_tagged_fixture():
    hits = sum(
        1 for tok, gold, _ in FIXTURE if _coarse(_heuristic_pos(tok)) == gold
    )
    acc = hits / len(FIXTURE)
    assert acc >= 0.85, f"POS accuracy {acc:.2f} below gate"


def test_lemma_accuracy_on_hand_tagged_fixture():
    hits = sum(1 for tok, _, gold in FIXTURE if _heuristic_lemma(tok) == gold)
    acc = hits / len(FIXTURE)
    assert acc >= 0.9, f"lemma accuracy {acc:.2f} below gate"


def test_backend_argument_selects_kernel():
    """The ``backend`` argument is the only selector: the perceptron by
    default, the suffix rules by name, and any other name raises."""
    import pytest

    from puma_matcher_spark.functions import nlp, perceptron

    toks = [t for t, _, _ in FIXTURE]
    assert nlp._pos_batch(toks) == perceptron.load_default().tag(toks)
    assert nlp._pos_batch(toks, "heuristic") == [_heuristic_pos(t) for t in toks]
    # the two backends disagree on this fixture, so the default is decided
    assert nlp._pos_batch(toks) != nlp._pos_batch(toks, "heuristic")
    for kernel in (nlp._pos_batch, nlp._ner_batch, nlp._lemma_batch):
        with pytest.raises(ValueError, match="unknown NLP backend 'rules'"):
            kernel(toks, "rules")
    with pytest.raises(ValueError, match="unknown NLP backend"):
        nlp.make_tag_udf(nlp._pos_batch, "auto")


def test_perceptron_backend_accuracy():
    """The vendored averaged-perceptron tagger (the default backend)
    must beat the heuristic gate on the same labelled fixture, tagged as
    one token stream the way the pandas-UDF kernels see it."""
    from puma_matcher_spark.functions import nlp

    pos = nlp._pos_batch([t for t, _, _ in FIXTURE], backend="perceptron")
    acc = sum(
        1 for (t, gold, _), tag in zip(FIXTURE, pos) if _coarse(tag) == gold
    ) / len(FIXTURE)
    assert acc >= 0.9, f"perceptron POS accuracy {acc:.2f} below gate"


def test_perceptron_deterministic_and_retrainable():
    """Same tokens → same tags on every call (executor determinism), and
    the shipped weights are reproducible from the vendored corpus (the
    training loop has no RNG)."""
    from puma_matcher_spark.functions import perceptron as pc

    tagger = pc.load_default()
    toks = [t for t, _, _ in FIXTURE]
    assert tagger.tag(toks) == tagger.tag(toks)
    retrained = pc.train(pc.read_tagged_corpus())
    assert retrained.tag(toks) == tagger.tag(toks)


def test_word_features_whitelist_and_positions(spark):
    docs = spark.createDataFrame(
        [(1, "The detectors were running experiments slowly")],
        ["document_version_id", "text"],
    )
    rows = {
        r["word"]: (r["lemma"], r["pos_tag"], r["word_position"])
        for r in word_features(docs, min_lemma_len=4).collect()
    }
    # 'slowly' is RB (not whitelisted); 'the'/'were' dropped by tokenize
    # or whitelist; 'running' lemmatises to 'run' (3 chars) and is dropped
    # by the reference's lemma-length ≥ 4 filter
    assert "slowly" not in rows
    assert "running" not in rows
    assert rows["detectors"][0] == "detector"
    assert rows["experiments"][0] == "experiment"
    assert all(tag in POS_WHITELIST for _, tag, _ in rows.values())
    # positions are 1-based over the filtered token stream
    assert min(p for _, _, p in rows.values()) >= 1


# ---- round 6: vendored statistical NER + lexicon lemmatiser (M7) ----------

# held-out NER fixture: sentence patterns from the training distribution,
# ENTITIES unseen in data/ner_train.txt (the generalization that matters:
# new names, known contexts/shapes).  Tripled in round 7 (VERDICT r6 #8)
# so the M7-closure gates rest on 150+ labelled tokens with every class
# represented several times; per-class P/R/F1 gated separately below.
NER_FIXTURE = [
    (
        "the spectra from IN11 were processed by Karl Jensen in Grenoble",
        "O O O INSTRUMENT O O O PERSON PERSON O LOCATION",
    ),
    (
        "Eva Novotna installed the cryostat on MIRA at the reactor in Garching",
        "PERSON PERSON O O O O INSTRUMENT O O O O LOCATION",
    ),
    (
        "the committee from Uppsala University approved the proposal",
        "O O O ORGANIZATION ORGANIZATION O O O",
    ),
    (
        "the vacuum pump failed during the weekend and the run was lost",
        "O O O O O O O O O O O O",
    ),
    (
        "data from D22 were compared with results from LOKI in Lund",
        "O O INSTRUMENT O O O O O INSTRUMENT O LOCATION",
    ),
    (
        "Lucia Bianchi measured the dispersion on IN20 before the shutdown",
        "PERSON PERSON O O O O INSTRUMENT O O O",
    ),
    (
        "the beamline SANS2D was upgraded by the detector group last cycle",
        "O O INSTRUMENT O O O O O O O O",
    ),
    (
        "Henrik Dahl and Marta Kovacs shared the allocated beam time",
        "PERSON PERSON O PERSON PERSON O O O O O",
    ),
    (
        "a delegation from the Paul Scherrer Institut visited in October",
        "O O O O ORGANIZATION ORGANIZATION ORGANIZATION O O O",
    ),
    (
        "the powder samples were stored in Oslo before shipment",
        "O O O O O O LOCATION O O",
    ),
    (
        "alignment scans on D33 and FIGARO finished overnight",
        "O O O INSTRUMENT O INSTRUMENT O O",
    ),
    (
        "the review panel of the European Spallation Source met in Lund",
        "O O O O O ORGANIZATION ORGANIZATION ORGANIZATION O O LOCATION",
    ),
    (
        "Tomas Berg reported a misalignment of the monochromator",
        "PERSON PERSON O O O O O O",
    ),
    (
        "the cold source in Villigen supplies neutrons to several instruments",
        "O O O O LOCATION O O O O O",
    ),
    (
        "results were cross-checked by Ingrid Svensson at the facility in Oxfordshire",
        "O O O O PERSON PERSON O O O O LOCATION",
    ),
]


def test_perceptron_ner_accuracy_on_held_out():
    """The vendored averaged-perceptron NER (data/ner_weights.json) must
    clear labelled gates on HELD-OUT sentences: >= 0.9 token accuracy and
    >= 0.75 entity recall (SURVEY §7.4 doctrine — labelled metrics, not
    exact match against a tagger we don't ship)."""
    from puma_matcher_spark.functions.perceptron import load_default_ner

    ner = load_default_ner()
    tok_hits = tok_total = ent_hits = ent_total = 0
    for sent, tags in NER_FIXTURE:
        got = ner.tag(sent.split())
        for g, o in zip(tags.split(), got):
            tok_total += 1
            tok_hits += g == o
            if g != "O":
                ent_total += 1
                ent_hits += g == o
    assert tok_hits / tok_total >= 0.9, f"NER token acc {tok_hits/tok_total:.2f}"
    assert ent_hits / ent_total >= 0.75, f"NER entity recall {ent_hits/ent_total:.2f}"


def test_perceptron_ner_per_class_f1_on_held_out():
    """Per-class precision/recall/F1 on the tripled held-out set — the
    aggregate gate above can hide one collapsed class; each of the four
    entity classes must clear F1 >= 0.8 on its own (measured at fixture
    authoring: PERSON/INSTRUMENT/ORGANIZATION 1.00, LOCATION 0.93 — one
    'October'->LOCATION false positive kept in, honest held-out)."""
    from collections import defaultdict

    from puma_matcher_spark.functions.perceptron import load_default_ner

    ner = load_default_ner()
    tp: dict = defaultdict(int)
    fp: dict = defaultdict(int)
    fn: dict = defaultdict(int)
    for sent, tags in NER_FIXTURE:
        for g, o in zip(tags.split(), ner.tag(sent.split())):
            if g == o and g != "O":
                tp[g] += 1
            if g != o:
                if o != "O":
                    fp[o] += 1
                if g != "O":
                    fn[g] += 1
    for c in ("PERSON", "INSTRUMENT", "LOCATION", "ORGANIZATION"):
        assert tp[c] + fn[c] >= 5, f"{c}: fixture too thin ({tp[c] + fn[c]})"
        p = tp[c] / (tp[c] + fp[c]) if tp[c] + fp[c] else 0.0
        r = tp[c] / (tp[c] + fn[c]) if tp[c] + fn[c] else 0.0
        f1 = 2 * p * r / (p + r) if p + r else 0.0
        assert f1 >= 0.8, f"{c}: F1 {f1:.2f} (P={p:.2f} R={r:.2f}) below gate"


def test_ner_batch_dispatches_to_statistical_model():
    """Under the perceptron backend, _ner_batch must run the statistical
    model (CoreNLP-style classes), not the capitalisation stand-in."""
    from puma_matcher_spark.functions import nlp

    out = nlp._ner_batch(
        "the spectra from IN11 were checked by Emma Rossi".split(),
        backend="perceptron",
    )
    assert out[3] == "INSTRUMENT"
    assert out[-2:] == ["PERSON", "PERSON"]
    assert set(out) - {"INSTRUMENT", "PERSON"} == {"O"}


# (token, penn_tag, gold_lemma) — linguistically correct golds, beyond
# what blind suffix stripping can do (ring, analysis, spectrum, axis)
LEMMA_FIXTURE = [
    ("measured", "VBD", "measure"),
    ("beams", "NNS", "beam"),
    ("studied", "VBD", "study"),
    ("analyses", "NNS", "analysis"),
    ("spectra", "NNS", "spectrum"),
    ("running", "VBG", "run"),
    ("ring", "NN", "ring"),
    ("was", "VBD", "be"),
    ("detectors", "NNS", "detector"),
    ("energies", "NNS", "energy"),
    ("making", "VBG", "make"),
    ("stopped", "VBD", "stop"),
    ("axes", "NNS", "axis"),
    ("indices", "NNS", "index"),
    ("filters", "VBZ", "filter"),
    ("processes", "VBZ", "process"),
    ("carefully", "RB", "carefully"),
    ("instruments", "NNS", "instrument"),
    ("scattered", "VBD", "scatter"),
    ("counting", "VBG", "count"),
    # round-7 extension (VERDICT r6 #8): tripled coverage — irregular
    # plurals, suppletive verbs/adjectives, -es/-ves classes, y-insertion
    ("geese", "NNS", "goose"),
    ("children", "NNS", "child"),
    ("criteria", "NNS", "criterion"),
    ("phenomena", "NNS", "phenomenon"),
    ("matrices", "NNS", "matrix"),
    ("vertices", "NNS", "vertex"),
    ("hypotheses", "NNS", "hypothesis"),
    ("theses", "NNS", "thesis"),
    ("nuclei", "NNS", "nucleus"),
    ("radii", "NNS", "radius"),
    ("foci", "NNS", "focus"),
    ("series", "NNS", "series"),
    ("took", "VBD", "take"),
    ("given", "VBN", "give"),
    ("written", "VBN", "write"),
    ("held", "VBD", "hold"),
    ("found", "VBD", "find"),
    ("brought", "VBD", "bring"),
    ("lying", "VBG", "lie"),
    ("dying", "VBG", "die"),
    ("tying", "VBG", "tie"),
    ("bigger", "JJR", "big"),
    ("hotter", "JJR", "hot"),
    ("better", "JJR", "good"),
    ("worst", "JJS", "bad"),
    ("largest", "JJS", "large"),
    ("crystallises", "VBZ", "crystallise"),
    ("normalised", "VBD", "normalise"),
    ("fluxes", "NNS", "flux"),
    ("branches", "NNS", "branch"),
    ("boxes", "NNS", "box"),
    ("echoes", "NNS", "echo"),
    ("ratios", "NNS", "ratio"),
    ("halves", "NNS", "half"),
    ("knives", "NNS", "knife"),
    ("leaves", "NNS", "leaf"),
    ("data", "NNS", "datum"),
    ("media", "NNS", "medium"),
    ("went", "VBD", "go"),
    ("said", "VBD", "say"),
]


def test_lexicon_lemmatiser_accuracy():
    """The vendored morphy lemmatiser (exceptions + lexicon-validated
    detachment) must clear 0.95 on the POS-conditioned fixture —
    including the cases blind stripping gets wrong (ring/analysis/
    spectrum/axis)."""
    from puma_matcher_spark.functions.lemmatizer import load_default

    lem = load_default()
    hits = sum(
        1 for tok, pos, gold in LEMMA_FIXTURE if lem.lemma(tok, pos) == gold
    )
    acc = hits / len(LEMMA_FIXTURE)
    assert acc >= 0.95, f"lexicon lemma accuracy {acc:.2f} below gate"


def test_lemma_batch_perceptron_backend_chains_pos():
    """Under the perceptron backend, _lemma_batch must tag first and
    lemmatise with the predicted POS (the CoreNLP lemma() contract)."""
    from puma_matcher_spark.functions import nlp

    out = nlp._lemma_batch(
        ["the", "detectors", "measured", "the", "scattering"],
        backend="perceptron",
    )
    assert out[1] == "detector"
    assert out[2] == "measure"


def test_lemmatizer_skips_malformed_exception_lines(tmp_path, monkeypatch):
    """A malformed lemma_exceptions.txt line (not exactly two fields)
    must be skipped, not raise ValueError out of the loader (ADVICE
    r6)."""
    from puma_matcher_spark.functions import lemmatizer as lz

    exc = tmp_path / "lemma_exceptions.txt"
    exc.write_text(
        "# comment\nran run\nbadline\nthree fields here\nmice mouse\n",
        encoding="utf-8",
    )
    lex = tmp_path / "lemma_lexicon.txt"
    lex.write_text("run\nmouse\n", encoding="utf-8")
    monkeypatch.setattr(lz, "EXCEPTIONS_PATH", str(exc))
    monkeypatch.setattr(lz, "LEXICON_PATH", str(lex))
    lem = lz._load()
    assert lem.exceptions == {"ran": "run", "mice": "mouse"}
