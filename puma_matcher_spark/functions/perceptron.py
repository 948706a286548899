"""Averaged-perceptron POS tagger and NER model — the default M7 backend
(functions/nlp.py; the other is the suffix-rule ``heuristic``).

The reference pipeline calls Stanford CoreNLP's statistical tagger
(AdvancedInstrumentAnalyser.scala:569-607), which is not available to a
PySpark build, so the suffix-rule heuristics were the only executable
backend through round 3.  This module closes that gap with a pure-Python
statistical tagger:

* the **averaged perceptron** (Collins 2002, "Discriminative Training
  Methods for HMMs"), in the classic greedy left-to-right formulation
  popularised by M. Honnibal's public "Good POS Tagger in about 200
  Lines of Python" write-up — re-implemented here from the published
  algorithm, not copied;
* trained offline by ``scripts/train_perceptron.py`` on the vendored
  hand-tagged corpus ``data/pos_train.txt`` (authored for this repo:
  instrument-science English, Penn tags), weights shipped as
  ``data/perceptron_weights.json``;
* inference is **deterministic**: integer-free float weights are summed
  in fixed feature order and ties break on the tag name, so the same
  token stream tags identically on every executor — a hard requirement
  for the oracle/driver comparisons.

Spark-side plumbing is unchanged: the tagger slots in behind the same
Arrow-batched array→array pandas-UDF signatures as the heuristic backend
(functions/nlp.py), with the weights lazy-loaded once per executor.
"""

from __future__ import annotations

import functools
import json
import math
import os
from collections import defaultdict

_DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
WEIGHTS_PATH = os.path.join(_DATA_DIR, "perceptron_weights.json")
TRAIN_PATH = os.path.join(_DATA_DIR, "pos_train.txt")
NER_WEIGHTS_PATH = os.path.join(_DATA_DIR, "ner_weights.json")
NER_TRAIN_PATH = os.path.join(_DATA_DIR, "ner_train.txt")

START = ("-START-", "-START2-")


def _normalize(word: str) -> str:
    if word.isdigit():
        return "!DIGIT"
    if any(c.isdigit() for c in word):
        return "!MIXEDDIGIT"
    return word.lower()


def _features(
    i: int,
    word: str,
    context: list[str],
    prev: str,
    prev2: str,
    raw: list[str] | None = None,
):
    """Feature set for position ``i`` (padded context).  The classic
    greedy-perceptron features: current word + affixes, previous two
    predicted tags, and a ±1-word window with suffixes."""
    w = context[i]

    def f(name, *args):
        return "+".join((name,) + tuple(args))

    yield f("bias")
    yield f("w", w)
    yield f("suf3", w[-3:])
    yield f("suf2", w[-2:])
    yield f("pre1", w[:1])
    yield f("t-1", prev)
    yield f("t-2", prev2)
    yield f("t-1 t-2", prev, prev2)
    yield f("w-1", context[i - 1])
    yield f("w-1 suf3", context[i - 1][-3:])
    yield f("w+1", context[i + 1])
    yield f("w+1 suf3", context[i + 1][-3:])
    yield f("t-1 w", prev, w)
    # fire only for NON-sentence-initial capitals (the proper-noun
    # signal): i is the PADDED index, so sentence position 0 is i == 2
    if word[:1].isupper() and i > 2:
        yield f("cap")


def _shape(w: str) -> str:
    """Collapsed orthographic shape class: 'Aa' (Capitalised), 'AA'
    (acronym), 'A9' (instrument-style alnum code), 'a9', '9', 'a'."""
    has_digit = any(c.isdigit() for c in w)
    if w.isdigit():
        return "9"
    if has_digit:
        return "A9" if w[:1].isupper() else "a9"
    if w.isupper() and len(w) > 1:
        return "AA"
    if w[:1].isupper():
        return "Aa"
    return "a"


def _ner_features(
    i: int,
    word: str,
    context: list[str],
    prev: str,
    prev2: str,
    raw: list[str] | None = None,
):
    """NER feature set: the POS features' word/affix/window core plus the
    orthographic-shape signals entity recognition lives on (case and
    digit patterns of the ORIGINAL tokens, which ``context`` normalises
    away).  ``raw`` is the unpadded-case padded context."""
    w = context[i]
    r = raw[i] if raw else word

    def f(name, *args):
        return "+".join((name,) + tuple(args))

    yield f("bias")
    yield f("w", w)
    yield f("suf3", w[-3:])
    yield f("pre1", w[:1])
    yield f("t-1", prev)
    yield f("t-2", prev2)
    yield f("w-1", context[i - 1])
    yield f("w+1", context[i + 1])
    yield f("t-1 w", prev, w)
    yield f("shape", _shape(r))
    yield f("t-1 shape", prev, _shape(r))
    if raw:
        yield f("shape-1", _shape(raw[i - 1]))
        yield f("shape+1", _shape(raw[i + 1]))
        yield f("shape-1 shape", _shape(raw[i - 1]), _shape(r))
        yield f("w-1 shape", context[i - 1], _shape(r))
        yield f("w shape+1", w, _shape(raw[i + 1]))
    if i == 2:  # sentence-initial (padded index)
        yield f("first")
    if r[:1].isupper() and i > 2:
        yield f("cap")


FEATURE_SETS = {"pos": _features, "ner": _ner_features}


class AveragedPerceptron:
    """Multi-class perceptron with weight averaging.

    ``weights``: feature → {tag: weight}.  Prediction is argmax of the
    summed weights with deterministic (score, tag-name) tie-breaking.
    """

    def __init__(self, weights: dict | None = None):
        self.weights: dict[str, dict[str, float]] = weights or {}
        self.classes: set[str] = set()
        for tag_ws in self.weights.values():
            self.classes.update(tag_ws)
        # training state (accumulators for averaging)
        self._totals: dict[tuple, float] = defaultdict(float)
        self._tstamps: dict[tuple, int] = defaultdict(int)
        self._i = 0

    def predict(self, features, default: str = "NN") -> str:
        scores: dict[str, float] = defaultdict(float)
        for feat in features:
            ws = self.weights.get(feat)
            if not ws:
                continue
            for tag, weight in ws.items():
                scores[tag] += weight
        if not scores:
            return default
        return max(self.classes, key=lambda t: (scores.get(t, 0.0), t))

    # -- training ----------------------------------------------------------

    def update(self, truth: str, guess: str, features) -> None:
        self._i += 1
        if truth == guess:
            return
        for feat in features:
            ws = self.weights.setdefault(feat, {})
            self._bump(feat, truth, ws.get(truth, 0.0), 1.0)
            self._bump(feat, guess, ws.get(guess, 0.0), -1.0)

    def _bump(self, feat: str, tag: str, current: float, delta: float) -> None:
        key = (feat, tag)
        self._totals[key] += (self._i - self._tstamps[key]) * current
        self._tstamps[key] = self._i
        self.weights[feat][tag] = current + delta

    def average_weights(self) -> None:
        for feat, ws in self.weights.items():
            for tag, weight in list(ws.items()):
                key = (feat, tag)
                total = self._totals[key] + (self._i - self._tstamps[key]) * weight
                averaged = round(total / max(self._i, 1), 6)
                if averaged:
                    ws[tag] = averaged
                else:
                    del ws[tag]


class PerceptronTagger:
    """Greedy left-to-right tagging with the averaged-perceptron model.

    ``features`` names the feature extractor ('pos' | 'ner'); ``default``
    is the no-evidence class ('NN' for POS, 'O' for NER)."""

    def __init__(
        self,
        model: AveragedPerceptron,
        tagdict: dict[str, str],
        features: str = "pos",
        default: str = "NN",
    ):
        self.model = model
        # unambiguous frequent words bypass the model (speed + stability)
        self.tagdict = tagdict
        self.features = features
        self.default = default
        self._extract = FEATURE_SETS[features]

    def tag(self, tokens: list[str]) -> list[str]:
        prev, prev2 = START
        out = []
        context = (
            list(START)
            + [_normalize(t) for t in tokens]
            + ["-END-", "-END2-"]
        )
        raw = list(START) + list(tokens) + ["-END-", "-END2-"]
        for i, word in enumerate(tokens):
            tag = self.tagdict.get(_normalize(word))
            if tag is None:
                feats = self._extract(i + 2, word, context, prev, prev2, raw)
                tag = self.model.predict(feats, self.default)
            out.append(tag)
            prev2 = prev
            prev = tag
        return out

    # -- persistence -------------------------------------------------------

    def save(self, path: str = WEIGHTS_PATH) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "weights": self.model.weights,
                    "tagdict": self.tagdict,
                    "classes": sorted(self.model.classes),
                    "features": self.features,
                    "default": self.default,
                },
                fh,
                separators=(",", ":"),
                sort_keys=True,
            )

    @classmethod
    def load(cls, path: str = WEIGHTS_PATH) -> "PerceptronTagger":
        with open(path) as fh:
            blob = json.load(fh)
        model = AveragedPerceptron(blob["weights"])
        model.classes = set(blob["classes"])
        return cls(
            model,
            blob["tagdict"],
            features=blob.get("features", "pos"),
            default=blob.get("default", "NN"),
        )


def read_tagged_corpus(path: str = TRAIN_PATH) -> list[list[tuple[str, str]]]:
    """Parse ``word/TAG word/TAG ...`` lines (``#`` comments ignored)."""
    sentences = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            pairs = []
            for chunk in line.split():
                word, _, tag = chunk.rpartition("/")
                pairs.append((word, tag))
            sentences.append(pairs)
    return sentences


def train(
    sentences: list[list[tuple[str, str]]],
    n_iter: int = 8,
    tagdict_min: int = 3,
    tagdict_ratio: float = 0.97,
    features: str = "pos",
    default: str = "NN",
) -> PerceptronTagger:
    """Train on tagged sentences.  Deterministic: epochs walk the corpus
    in a fixed modular stride (no RNG), so retraining reproduces the
    shipped weights byte-for-byte."""
    extract = FEATURE_SETS[features]
    counts: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    classes: set[str] = set()
    for sent in sentences:
        for word, tag in sent:
            counts[_normalize(word)][tag] += 1
            classes.add(tag)
    tagdict: dict[str, str] = {}
    for word, tag_counts in counts.items():
        tag, n = max(tag_counts.items(), key=lambda kv: (kv[1], kv[0]))
        total = sum(tag_counts.values())
        if total >= tagdict_min and n / total >= tagdict_ratio:
            tagdict[word] = tag

    model = AveragedPerceptron()
    model.classes = classes
    n = len(sentences)
    # a stride COPRIME with n shuffles the visit order while still
    # touching every sentence each epoch (gcd > 1 would silently train
    # on only n/gcd distinct sentences per epoch)
    stride = 7
    while math.gcd(stride, max(n, 1)) != 1:
        stride += 2
    for epoch in range(n_iter):
        for k in range(n):
            sent = sentences[(k * stride + epoch) % n]
            prev, prev2 = START
            context = (
                list(START)
                + [_normalize(w) for w, _ in sent]
                + ["-END-", "-END2-"]
            )
            raw = list(START) + [w for w, _ in sent] + ["-END-", "-END2-"]
            for i, (word, truth) in enumerate(sent):
                guess = tagdict.get(_normalize(word))
                if guess is None:
                    feats = list(
                        extract(i + 2, word, context, prev, prev2, raw)
                    )
                    guess = model.predict(feats, default)
                    model.update(truth, guess, feats)
                prev2 = prev
                prev = guess
    model.average_weights()
    return PerceptronTagger(model, tagdict, features=features, default=default)


@functools.cache
def load_default() -> PerceptronTagger:
    """The vendored POS tagger (one JSON parse per process)."""
    return PerceptronTagger.load()


@functools.cache
def load_default_ner() -> PerceptronTagger:
    """The vendored NER model (trained by scripts/train_perceptron.py on
    data/ner_train.txt; one JSON parse per process)."""
    return PerceptronTagger.load(NER_WEIGHTS_PATH)
