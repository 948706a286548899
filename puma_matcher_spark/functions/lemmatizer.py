"""Deterministic lexicon-validated English lemmatiser — the vendored
"real lemma()" backend for M7 (DocumentWordSpecAnalyser.scala:166-220
calls CoreNLP ``lemma()``, which is not available to a PySpark build).

Re-implements the public WordNet *morphy* algorithm (Miller et al.,
"WordNet: An on-line lexical database", the documented detachment-rule
procedure): an exceptions table consulted first, then POS-conditioned
suffix-detachment rules whose candidate stems are only accepted when the
vendored base-form lexicon contains them — which is what separates a real
lemmatiser from blind suffix stripping ("ring" stays "ring"; "running" →
"run" because the lexicon knows "run").

Data files (authored for this repo, reviewable plain text):

* ``data/lemma_exceptions.txt`` — ``inflected base`` pairs (irregulars);
* ``data/lemma_lexicon.txt`` — base forms, general + instrument-science
  English.

Unknown words fall through UNCHANGED when no validated stem exists —
morphy's contract — so the lemmatiser never invents stems for domain
terms missing from the lexicon.  Fully deterministic: first matching rule
in fixed order wins.
"""

from __future__ import annotations

import functools
import os

_DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
EXCEPTIONS_PATH = os.path.join(_DATA_DIR, "lemma_exceptions.txt")
LEXICON_PATH = os.path.join(_DATA_DIR, "lemma_lexicon.txt")

# morphy detachment rules per coarse POS: (suffix, replacement), applied
# in order; a candidate is accepted only if the lexicon contains it.
_RULES: dict[str, list[tuple[str, str]]] = {
    "n": [
        ("ses", "s"), ("xes", "x"), ("zes", "z"), ("ches", "ch"),
        ("shes", "sh"), ("ies", "y"), ("men", "man"), ("s", ""),
    ],
    "v": [
        ("ies", "y"), ("ied", "y"), ("ing", "e"), ("ing", ""), ("ed", "e"),
        ("ed", ""), ("es", "e"), ("es", ""), ("s", ""),
    ],
    "a": [
        ("iest", "y"), ("ier", "y"), ("est", "e"), ("est", ""),
        ("er", "e"), ("er", ""),
    ],
    "r": [],
}

#: Penn tag → morphy POS class (anything else tries n, v, a in order)
_PENN_TO_POS = {
    "NN": "n", "NNS": "n", "NNP": "n", "NNPS": "n",
    "VB": "v", "VBD": "v", "VBG": "v", "VBN": "v", "VBP": "v", "VBZ": "v",
    "JJ": "a", "JJR": "a", "JJS": "a",
    "RB": "r", "RBR": "r", "RBS": "r",
}


class Lemmatizer:
    def __init__(self, exceptions: dict[str, str], lexicon: set[str]):
        self.exceptions = exceptions
        self.lexicon = lexicon

    def _try_rules(self, w: str, pos: str) -> str | None:
        for suffix, repl in _RULES.get(pos, ()):
            if w.endswith(suffix) and len(w) - len(suffix) >= 2:
                stem = w[: -len(suffix)] + repl
                if stem in self.lexicon:
                    return stem
                # doubling undo (stopped → stop): only for bare detachment
                if (
                    not repl
                    and len(stem) > 2
                    and stem[-1] == stem[-2]
                    and stem[:-1] in self.lexicon
                ):
                    return stem[:-1]
        return None

    def lemma(self, word: str, penn_tag: str | None = None) -> str:
        """The validated base form of ``word`` (lowercased), or the word
        itself when no exception or lexicon-validated stem applies."""
        w = word.lower()
        if w in self.exceptions:
            return self.exceptions[w]
        if w in self.lexicon:
            return w
        pos = _PENN_TO_POS.get(penn_tag or "")
        order = [pos] if pos else ["n", "v", "a"]
        for p in order:
            stem = self._try_rules(w, p)
            if stem is not None:
                return stem
        return w


def _load() -> Lemmatizer:
    exceptions: dict[str, str] = {}
    with open(EXCEPTIONS_PATH) as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            fields = line.split()
            if len(fields) != 2:  # malformed line: skip, don't fail the UDF
                continue
            exceptions[fields[0]] = fields[1]
    lexicon: set[str] = set()
    with open(LEXICON_PATH) as fh:
        for line in fh:
            line = line.strip()
            if line and not line.startswith("#"):
                lexicon.add(line)
    return Lemmatizer(exceptions, lexicon)


@functools.cache
def load_default() -> Lemmatizer:
    """The vendored lemmatiser (one parse of its data files per process)."""
    return _load()
