"""Seeded document corpus for the ``corpus_curation`` workload.

Every document is lower-case words joined by single spaces, 50 to 200
words long, with enough English stop words that the Gopher quality gate
keeps it. About 5% of the corpus are exact copies of an earlier document
and about 5% are near copies with about 2% of their words replaced. A copy
always has a larger id than the document it copies, so dedup keeps the
original.

The generator labels every copy, so the benchmark can check which
documents curation may drop without running the engine's own code.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

STOP = ["the", "and", "of", "to", "is", "that", "it", "a", "in", "for",
        "on", "with", "as", "are", "you"]
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "da", "fe",
        "go", "hu", "ji", "pe", "qu", "ro", "si", "tu", "wa", "xe", "zo"]


@dataclass
class Corpus:
    ids: list[int]
    texts: list[str]
    exact_copies: dict[int, int] = field(default_factory=dict)  # copy -> source
    near_copies: dict[int, int] = field(default_factory=dict)   # copy -> source

    def related(self) -> set[int]:
        """Ids that have an injected relative: copies and their sources."""
        rel = set(self.exact_copies) | set(self.near_copies)
        return rel | set(self.exact_copies.values()) | set(self.near_copies.values())


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(_SYL[i] for i in rng.integers(0, len(_SYL), k)))
    return sorted(words)


def _doc(rng: np.random.Generator, vocab: list[str], zipf_p: np.ndarray) -> list[str]:
    n = int(rng.integers(50, 201))
    is_stop = rng.random(n) < 0.25
    is_stop[rng.choice(n, 3, replace=False)] = True  # >= 3 stop-word hits
    content = rng.choice(len(vocab), n, p=zipf_p)
    stops = rng.integers(0, len(STOP), n)
    return [STOP[s] if st else vocab[c] for st, s, c in zip(is_stop, stops, content)]


def make_corpus(n_docs: int, seed: int, copy_frac: float = 0.05,
                near_frac: float = 0.05, edit_frac: float = 0.02) -> Corpus:
    rng = np.random.default_rng([seed, 7])
    vocab = _vocab(rng, 4000)
    zipf_p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf_p /= zipf_p.sum()
    n_copy = int(n_docs * copy_frac)
    n_near = int(n_docs * near_frac)
    n_orig = n_docs - n_copy - n_near
    docs = [_doc(rng, vocab, zipf_p) for _ in range(n_orig)]
    c = Corpus(ids=[], texts=[])
    for _ in range(n_copy):
        src = int(rng.integers(0, n_orig))
        c.exact_copies[len(docs)] = src
        docs.append(list(docs[src]))
    for _ in range(n_near):
        src = int(rng.integers(0, n_orig))
        words = list(docs[src])
        n_edit = max(1, round(edit_frac * len(words)))
        for p in rng.choice(len(words), n_edit, replace=False):
            k = int(rng.integers(0, len(vocab) - 1))
            words[p] = vocab[k + 1] if vocab[k] == words[p] else vocab[k]
        c.near_copies[len(docs)] = src
        docs.append(words)
    c.ids = list(range(len(docs)))
    c.texts = [" ".join(d) for d in docs]
    return c

