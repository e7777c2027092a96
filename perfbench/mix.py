"""Seeded query sequences for the serving workloads.

Every sequence is a pure function of (seed, length): the same seed replays
the same queries in the same order, so the query mix never changes from one
run to the next. Vocabulary and Zipf order follow the corpus generator
(``refimage_spark.sources.pages``): word ``i`` of ``_vocab()`` is the
``i``-th most frequent term.
"""

from __future__ import annotations

import numpy as np

# The FIXTURES.md §3 reference set as bench.py runs it (tags are the
# corpus's ``lang`` values). Checked against the DataFrame engine.
REFERENCE = [
    "red car",
    "fast car #en",
    "red car OR blue house",
    "sports car AND #en",
    "luxury car^0.8",
    "beach sunset NOT person",
    "red car^0.8 OR blue car^0.6",
    'EXCLUDE(TEXT("beach sunset"), TEXT("person"))',
    "car",
    "mountain river train engine",
]

# Inputs a user can get wrong; each must raise dsl.DSLParseError.
MALFORMED = [
    "red car^9",
    "car^2.5 blue",
    "   ",
    'TEXT("car"',
    'EXCLUDE(TEXT("car"))',
    "WEIGHT(TEXT(\"car\"), 3)",
    "^1.5",
    'OR(TEXT("red"), car)',
]

HEAD_TERMS = 200
LANGS = ["en", "de", "fr", "ja"]


def _vocab() -> list[str]:
    from refimage_spark.sources.pages import _vocab as corpus_vocab

    return corpus_vocab()


def _head_query(rng: np.random.Generator, vocab: list[str], shape: int) -> str:
    """One DSL query over the top-HEAD_TERMS Zipf terms, in grammar shape
    ``shape`` % 7 (bare text, AND, OR, NOT, ^weight, #tag, functional)."""

    def words(lo: int, hi: int) -> str:
        n = int(rng.integers(lo, hi + 1))
        return " ".join(vocab[int(i)] for i in rng.integers(0, HEAD_TERMS, n))

    shape %= 7
    w = f"{rng.integers(1, 20) / 10:.1f}"
    if shape == 0:
        return words(1, 3)
    if shape == 1:
        return f"{words(1, 2)} AND {words(1, 2)}"
    if shape == 2:
        return f"{words(1, 2)} OR {words(1, 2)}"
    if shape == 3:
        return f"{words(1, 3)} NOT {words(1, 1)}"
    if shape == 4:
        return f"{words(1, 2)}^{w} OR {words(1, 2)}"
    if shape == 5:
        return f"{words(1, 2)} #{LANGS[int(rng.integers(0, len(LANGS)))]}"
    return f'EXCLUDE(TEXT("{words(1, 2)}"), TEXT("{words(1, 1)}"))'


def _wide_query(rng: np.random.Generator, vocab: list[str], n: int) -> str:
    """``n`` terms drawn uniformly from the whole vocabulary: mostly tail
    terms, each new to the per-reader term memo."""
    return " ".join(vocab[int(i)] for i in rng.integers(0, len(vocab), n))


def sequence(kind: str, seed: int, n: int, malformed_every: int = 0) -> list[str]:
    """``n`` queries of mix ``kind`` ("head" or "wide"). The head mix puts
    a reference query at every 10th slot. With ``malformed_every`` = m,
    every m-th slot holds a malformed query instead (a fixed share).
    Query shapes (head) and term counts (wide: 1, 2, 3) rotate with the
    slot, so their shares are the same for every seed; the seed picks
    only the terms, tags and weights."""
    vocab = _vocab()
    rng = np.random.default_rng([seed, 1 if kind == "head" else 2, n])
    out = []
    for i in range(n):
        if malformed_every and i % malformed_every == malformed_every - 1:
            out.append(MALFORMED[(i // malformed_every) % len(MALFORMED)])
        elif kind == "head" and i % 10 == 0:
            out.append(REFERENCE[(i // 10) % len(REFERENCE)])
        elif kind == "head":
            out.append(_head_query(rng, vocab, i))
        else:
            out.append(_wide_query(rng, vocab, 1 + i % 3))
    return out
