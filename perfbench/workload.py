"""Seeded benchmark inputs: corpus, head-heavy queries, rare-tail stream.

Everything here is a pure function of the seed (numpy PCG64), so the
same ``--seed`` gives byte-identical inputs on any commit. The engine
receives only these generated rows and strings.

The corpus follows the shape of ``data.synth_webtext``: documents of
30-200 words drawn from a 20k-word vocabulary whose index is
``floor(u**3 * vocab)``, so a few stopwords make up the head and
``termNNNN`` words the long tail. Head-heavy queries follow
``data.synth_queries`` (three words, index ``floor(u**2 * 2000)``).
Rare-tail queries are pairs of distinct ``termNNNN`` words from the
upper part of the vocabulary: their digit n-grams have positive idf,
so the driver-side certificate never drops them, and each one touches
postings no earlier query of the stream touched.
"""

from __future__ import annotations

import numpy as np

HEAD_WORDS = [
    "the", "of", "and", "to", "in", "that", "is", "was", "for", "with",
    "as", "on", "his", "they", "be", "at", "one", "have", "this", "from",
    "or", "had", "by", "word", "but", "what", "some", "were", "there",
    "page", "home", "search", "about", "contact", "news", "world",
    "sports", "cinema", "food", "music", "science", "health", "travel",
]
VOCAB = 20_000
RARE_LO = 5_000  # rare-tail words come from [RARE_LO, VOCAB)


def _word(v: int) -> str:
    return HEAD_WORDS[v] if v < len(HEAD_WORDS) else f"term{v}"


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input kind, so resizing one input
    # never changes another
    tag = int.from_bytes(stream.encode(), "little") % (1 << 32)
    return np.random.default_rng([seed, tag])


def corpus(seed: int, n_docs: int) -> list[tuple[int, str, str]]:
    """``[(doc_id, url, text)]`` for ids ``0 .. n_docs-1``."""
    rng = _rng(seed, "corpus")
    lens = rng.integers(30, 201, size=n_docs)
    idx = np.floor(rng.random(int(lens.sum())) ** 3.0 * VOCAB).astype(np.int64)
    words = [_word(int(v)) for v in idx]
    out, pos = [], 0
    for doc_id, n in enumerate(lens):
        out.append(
            (
                doc_id,
                f"https://site{doc_id % 997}.example/p/{doc_id}",
                " ".join(words[pos : pos + int(n)]),
            )
        )
        pos += int(n)
    return out


def head_queries(seed: int, n: int) -> list[str]:
    """``n`` distinct head-heavy three-word queries."""
    rng = _rng(seed, "head")
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        q = " ".join(
            _word(int(v)) for v in np.floor(rng.random(3) ** 2.0 * 2000)
        )
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


def rare_stream(seed: int, n: int) -> list[str]:
    """``n`` distinct two-word rare-tail queries; no word repeats."""
    rng = _rng(seed, "rare")
    if 2 * n > VOCAB - RARE_LO:
        raise ValueError(f"rare stream of {n} queries exceeds the tail vocabulary")
    ids = RARE_LO + rng.permutation(VOCAB - RARE_LO)[: 2 * n]
    return [f"term{ids[2 * i]} term{ids[2 * i + 1]}" for i in range(n)]
