"""Seeded input corpus for the benchmark.

The engine's fixtures start from a ``documents`` table
``(doc_id, text, lang, source, n_chars)``. This module generates one with the
same shape and statistics as the sf* testdata's: texts are 10-100
words drawn uniformly from a 30-word vocabulary, about 5% of documents are
near-duplicates (an earlier text plus `` dup``), ``lang`` is 40% ``en`` and
15% each of four others, and ``source`` is ``src<doc_id % 20>``.

The seed picks the texts and offsets every doc_id. The offset is a multiple
of 100 and keeps every doc_id at eight digits, so the per-id mixes the
fixtures key on (hot host ``doc_id % 100``, image container ``doc_id % 4``,
source ``doc_id % 20``) and the length of every url and ``line<doc_id>``
image text are the same for every seed; urls, hosts, crawl dates and noise
seeds change with it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
DUP_SHARE = 0.05
MAX_DOCS = 100_000


def doc_id_base(seed: int) -> int:
    """First doc_id of the corpus for ``seed``: eight digits, a multiple of 100."""
    return 10_000_000 + (seed % 800) * MAX_DOCS


def documents(seed: int, n: int) -> pd.DataFrame:
    if not 0 < n <= MAX_DOCS:
        raise ValueError(f"corpus size must be in 1..{MAX_DOCS}, got {n}")
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, size=n)
    picks = rng.integers(0, len(WORDS), size=int(lengths.sum()))
    dup = rng.random(n) < DUP_SHARE
    dup_of = rng.integers(0, np.maximum(np.arange(n), 1))
    texts: list[str] = []
    at = 0
    for i, k in enumerate(lengths):
        if dup[i] and i > 0:
            texts.append(texts[dup_of[i]] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in picks[at : at + k]))
        at += k
    ids = doc_id_base(seed) + np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{d % 20}" for d in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
