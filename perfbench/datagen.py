"""Seeded inputs for the benchmark workloads.

The same seed always yields the same inputs; the program under test only
ever sees what this module writes.

- ``documents``: a corpus in the fixture's ``documents`` schema
  (doc_id, text, lang, source, n_chars), shaped so every text operator
  has real work: a Zipf vocabulary, planted exact copies and near-copies
  inside one source block (shingle Jaccard, MinHash), and a pool of
  boilerplate passages pasted into a third of the documents (duplicate
  8-gram spans). ``source`` blocks hold about 50 documents, which bounds
  the within-block pair work of the Jaccard oracle.
- ``pipeline_inputs``: the customer ids and target date of a daily sync
  over the ``gads_fixture`` DataSource, which generates its own rows.
"""

from __future__ import annotations

import os
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "fr", "es", "zh", "de")
BLOCK_DOCS = 25


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(2, 10))
        words.add("".join(rng.choice(letters, n)))
    return np.array(sorted(words))


def documents(seed: int, n_docs: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, 3000)
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    weights /= weights.sum()
    boilerplate = [
        list(rng.choice(vocab, int(rng.integers(10, 26)), p=weights))
        for _ in range(24)
    ]
    n_blocks = max(1, n_docs // BLOCK_DOCS)
    texts: list[list[str]] = []
    sources: list[int] = []
    for i in range(n_docs):
        block = i % n_blocks
        roll = rng.random()
        # Copies reach back within the same source block only.
        same_block = range(block, i, n_blocks)
        if roll < 0.03 and len(same_block) > 0:
            words = list(texts[same_block[int(rng.integers(len(same_block)))]])
        elif roll < 0.07 and len(same_block) > 0:
            words = list(texts[same_block[int(rng.integers(len(same_block)))]])
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(len(words)))] = str(rng.choice(vocab, p=weights))
        else:
            words = list(rng.choice(vocab, int(rng.integers(15, 81)), p=weights))
            if rng.random() < 0.33:
                at = int(rng.integers(len(words) + 1))
                words[at:at] = boilerplate[int(rng.integers(len(boilerplate)))]
        texts.append(words)
        sources.append(block)
    text = [" ".join(w) for w in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array([LANGS[int(x)] for x in rng.integers(0, len(LANGS), n_docs)],
                         pa.string()),
        "source": pa.array([f"src{s}" for s in sources], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def write_documents(sf_dir: str, seed: int, n_docs: int) -> str:
    """Write ``documents.parquet`` under ``sf_dir`` once; return the dir."""
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        os.makedirs(sf_dir, exist_ok=True)
        tmp = path + ".tmp"
        pq.write_table(documents(seed, n_docs), tmp)
        os.replace(tmp, path)
    return sf_dir


def pipeline_inputs(seed: int, n_customers: int) -> tuple[list[str], date]:
    """Distinct 10-digit customer ids and a target date in 2024."""
    rng = np.random.default_rng([seed, 2])
    ids: list[str] = []
    while len(ids) < n_customers:
        c = str(int(rng.integers(10**9, 10**10)))
        if c not in ids:
            ids.append(c)
    return ids, date(2024, 1, 10) + timedelta(days=int(rng.integers(0, 340)))
