"""Seeded ``documents`` sf-dir for the guard/curation workload.

Writes ``<sf_dir>/documents.parquet`` with the test fixture's schema
(doc_id, text, lang, source, n_chars). Words come from the fixture's
31-word vocabulary; about 10% of the documents are near-duplicate copies
of an earlier document (its text plus " dup", as in the fixture, or with
one word replaced). Every ``doc_id`` is below 1,000,000 because the guard
and curation pipelines offset their mutated copies by 1,000,000.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the vocabulary of the fixture's documents table
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
N_SOURCES = 20
MAX_DOC_ID = 1_000_000


def documents(seed: int, n_docs: int, dup_frac: float = 0.10) -> pa.Table:
    """The documents table for ``seed`` (pure function of its arguments)."""
    if not 0 < n_docs < MAX_DOC_ID:
        raise ValueError(f"n_docs must be in (0, {MAX_DOC_ID}), got {n_docs}")
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, size=n_docs)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    vocab = np.array(VOCAB, dtype=object)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(vocab[words[bounds[i]:bounds[i + 1]]]) for i in range(n_docs)]

    # near-duplicates: doc i copies an earlier doc j < i
    is_dup = rng.random(n_docs) < dup_frac
    is_dup[0] = False
    src = (rng.random(n_docs) * np.arange(n_docs)).astype(np.int64)
    mode = rng.integers(0, 2, size=n_docs)
    pos = rng.random(n_docs)
    repl = rng.integers(0, len(VOCAB), size=n_docs)
    for i in np.flatnonzero(is_dup):
        base = texts[src[i]]
        if mode[i] == 0:
            texts[i] = base + " dup"
        else:
            toks = base.split(" ")
            toks[int(pos[i] * len(toks))] = VOCAB[repl[i]]
            texts[i] = " ".join(toks)

    lang = np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), size=n_docs)]
    source = np.array([f"src{k}" for k in range(N_SOURCES)], dtype=object)[
        np.arange(n_docs) % N_SOURCES]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array(source.tolist(), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(sf_dir: str, seed: int, n_docs: int) -> tuple[int, int]:
    """Write the sf-dir; returns (rows, bytes)."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    table = documents(seed, n_docs)
    pq.write_table(table, path)
    return table.num_rows, os.path.getsize(path)
