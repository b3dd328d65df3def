"""Seeded input generator.

Everything the engine sees is made here from the ``--seed`` argument:
the same seed gives byte-identical tables and query batches. The shapes
follow the sf0.1 test tables the engine is tuned on:

- ``documents(doc_id, text, lang, source, n_chars)``: 5000 docs of 10-100
  words drawn uniformly from a 30-word vocabulary; 5 % are near-duplicates
  (another doc's text plus the marker word ``dup``), so near-dup Jaccard
  pairs and clusters exist.
- ``embeddings(vec_id, embedding float[64], label)``: 2000 unit vectors.
  ``doc_id`` and ``vec_id`` share one id space, as in the test tables.
- query batches: 3-8 terms drawn from the corpus vocabulary by corpus
  frequency, ``query_vec_id`` uniform over the embeddings; the query
  multi-vector is the ``QUERY_TOKENS`` embeddings from that id on.
"""

from __future__ import annotations

import collections
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_MARK = "dup"
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20
DIM = 64


def documents(rng: np.random.Generator, n_docs: int, dup_frac: float = 0.05) -> pa.Table:
    lens = rng.integers(10, 101, size=n_docs)
    texts = [" ".join(rng.choice(VOCAB, size=n)) for n in lens]
    n_dup = int(n_docs * dup_frac)
    dup_ids = rng.choice(n_docs, size=n_dup, replace=False)
    is_dup = np.zeros(n_docs, dtype=bool)
    is_dup[dup_ids] = True
    originals = np.flatnonzero(~is_dup)
    for d in dup_ids:
        texts[d] = f"{texts[rng.choice(originals)]} {DUP_MARK}"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, size=n_docs, p=LANG_P).tolist(),
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n_vecs: int) -> tuple[pa.Table, np.ndarray]:
    m = rng.standard_normal((n_vecs, DIM))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(m), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n_vecs), pa.int32()),
        }
    )
    return table, m


def write_table(table: pa.Table, data_dir: Path, name: str) -> None:
    """Write ``<data_dir>/<name>.parquet``, the layout ``load_table`` reads."""
    pq.write_table(table, data_dir / f"{name}.parquet")


class QueryGen:
    """Fresh query batches: query ids never repeat within a run, and
    every batch's (text, vec id) content is asserted unseen, so no plan
    or artifact keyed on the frame can serve a timed batch."""

    def __init__(self, rng: np.random.Generator, texts: list[str], n_vecs: int,
                 query_tokens: int):
        counts = collections.Counter(w for t in texts for w in t.split())
        self.terms = sorted(counts)
        freq = np.array([counts[t] for t in self.terms], dtype=np.float64)
        self.p = freq / freq.sum()
        self.rng = rng
        self.max_vec = n_vecs - query_tokens  # patches need query_tokens ids
        self.next_id = 0
        self.seen: set[int] = set()

    def batch(self, n: int) -> list[tuple[int, str, int]]:
        rows = []
        for _ in range(n):
            k = int(self.rng.integers(3, 9))
            text = " ".join(self.rng.choice(self.terms, size=k, p=self.p))
            rows.append((self.next_id, text, int(self.rng.integers(0, self.max_vec + 1))))
            self.next_id += 1
        key = hash(tuple((t, v) for _, t, v in rows))
        if key in self.seen:
            raise RuntimeError("query batch repeats an earlier batch")
        self.seen.add(key)
        return rows
