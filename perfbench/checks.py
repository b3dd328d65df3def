"""Output checks, recomputed outside Spark.

Query ops: every query of the batch has 1..limit rows, ranks 1..n, and
``rrf_score`` non-increasing down the ranks with ties in id order; each
row's ``rrf_score`` is the weighted RRF of its own leg ranks. For sampled
queries the legs are recomputed independently (BM25 in pure Python, dense
cosine in NumPy) or taken from the legs run alone, and the fused top-k is
checked against them.

Float sums may differ in the last bits between engines (and between two
Spark runs, as aggregation order varies), so exact ties can come out in
either order. Rank checks therefore accept any rank inside an id's tie
group: ``lo..hi`` over scores within a relative 1e-9.

Ingest passes: the postings ``tf`` sum equals the token count, every doc
has exactly one cluster label, and ``cluster_id`` is the component
minimum from a union-find over the written pair set.
"""

from __future__ import annotations

import collections
import math

import numpy as np

INF = math.inf


def make_tokenizer(stopwords, min_len: int):
    """The engine's BM25 tokenizer on generated text (lowercase words,
    single spaces): whitespace split minus stopwords and short tokens."""
    stop = frozenset(stopwords)
    return lambda text: [t for t in text.split() if len(t) >= min_len and t not in stop]


class Bm25Ref:
    """Pure-Python BM25, Lucene idf ``ln(1 + (N - df + .5)/(df + .5))``."""

    def __init__(self, texts: list[str], tokenize, k1: float, b: float):
        self.tokenize, self.k1, self.b = tokenize, k1, b
        self.postings: dict[str, list[tuple[int, int]]] = collections.defaultdict(list)
        self.dl = []
        for doc_id, text in enumerate(texts):
            toks = tokenize(text)
            self.dl.append(len(toks))
            for term, tf in collections.Counter(toks).items():
                self.postings[term].append((doc_id, tf))
        self.n = len(texts)
        self.avgdl = sum(self.dl) / self.n

    def scores(self, query: str) -> dict[int, float]:
        out: dict[int, float] = collections.defaultdict(float)
        k1, b = self.k1, self.b
        for term, qtf in collections.Counter(self.tokenize(query)).items():
            plist = self.postings.get(term, ())
            df = len(plist)
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            for doc_id, tf in plist:
                norm = tf + k1 * (1 - b + b * self.dl[doc_id] / self.avgdl)
                out[doc_id] += qtf * idf * (tf * (k1 + 1)) / norm
        return out


def dense_scores(unit: np.ndarray, vec_id: int) -> dict[int, float]:
    """Cosine of embedding ``vec_id`` against every embedding (float64)."""
    s = unit @ unit[vec_id]
    return dict(enumerate(s.tolist()))


def rank_bounds(scores: dict[int, float], fetch: int, truncated: bool) -> dict[int, tuple[int, float]]:
    """id -> (lo, hi): the ranks the id may take under (score DESC, id
    ASC) when scores within 1e-9 (relative) count as tied. ``truncated``:
    ``scores`` is only a top-``fetch`` list, so a tie group reaching its
    last score may extend past it (hi = inf)."""
    asc = np.sort(np.fromiter(scores.values(), dtype=np.float64))
    n = len(asc)
    out = {}
    for i, s in scores.items():
        eps = 1e-9 * max(1.0, abs(s))
        lo = 1 + n - int(np.searchsorted(asc, s + eps, "right"))
        hi: float = n - int(np.searchsorted(asc, s - eps, "left"))
        if truncated and n >= fetch and s - eps <= asc[0]:
            hi = INF
        out[i] = (lo, hi)
    return out


class QueryChecker:
    def __init__(self, limit: int, fetch: int, weights: dict[str, float], rrf_k: int):
        self.limit, self.fetch, self.weights, self.rrf_k = limit, fetch, weights, rrf_k

    def structure(self, rows_by_q: dict[int, list], query_ids) -> list[str]:
        errs = []
        for qid in query_ids:
            rows = rows_by_q.get(qid, [])
            if not 1 <= len(rows) <= self.limit:
                errs.append(f"q{qid}: {len(rows)} rows, limit {self.limit}")
                continue
            if [r["rank"] for r in rows] != list(range(1, len(rows) + 1)):
                errs.append(f"q{qid}: ranks not contiguous from 1")
            for a, b in zip(rows, rows[1:]):
                if b["rrf_score"] > a["rrf_score"] or (
                    b["rrf_score"] == a["rrf_score"] and b["id"] < a["id"]
                ):
                    errs.append(f"q{qid}: rrf_score order broken at rank {b['rank']}")
            for r in rows:
                want = round(sum(
                    w / (self.rrf_k + r[f"{leg}_rank"])
                    for leg, w in self.weights.items() if r[f"{leg}_rank"] is not None
                ), 6)
                if abs(want - r["rrf_score"]) > 1.5e-6:
                    errs.append(f"q{qid}: id {r['id']} rrf_score {r['rrf_score']} != {want}")
        return errs

    def against_legs(self, qid: int, rows: list, bounds: dict[str, dict]) -> list[str]:
        """``rows``: the fused output of one query; ``bounds``: per leg,
        the rank bounds of a reference for that leg (legs not given are
        unchecked and add nothing to the lower bounds)."""
        errs = []
        for r in rows:
            for leg, b in bounds.items():
                rank = r[f"{leg}_rank"]
                lo, hi = b.get(r["id"], (None, None))
                if rank is None:
                    if lo is not None and hi <= self.fetch:
                        errs.append(f"q{qid}: id {r['id']} missing {leg} rank (expected {lo}..{hi})")
                elif lo is None:
                    boundary = max((lo for lo, hi in b.values() if hi == INF), default=None)
                    if boundary is None or rank < boundary:
                        errs.append(f"q{qid}: id {r['id']} has {leg} rank {rank}, not in the leg")
                elif not lo <= rank <= hi:
                    errs.append(f"q{qid}: id {r['id']} {leg} rank {rank} not in {lo}..{hi}")
        # no id left out may be certain to beat the last id kept
        kept = {r["id"] for r in rows}
        floor = rows[-1]["rrf_score"] if len(rows) == self.limit else 0.0
        lower: dict[int, float] = collections.defaultdict(float)
        for leg, b in bounds.items():
            for i, (lo, hi) in b.items():
                if hi <= self.fetch:
                    lower[i] += self.weights[leg] / (self.rrf_k + hi)
        for i, lb in lower.items():
            if i not in kept and lb > floor + 2e-6:
                errs.append(f"q{qid}: id {i} left out with rrf >= {lb:.6f} > {floor}")
        return errs


def union_find_labels(doc_ids, pairs) -> dict[int, int]:
    parent = {d: d for d in doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in doc_ids}


def ingest(doc_ids: list[int], token_count: int, tf_sum: int,
           labels: list[tuple[int, int]], pairs: list[tuple[int, int]]) -> list[str]:
    errs = []
    if tf_sum != token_count:
        errs.append(f"postings tf sum {tf_sum} != token count {token_count}")
    got = collections.Counter(d for d, _ in labels)
    if set(got) != set(doc_ids) or any(n != 1 for n in got.values()):
        errs.append("cluster labels: not exactly one per document")
    else:
        want = union_find_labels(doc_ids, pairs)
        bad = [d for d, c in labels if want[d] != c]
        if bad:
            errs.append(f"{len(bad)} docs whose cluster_id is not the component minimum")
    return errs
