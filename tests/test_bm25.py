"""BM25 (A3) against an independent hand computation on a 5-doc corpus
— the SURVEY §5 unit strategy. The expected values are produced by a
plain-Python loop implementing Lucene BM25 (k1=1.5, b=0.75,
idf = ln(1 + (N - df + .5)/(df + .5))) — deliberately NOT the DataFrame
code under test."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from rag_database_spark.functions.text import STOPWORDS
from rag_database_spark.operators import bm25 as bm25_ops

DOCS = [
    (0, "fast hash join beats sort merge join"),
    (1, "sort merge join wins on presorted data"),
    (2, "hash table build side must fit memory"),
    (3, "columnar scan with filter pushdown"),
    (4, "the the the of of and"),  # stopwords only → empty doc
]
QUERIES = [(10, "hash join"), (11, "sort data scan")]

K1, B = 1.5, 0.75


def _tokenize(text):
    out = []
    for t in text.lower().split():
        t = "".join(c for c in t if c.isalnum() or c == "_")
        if len(t) >= 2 and t not in STOPWORDS:
            out.append(t)
    return out


def _expected_scores(queries=QUERIES):
    """Rows sharing a query_id score as one query over all their
    tokens, each repeated token counting again (qtf)."""
    corpus = {d: _tokenize(t) for d, t in DOCS}
    n = len(corpus)
    avgdl = sum(len(v) for v in corpus.values()) / n
    df = {}
    for toks in corpus.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    qtoks = {}
    for qid, qtext in queries:
        qtoks.setdefault(qid, []).extend(_tokenize(qtext))
    exp = {}
    for qid, toks_q in qtoks.items():
        for doc_id, toks in corpus.items():
            s = 0.0
            for qt in toks_q:
                tf = toks.count(qt)
                if tf == 0:
                    continue
                idf = math.log(1 + (n - df[qt] + 0.5) / (df[qt] + 0.5))
                dl = len(toks)
                s += idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))
            if s > 0:
                exp[(qid, doc_id)] = s
    return exp


@pytest.fixture(scope="module")
def scored(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    queries = spark.createDataFrame(QUERIES, "query_id long, query_text string")
    postings = bm25_ops.build_postings(docs)
    doclens = bm25_ops.build_doclens(docs)
    rows = bm25_ops.score_queries(queries, postings, doclens).collect()
    return {(r["query_id"], r["doc_id"]): r["score"] for r in rows}


def test_bm25_matches_hand_computation(scored):
    exp = _expected_scores()
    assert set(scored) == set(exp)
    for key, val in exp.items():
        assert scored[key] == pytest.approx(val, rel=1e-12), key


EDGE_QUERIES = [
    (20, "hash hash join"),  # repeated term: qtf 2
    (21, "sort data"),  # two rows with one query_id add up
    (21, "data scan"),
    (22, "the of and"),  # stopwords only: no terms, no rows
    (23, "zzzunseen hash"),  # a term absent from postings
]


def test_bm25_edge_queries_match_hand_computation(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    queries = spark.createDataFrame(
        EDGE_QUERIES, "query_id long, query_text string"
    )
    rows = bm25_ops.score_queries(
        queries, bm25_ops.build_postings(docs), bm25_ops.build_doclens(docs)
    ).collect()
    got = {(r["query_id"], r["doc_id"]): r["score"] for r in rows}
    assert len(got) == len(rows)
    exp = _expected_scores(EDGE_QUERIES)
    assert set(got) == set(exp)
    assert not any(q == 22 for q, _ in got)
    for key, val in exp.items():
        assert got[key] == pytest.approx(val, rel=1e-12), key


def test_bm25_empty_batch(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    queries = spark.createDataFrame([], "query_id long, query_text string")
    scored = bm25_ops.score_queries(
        queries, bm25_ops.build_postings(docs), bm25_ops.build_doclens(docs)
    )
    assert scored.columns == ["query_id", "doc_id", "score"]
    assert scored.collect() == []


def test_empty_doc_counts_toward_stats(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    doclens = bm25_ops.build_doclens(docs)
    stats = bm25_ops.corpus_stats(doclens).first()
    assert stats["n_docs"] == 5
    # doc 4 tokenizes to nothing but still contributes dl=0 to avgdl
    assert stats["avgdl"] == pytest.approx(
        sum(len(_tokenize(t)) for _, t in DOCS) / 5
    )


def test_topk_tie_break_is_id_ascending(spark):
    scored = spark.createDataFrame(
        [(1, 7, 2.0), (1, 3, 2.0), (1, 5, 9.0)],
        "query_id long, doc_id long, score double",
    )
    rows = bm25_ops.topk(scored, 2).orderBy("rank").collect()
    assert [(r["doc_id"], r["rank"]) for r in rows] == [(5, 1), (3, 2)]


def test_append_index_equals_full_rebuild(spark, tmp_path):
    """Incremental append of the delta's postings/doclens must yield
    the identical index (and identical query scores) as a rebuild."""
    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    part1 = corpus.filter(F.col("doc_id") % 3 != 0)
    part2 = corpus.filter(F.col("doc_id") % 3 == 0)

    inc, full = tmp_path / "inc", tmp_path / "full"
    bm25_ops.write_index(part1, str(inc))
    bm25_ops.append_index(part2, str(inc))
    bm25_ops.write_index(corpus, str(full))

    from rag_database_spark.workload import queries_df

    for path in (inc, full):
        postings, doclens = bm25_ops.read_index(spark, str(path))
        scored = bm25_ops.score_queries(queries_df(spark), postings, doclens)
        yield_rows = sorted(
            (r["query_id"], r["doc_id"], round(r["score"], 9))
            for r in scored.collect()
        )
        if path is inc:
            inc_rows = yield_rows
    assert inc_rows == yield_rows and inc_rows
