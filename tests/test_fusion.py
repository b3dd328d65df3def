"""Rank fusion (A1/J1) hand-case with the reference constants
(hybrid_search.py: k=60, weights bm25 .3 / dense .5 / colpali .2), plus
J2/J3 page-score propagation and J4 priority merge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_database_spark.operators.fusion import (
    DEFAULT_WEIGHTS,
    RRF_K,
    priority_merge,
    propagate_page_scores,
    rank_per_method,
    rrf_fuse,
)


def test_reference_constants():
    assert RRF_K == 60
    assert DEFAULT_WEIGHTS == {"bm25": 0.3, "dense": 0.5, "colpali": 0.2}


def test_rrf_hand_case(spark):
    # doc A: bm25 rank 1, dense rank 2; doc B: dense rank 1 only
    ranked = spark.createDataFrame(
        [(1, "A", "bm25", 1), (1, "A", "dense", 2), (1, "B", "dense", 1)],
        "query_id long, id string, method string, rank long",
    )
    got = {r["id"]: r["rrf_score"] for r in rrf_fuse(ranked).collect()}
    assert got["A"] == pytest.approx(0.3 / 61 + 0.5 / 62)
    assert got["B"] == pytest.approx(0.5 / 61)


def test_rrf_limit_and_tie_break(spark):
    # identical contributions → tie broken by id ascending
    ranked = spark.createDataFrame(
        [(1, "Z", "dense", 1), (1, "A", "dense", 1)],
        "query_id long, id string, method string, rank long",
    )
    rows = rrf_fuse(ranked, limit=1).collect()
    assert len(rows) == 1 and rows[0]["id"] == "A"


def test_rank_per_method(spark):
    scored = spark.createDataFrame(
        [(1, "bm25", "A", 3.0), (1, "bm25", "B", 5.0), (1, "dense", "A", 1.0)],
        "query_id long, method string, id string, score double",
    )
    got = {
        (r["method"], r["id"]): r["rank"]
        for r in rank_per_method(scored).collect()
    }
    assert got == {("bm25", "B"): 1, ("bm25", "A"): 2, ("dense", "A"): 1}


def test_propagation_page_match_and_doc_fallback(spark):
    chunks = spark.createDataFrame(
        [("c1", "d1", 1), ("c2", "d1", 9), ("c3", "d2", 1)],
        "chunk_id string, document_id string, page_number int",
    )
    pages = spark.createDataFrame(
        [("d1", 1, 0.9), ("d1", 2, 0.4)],
        "document_id string, page_number int, score double",
    )
    got = {
        r["chunk_id"]: r["propagated_score"]
        for r in propagate_page_scores(chunks, pages).collect()
    }
    assert got["c1"] == pytest.approx(0.9)  # J2: exact page match
    assert got["c2"] == pytest.approx(0.9 * 0.8)  # J3: doc max × 0.8
    assert got["c3"] is None  # document absent from page results


def test_priority_merge_first_seen_wins(spark):
    prio = spark.createDataFrame(
        [(1, "A", 10.0)], "query_id long, id string, score double"
    )
    base = spark.createDataFrame(
        [(1, "A", 1.0), (1, "B", 2.0)], "query_id long, id string, score double"
    )
    got = {r["id"]: r["score"] for r in priority_merge(prio, base).collect()}
    assert got == {"A": 10.0, "B": 2.0}


def test_hybrid_absent_leg_contributes_zero(spark):
    """A query whose BM25 leg matches nothing still fuses: missing
    methods contribute 0 (the reference's defaultdict semantics)."""
    from rag_database_spark.operators.hybrid import hybrid_search

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(1, "zzzz qqqq missing terms", 3)],  # zero BM25 matches
        "query_id long, query_text string, query_vec_id long",
    )
    rows = hybrid_search(queries, docs, emb, limit=5).collect()
    assert rows  # dense leg alone produces results
    assert all(r["bm25_rank"] is None for r in rows)
    assert all(r["dense_rank"] is not None for r in rows)
    # rrf score equals the dense-only contribution
    first = min(rows, key=lambda r: r["rank"])
    assert first["rrf_score"] == pytest.approx(
        round(0.5 / (60 + first["dense_rank"]), 6)
    )


def test_hybrid3_missing_dense_and_colpali_inputs_contribute_zero(spark):
    """One query names a vec_id with no embedding row, another has no
    query-patch row: each still fuses, its missing leg contributes 0 and
    its dense ranks follow a NumPy cosine ranking of the corpus."""
    import numpy as np

    from rag_database_spark.operators.hybrid import hybrid_search3
    from rag_database_spark.workload import _collect_patches

    rng = np.random.default_rng(4)
    n, page_group, doc_pages = 32, 4, 2
    vecs = rng.normal(size=(n, 3)).round(3)
    words = ["alpha", "beta", "gamma", "delta"]
    docs = spark.createDataFrame(
        [(i, f"{words[i % 4]} {words[(i // 4) % 4]} text") for i in range(n)],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    pages = _collect_patches(
        emb.withColumn("page_id", (F.col("vec_id") / page_group).cast("long")),
        "page_id",
    )
    chunk_pages = emb.select(
        F.col("vec_id").alias("id"),
        (F.col("vec_id") / (page_group * doc_pages)).cast("long").alias(
            "document_id"
        ),
        (F.col("vec_id") / page_group).cast("long").alias("page_number"),
    )
    queries = spark.createDataFrame(
        [(1, "alpha beta", 999), (2, "gamma delta", 5)],
        "query_id long, query_text string, query_vec_id long",
    )
    qpatches = spark.createDataFrame(
        [(1, vecs[:2].tolist())], "query_id long, patches array<array<double>>"
    )
    rows = hybrid_search3(
        queries, docs, emb, qpatches, pages, chunk_pages, doc_pages, limit=5
    ).collect()
    by_q = {q: [r for r in rows if r["query_id"] == q] for q in (1, 2)}
    assert by_q[1] and by_q[2]
    assert all(r["dense_rank"] is None for r in by_q[1])
    assert any(r["colpali_rank"] is not None for r in by_q[1])
    assert all(r["colpali_rank"] is None for r in by_q[2])
    assert any(r["dense_rank"] is not None for r in by_q[2])
    weights = {"bm25": 0.3, "dense": 0.5, "colpali": 0.2}
    for r in rows:
        present = sum(
            w / (60 + r[f"{m}_rank"])
            for m, w in weights.items()
            if r[f"{m}_rank"] is not None
        )
        assert r["rrf_score"] == pytest.approx(round(present, 6), abs=1e-9)
    # dense ranks of query 2: NumPy cosine against its query vector
    f32 = vecs.astype(np.float32).astype(np.float64)
    unit = f32 / np.linalg.norm(f32, axis=1, keepdims=True)
    cos = unit @ unit[5]
    order = sorted(range(n), key=lambda i: (-cos[i], i))
    for r in by_q[2]:
        if r["dense_rank"] is not None:
            assert order.index(r["id"]) + 1 == r["dense_rank"]
