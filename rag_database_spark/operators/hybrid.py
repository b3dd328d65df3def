"""Q1 — hybrid search, the flagship composite
(reference: HybridSearcher.search, src/retrieval/hybrid_search.py:219-430).

Pipeline (SURVEY §3.1 Spark re-expression):

    query side : resolved once on the driver at build time
    BM25 leg   : postings ⋈ driver-built (term → query_id, qtf) map → score → rank (W1)
    dense leg  : embeddings → exact cosine top-k against the resolved query matrix (J11) → rank
    ColPali leg: pages → fused prefetch + MaxSim rescore → page→chunk propagation → rank
    fusion     : union(legs) → weighted RRF k=60 (A1) → top-k (T2)

The query side of a batch is tiny, so ``resolve_query_side`` collects it
once and every leg reads the result: the tokenized terms with their
per-(query, term) qtf, the dense query vectors (the embedding rows named
by ``query_vec_id``) and the query patches. No retrieval leg scans,
shuffles or broadcasts a query frame at execution time; the legs scan
only the corpus-side tables.

Per-method over-fetch is 3 × limit before fusion (hybrid_search.py:256);
default weights bm25 .3 / dense .5 (colpali .2 when a multi-vector leg is
present; absent legs contribute 0 — hybrid_search.py:185-189).

Output columns (aliased identically in the DuckDB oracle):
    query_id, id, rrf_score (rounded 6), bm25_rank, dense_rank, rank
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from rag_database_spark.functions.literal import isin
from rag_database_spark.functions.text import tokenize
from rag_database_spark.functions.vector import to_double_array
from rag_database_spark.operators import bm25 as bm25_ops
from rag_database_spark.operators import similarity
from rag_database_spark.operators.fusion import (
    DEFAULT_WEIGHTS,
    FETCH_MULTIPLIER,
    RRF_K,
    propagate_page_scores_batch,
)


@dataclass(frozen=True)
class QuerySide:
    """One query batch, resolved on the driver."""

    qtf: dict[str, dict]  # term → {query_id: qtf} (bm25.qtf_by_term)
    query_id_type: DataType
    dense_ids: list  # query_id of each row of ``dense``
    dense: np.ndarray  # dense query vectors, float64
    patches: list[tuple]  # [(query_id, patch matrix)]


def resolve_query_side(
    queries: DataFrame,
    embeddings: DataFrame,
    query_patches: DataFrame | None = None,
) -> QuerySide:
    """Collect a batch's query side: one collect of the tokenized
    queries, one collect of the embedding rows they name (the filter
    reaches the scan), and one of the query patches when given. A query
    whose ``query_vec_id`` has no embedding row, or that has no patch
    row, simply has no input to that leg, which then contributes 0."""
    rows = queries.select(
        "query_id",
        tokenize(F.col("query_text")).alias("terms"),
        "query_vec_id",
    ).collect()
    vec_ids = sorted(
        {r["query_vec_id"] for r in rows if r["query_vec_id"] is not None}
    )
    vecs: dict = {}
    if vec_ids:
        for r in (
            embeddings.filter(isin("vec_id", vec_ids))
            .select("vec_id", to_double_array(F.col("embedding")).alias("v"))
            .collect()
        ):
            vecs.setdefault(r["vec_id"], []).append(r["v"])
    dense = [
        (r["query_id"], v) for r in rows for v in vecs.get(r["query_vec_id"], ())
    ]
    return QuerySide(
        qtf=bm25_ops.qtf_by_term((r["query_id"], r["terms"]) for r in rows),
        query_id_type=queries.schema["query_id"].dataType,
        dense_ids=[qid for qid, _ in dense],
        dense=np.array([v for _, v in dense], dtype=np.float64),
        patches=(
            similarity.query_patch_list(query_patches)
            if query_patches is not None
            else []
        ),
    )


def _leg(ranked: DataFrame, id_col: str, method: str) -> DataFrame:
    return ranked.select(
        "query_id",
        F.col(id_col).alias("id"),
        F.lit(method).alias("method"),
        F.col("rank").cast("long").alias("rank"),
    )


def _bm25_leg(
    side: QuerySide,
    documents: DataFrame,
    postings: DataFrame | None,
    doclens: DataFrame | None,
    fetch: int,
) -> DataFrame:
    scored = bm25_ops.score_terms(
        side.qtf,
        postings if postings is not None else bm25_ops.build_postings(documents),
        doclens if doclens is not None else bm25_ops.build_doclens(documents),
        side.query_id_type,
    )
    return _leg(bm25_ops.topk(scored, fetch), "doc_id", "bm25")


def _dense_leg(side: QuerySide, embeddings: DataFrame, fetch: int) -> DataFrame:
    return _leg(
        similarity.cosine_topk_blocked(
            side.dense_ids, side.dense, embeddings, fetch,
            id_col="vec_id", vec_col="embedding",
        ),
        "id",
        "dense",
    )


def _top(fused: DataFrame, limit: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("id"))
    return fused.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= limit)


def _fuse_static(
    legs: DataFrame,
    weights: dict[str, float],
    rrf_k: int,
    limit: int,
    methods: tuple[str, ...],
) -> DataFrame:
    """Weighted RRF with one weight per method, plus a ``<method>_rank``
    column per leg (null where the leg did not return the id)."""
    wexpr = F.lit(None).cast("double")
    for m, wt in weights.items():
        wexpr = F.when(F.col("method") == m, F.lit(float(wt))).otherwise(wexpr)
    fused = legs.groupBy("query_id", "id").agg(
        F.round(
            F.sum(wexpr / (F.lit(float(rrf_k)) + F.col("rank"))), 6
        ).alias("rrf_score"),
        *[
            F.max(F.when(F.col("method") == m, F.col("rank"))).alias(f"{m}_rank")
            for m in methods
        ],
    )
    return _top(fused, limit)


def hybrid_search(
    queries: DataFrame,
    documents: DataFrame,
    embeddings: DataFrame,
    limit: int = 10,
    weights: dict[str, float] | None = None,
    rrf_k: int = RRF_K,
    postings: DataFrame | None = None,
    doclens: DataFrame | None = None,
) -> DataFrame:
    """queries(query_id, query_text, query_vec_id) — the dense query
    vector is the ``embeddings`` row with vec_id = query_vec_id, looked
    up on the driver by ``resolve_query_side`` (at serving scale this
    would be an embedder Pandas UDF, M1/M2).

    Pass a persisted index (``bm25.read_index``) via postings/doclens
    so the corpus is not re-tokenized per query batch (S7)."""
    weights = weights or DEFAULT_WEIGHTS
    fetch = FETCH_MULTIPLIER * limit
    side = resolve_query_side(queries, embeddings)
    legs = _bm25_leg(side, documents, postings, doclens, fetch).unionByName(
        _dense_leg(side, embeddings, fetch)
    )
    return _fuse_static(legs, weights, rrf_k, limit, ("bm25", "dense"))


def _colpali_ranked(
    pages_scored: DataFrame, chunk_pages: DataFrame, fetch: int, doc_pages: int
) -> DataFrame:
    """Page MaxSim scores → top-fetch pages → chunks (page match, else
    doc-max × 0.8) → re-rank. The page top-k window partitions by
    query_id like the prefetch window inside the MaxSim plan, so it adds
    no exchange; ``propagate_page_scores_batch`` reads the page list
    once."""
    page_topk = bm25_ops.topk(
        pages_scored, fetch, id_col="page_id"
    ).select(
        "query_id",
        F.floor(F.col("page_id") / doc_pages).cast("long").alias("document_id"),
        F.col("page_id").alias("page_number"),
        "score",
    )
    prop = propagate_page_scores_batch(chunk_pages, page_topk)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("propagated_score"), F.asc("id")
    )
    return (
        prop.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= fetch)
        .select("query_id", "id", F.lit("colpali").alias("method"), "rank")
    )


def colpali_leg(
    query_patches: DataFrame,
    page_patches: DataFrame,
    chunk_pages: DataFrame,
    fetch: int,
    doc_pages: int,
) -> DataFrame:
    """The multi-vector leg (J12 + J2/J3 + W2,
    hybrid_search.py:307-394): MaxSim page scores → top-fetch pages →
    propagate to chunks (page match, else doc-max × 0.8) → re-rank.

    ``chunk_pages``: (id, document_id, page_number). Returns
    (query_id, id, method='colpali', rank)."""
    return _colpali_ranked(
        similarity.maxsim_scores_pruned(query_patches, page_patches, fetch),
        chunk_pages,
        fetch,
        doc_pages,
    )


def _three_legs(
    side: QuerySide,
    documents: DataFrame,
    embeddings: DataFrame,
    page_patches: DataFrame,
    chunk_pages: DataFrame,
    doc_pages: int,
    fetch: int,
    postings: DataFrame | None,
    doclens: DataFrame | None,
) -> DataFrame:
    colpali = _colpali_ranked(
        similarity.maxsim_prefetch_rescore(side.patches, page_patches, fetch),
        chunk_pages,
        fetch,
        doc_pages,
    )
    return (
        _bm25_leg(side, documents, postings, doclens, fetch)
        .unionByName(_dense_leg(side, embeddings, fetch))
        .unionByName(colpali)
    )


def hybrid_search3(
    queries: DataFrame,
    documents: DataFrame,
    embeddings: DataFrame,
    query_patches: DataFrame,
    page_patches: DataFrame,
    chunk_pages: DataFrame,
    doc_pages: int,
    limit: int = 10,
    weights: dict[str, float] | None = None,
    rrf_k: int = RRF_K,
    postings: DataFrame | None = None,
    doclens: DataFrame | None = None,
) -> DataFrame:
    """Q1 with all three legs (bm25 .3 / dense .5 / colpali .2 —
    hybrid_search.py:185-189). Ids unify across legs (the driver's
    doc_id and vec_id are aligned). Output adds colpali_rank."""
    weights = weights or DEFAULT_WEIGHTS
    fetch = FETCH_MULTIPLIER * limit
    side = resolve_query_side(queries, embeddings, query_patches)
    legs = _three_legs(
        side, documents, embeddings, page_patches, chunk_pages, doc_pages,
        fetch, postings, doclens,
    )
    return _fuse_static(
        legs, weights, rrf_k, limit, ("bm25", "dense", "colpali")
    )


def hybrid_search3_adaptive(
    queries: DataFrame,
    documents: DataFrame,
    embeddings: DataFrame,
    query_patches: DataFrame,
    page_patches: DataFrame,
    chunk_pages: DataFrame,
    doc_pages: int,
    limit: int = 10,
    rrf_k: int = RRF_K,
    postings: DataFrame | None = None,
    doclens: DataFrame | None = None,
) -> DataFrame:
    """Q1 with F8 modality-adaptive weights
    (hybrid_search.py:191-217 + query_analyzer.py:123-186): each query
    carries its own (bm25, dense, colpali) weights — visual queries
    boost the colpali leg, text queries the dense leg — instead of the
    static .3/.5/.2. The per-query weight frame is tiny → broadcast
    into the fusion; everything else matches ``hybrid_search3``."""
    from rag_database_spark.operators.query_analysis import suggested_weights

    fetch = FETCH_MULTIPLIER * limit
    side = resolve_query_side(queries, embeddings, query_patches)
    # The F8 signal expression bank is a very large tree (keyword-count
    # chains); materializing the tiny per-query weight frame keeps it
    # out of the fusion plan that AQE re-optimizes at every stage
    # boundary. Recomputed per invocation.
    qw = queries.select(
        "query_id", suggested_weights(F.col("query_text")).alias("w")
    ).localCheckpoint()
    legs = _three_legs(
        side, documents, embeddings, page_patches, chunk_pages, doc_pages,
        fetch, postings, doclens,
    ).join(F.broadcast(qw), "query_id")
    weight = (
        F.when(F.col("method") == "bm25", F.col("w.w_bm25"))
        .when(F.col("method") == "dense", F.col("w.w_dense"))
        .otherwise(F.col("w.w_colpali"))
    )
    fused = legs.groupBy("query_id", "id").agg(
        F.round(
            F.sum(weight / (F.lit(float(rrf_k)) + F.col("rank"))), 6
        ).alias("rrf_score"),
    )
    return _top(fused, limit)
