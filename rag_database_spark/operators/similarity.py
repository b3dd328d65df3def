"""Batch vector similarity — the engine's exact replacement for the
reference's Qdrant ANN leg (operator J11, src/storage/vector_store.py:230-273).

The reference answers one query at a time through HNSW (approximate).
The batch engine answers a *set* of queries exactly:

    queries(query_id, qvec)  ×  corpus(id, vec)   →   top-k per query

Physical strategy (scale story):
- the query side is small → resolve it on the driver and ``broadcast``
  it; the corpus never moves.
  The "join" is then an embarrassingly parallel map over corpus
  partitions — no shuffle until the per-query top-k rollup, which is
  bounded by |queries| × |corpus_partition| candidates after the
  partial top-k below.
- default path (`cosine_topk_blocked`): one numpy GEMM (Q @ V.T) per
  Arrow batch via mapInPandas with a map-side partial top-k, so the
  shuffle carries O(k × batches) rows per query — never the corpus.
- JVM path (`impl='jvm'`): zip_with/aggregate column exprs inside
  codegen; right for tiny corpora where the Python worker round-trip
  costs more than the one window exchange it avoids.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rag_database_spark.functions.vector import (
    cosine,
    dot,
    l2_norm,
    let as vec_let,
    to_double_array,
)


# Decimal places used to quantize PREFETCH scores before ranking.
# Candidate membership at a top-k boundary must not depend on which
# engine computed the pooled cosine (NumPy fold-sum + GEMM vs DuckDB
# avg() + list_dot_product differ in the last few ulps); 12 dp is far
# below any real score gap and far above double noise. The quantizers
# involved use different half-tie modes (np.round half-even, F.round
# HALF_UP in ``cosine_topk(impl='jvm')``, DuckDB half-away) — a value
# landing EXACTLY on a half-tie at the 12th decimal is assumed
# unreachable for real cosines, so the modes never disagree in practice.
PREFETCH_ROUND_DP = 12


def _ranked(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "id",
    vec_col: str = "vec",
    assume_normalized: bool = False,
    impl: str = "gemm",
    round_dp: int | None = None,
) -> DataFrame:
    """Exact top-k cosine per query → (query_id, id, score, rank).

    Default ``impl='gemm'`` is the scale path: map-side numpy GEMM with a
    per-batch partial top-k, so only O(k × batches) rows per query ever
    shuffle (``cosine_topk_blocked``). ``impl='jvm'`` keeps scoring inside
    whole-stage codegen — right for tiny corpora where a Python worker
    round-trip costs more than the single window exchange it saves.

    ``assume_normalized=True`` skips norm division (the reference
    normalizes embeddings at encode time, dense_embedder.py:59-65, so
    cosine reduces to dot).

    ``round_dp`` quantizes scores to that many decimals BEFORE ranking
    (and in the returned ``score``) so boundary ordering is
    engine-independent — used by prefetch stages whose candidate SET is
    compared across engines (see ``PREFETCH_ROUND_DP``).
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        to_double_array(F.col(query_vec_col)).alias("qvec"),
    )
    if impl == "gemm":
        rows = q.collect()
        return cosine_topk_blocked(
            [r["query_id"] for r in rows],
            np.array([r["qvec"] for r in rows], dtype=np.float64),
            corpus, k, id_col, vec_col, round_dp=round_dp,
        )
    # per-row norms in the projections: the inline cosine() would
    # re-fold BOTH norms per (query, doc) pair — 3 interpreted O(d)
    # aggregates per pair → 1 dot per pair plus one norm per row. Same
    # sub-expressions, same multiply order (‖q‖·‖c‖), same
    # zero-denominator guard — bit-identical to cosine(qvec, vec).
    c = corpus.select(
        F.col(id_col).alias("id"), to_double_array(F.col(vec_col)).alias("vec")
    )
    if assume_normalized:
        sim = dot(F.col("qvec"), F.col("vec"))
    else:
        q = q.withColumn("__qn", l2_norm(F.col("qvec")))
        c = c.withColumn("__cn", l2_norm(F.col("vec")))
        denom = F.col("__qn") * F.col("__cn")
        sim = F.when(
            denom > 0, dot(F.col("qvec"), F.col("vec")) / denom
        ).otherwise(F.lit(0.0))
    if round_dp is not None:
        sim = F.round(sim, round_dp)
    scored = c.join(F.broadcast(q)).select(
        "query_id", "id", sim.alias("score")
    )
    return _ranked(scored, k)


def _normalized(M: np.ndarray) -> np.ndarray:
    """Rows of ``M`` scaled to unit L2 norm (zero rows stay zero)."""
    return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-30)


def _partial_topk(
    Qn: np.ndarray,
    V: np.ndarray,
    ids: np.ndarray,
    k: int,
    round_dp: int | None,
) -> tuple[np.ndarray, np.ndarray]:
    """One Arrow batch of a blocked GEMM scan: the cosine matrix ``S``
    (queries × batch) of the normalized query rows ``Qn`` against the
    batch rows ``V``, optionally rounded to ``round_dp``, and ``top``
    (queries × min(k, batch)) — each query's partial top-k as indices
    into the batch by (score DESC, id ASC), the order of the global
    window, so ties at the k boundary resolve as in an unblocked
    computation."""
    S = Qn @ _normalized(V).T
    if round_dp is not None:
        S = np.round(S, round_dp)
    kk = min(k, len(ids))
    # lexsort's last key is primary
    top = np.array([np.lexsort((ids, -s))[:kk] for s in S]).reshape(len(S), kk)
    return S, top


def cosine_topk_blocked(
    qids: list,
    Q: np.ndarray,
    corpus: DataFrame,
    k: int,
    id_col: str = "id",
    vec_col: str = "vec",
    round_dp: int | None = None,
) -> DataFrame:
    """Arrow/numpy GEMM form of ``cosine_topk`` over a query matrix
    ``Q`` already resolved on the driver (row i is query ``qids[i]``) —
    one ``Q @ V.T`` per Arrow batch (SURVEY §2 J11 "blocked numpy
    matmul" scale path). Exact: the per-batch partial top-k keeps the
    best k by the same (score DESC, id ASC) order the global window
    uses, so score ties at the k boundary resolve identically to the
    unblocked computation. ``round_dp`` quantizes scores before the
    partial AND global top-k (same contract as ``cosine_topk``)."""
    spark = corpus.sparkSession
    if not qids:
        return spark.createDataFrame(
            [], "query_id long, id long, score double, rank int"
        )
    bq = spark.sparkContext.broadcast((np.asarray(qids), _normalized(Q)))

    c = corpus.select(
        F.col(id_col).alias("id"), to_double_array(F.col(vec_col)).alias("vec")
    )

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_l, Qn_l = bq.value
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy()
            V = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
            S, top = _partial_topk(Qn_l, V, ids, k, round_dp)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids_l, top.shape[1]),
                    "id": ids[top].ravel(),
                    "score": np.take_along_axis(S, top, axis=1).ravel(),
                }
            )

    scored = c.mapInPandas(
        score_batches, schema="query_id long, id long, score double"
    )
    return _ranked(scored, k)


# ceiling on rows × dim for the broadcast-GEMM exact path: 5e7 float64
# cells ≈ 400 MB on the driver + each executor — comfortably inside one
# 4 GB executor, far below a 100 TB corpus. Above it, auto mode routes
# to the LSH candidate join, which never materializes the matrix.
GEMM_MAX_CELLS = 50_000_000

# ceiling on N²·d multiply-adds for the exact path. The broadcast
# budget alone misses the other axis: a 20k×64 corpus fits the matrix
# easily (1.3M cells) but the GEMM still performs 2.6e10 flops — the
# r7 distinct-doc probe measured exponent 1.66 there because exact
# all-pairs COMPUTE is inherently quadratic even when output and
# memory are linear. Above this budget auto routes to LSH, whose
# candidate join scales with true-pair density instead of N².
#
# MEASURED, not guessed (r13, tools/gemm_crossover.py →
# SCALING.json "gemm_crossover"): on this box (local[32]) the exact
# GEMM's wall-clock stays below the LSH path's up to the largest
# probed prefix (20k rows: 4.3 s vs 7.6 s) and the quadratic/linear
# extrapolation crosses near n≈35k ≈ 7.8e10 flops. 2e10 sits ~4×
# under that lower-bound crossover — margin for busier executors and
# narrower parallelism than the probe box — and leaves the
# test-decade dispatch unchanged (2k rows → GEMM, 20k probe → LSH).
GEMM_MAX_COMPARE = 20_000_000_000


def embedding_near_dupes(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "id",
    vec_col: str = "vec",
    block_col: str | None = None,
    impl: str = "auto",
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine ≥ threshold — embedding-space
    near-duplicate detection (training-data pipeline extension).

    Exact is inherently O(N²) in comparisons; ``impl='gemm'`` does them
    as one numpy GEMM per Arrow batch against a broadcast normalized
    matrix (~25× the per-pair JVM expression path). The broadcast bounds
    this exact path to corpora whose matrix fits an executor (~10⁷×d);
    the default ``impl='auto'`` routes to
    ``dedup.embedding_near_dupes_lsh`` when either budget is exceeded —
    rows×dim over ``GEMM_MAX_CELLS`` (broadcast memory) or N²·d over
    ``GEMM_MAX_COMPARE`` (quadratic compute) —
    candidate pairs from random-hyperplane buckets, exact cosine
    verification — so the default plan never driver-collects an
    unbounded corpus. Pass ``impl='gemm'`` to force the exact path.
    ``block_col`` (e.g. a cluster label or LSH bucket) instead turns
    the self-join into a per-block JVM join."""
    if block_col is None and impl in ("auto", "gemm"):
        if impl == "auto":
            first = corpus.select(
                F.size(to_double_array(F.col(vec_col))).alias("d")
            ).first()
            dim = int(first["d"]) if first is not None else 0
            n = corpus.count()
            if dim and (
                n * dim > GEMM_MAX_CELLS
                or n * n * dim > GEMM_MAX_COMPARE
            ):
                from rag_database_spark.operators.dedup import (
                    adaptive_n_planes,
                    embedding_near_dupes_lsh,
                )

                return embedding_near_dupes_lsh(
                    corpus, threshold, dim,
                    n_planes=adaptive_n_planes(n),
                    id_col=id_col, vec_col=vec_col,
                )
        return _near_dupes_gemm(corpus, threshold, id_col, vec_col)
    # per-row norms computed pre-join (r17): each row appears in many
    # pairs, and the per-pair cosine re-folded both norms per pair.
    # Same subtree, same multiply order — cos_sim is bit-identical.
    from rag_database_spark.functions.vector import dot, l2_norm

    a = corpus.select(
        F.col(id_col).alias("id_a"),
        to_double_array(F.col(vec_col)).alias("vec_a"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    ).withColumn("n_a", l2_norm(F.col("vec_a")))
    b = corpus.select(
        F.col(id_col).alias("id_b"),
        to_double_array(F.col(vec_col)).alias("vec_b"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    ).withColumn("n_b", l2_norm(F.col("vec_b")))
    join_cond = F.col("id_a") < F.col("id_b")
    pairs = a.join(b, on=(["blk"] if block_col else []) or None, how="inner") if block_col else a.crossJoin(b)
    denom = F.col("n_a") * F.col("n_b")
    return (
        pairs.filter(join_cond)
        .select(
            "id_a",
            "id_b",
            F.when(
                denom > 0, dot(F.col("vec_a"), F.col("vec_b")) / denom
            ).otherwise(F.lit(0.0)).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def avg_pool_patches(patches: Column) -> Column:
    """M7 ColPali-lite (colpali_embedder.py:172-211): per-dimension mean
    over the patch vectors — one zip_with fold, no Python. Feed the
    result to ``cosine_topk`` (cosine is scale-invariant, so the
    reference's normalize step cancels)."""
    n = F.size(patches)
    dim = F.size(F.element_at(patches, 1))
    zeros = F.transform(F.sequence(F.lit(1), dim), lambda _: F.lit(0.0))
    sums = F.aggregate(
        patches, zeros, lambda acc, p: F.zip_with(acc, p, lambda a, b: a + b)
    )
    return F.transform(sums, lambda v: v / n)


def _near_dupes_gemm(
    corpus: DataFrame, threshold: float, id_col: str, vec_col: str
) -> DataFrame:
    """Blocked-GEMM brute force: batch rows × broadcast full matrix,
    emit only (id_a < id_b, cos ≥ threshold) survivors."""
    import numpy as np

    spark = corpus.sparkSession
    rows = corpus.select(
        F.col(id_col).alias("id"), to_double_array(F.col(vec_col)).alias("vec")
    ).collect()
    if not rows:
        return spark.createDataFrame(
            [], "id_a long, id_b long, cos_sim double"
        )
    all_ids = np.array([r["id"] for r in rows])
    V = np.array([r["vec"] for r in rows], dtype=np.float64)
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-30)
    bc = spark.sparkContext.broadcast((all_ids, Vn))

    c = corpus.select(
        F.col(id_col).alias("id"), to_double_array(F.col(vec_col)).alias("vec")
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        ids_all, Vn_all = bc.value
        for pdf in it:
            if pdf.empty:
                continue
            ids_b = pdf["id"].to_numpy()
            Vb = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
            Vb = Vb / np.maximum(
                np.linalg.norm(Vb, axis=1, keepdims=True), 1e-30
            )
            S = Vb @ Vn_all.T  # (batch, N)
            bi, bj = np.nonzero(
                (S >= threshold) & (ids_b[:, None] < ids_all[None, :])
            )
            if len(bi):
                yield pd.DataFrame(
                    {
                        "id_a": ids_b[bi],
                        "id_b": ids_all[bj],
                        "cos_sim": S[bi, bj],
                    }
                )

    return c.mapInPandas(
        batches, schema="id_a long, id_b long, cos_sim double"
    )


def maxsim_scores(
    query_patches: DataFrame,
    page_patches: DataFrame,
    query_id_col: str = "query_id",
    page_id_col: str = "page_id",
) -> DataFrame:
    """ColPali-style MaxSim late interaction (J12,
    src/embeddings/colpali_embedder.py:136-169):

        score(q, p) = Σ_{token t ∈ q} max_{patch r ∈ p} <t, r>

    Inputs carry ``patches array<array<double>>``. Queries are broadcast;
    computation is one numpy matmul per (page-batch) in a Pandas UDF —
    the array-of-array columns never shuffle."""
    import numpy as np

    spark = query_patches.sparkSession
    q_rows = query_patches.select(
        F.col(query_id_col).alias("query_id"),
        F.col("patches").cast("array<array<double>>").alias("patches"),
    ).collect()
    if not q_rows:
        return spark.createDataFrame([], "query_id long, page_id long, score double")
    qdata = [(r["query_id"], np.array(r["patches"], dtype=np.float64)) for r in q_rows]
    bq = spark.sparkContext.broadcast(qdata)

    pages = page_patches.select(
        F.col(page_id_col).alias("page_id"),
        F.col("patches").cast("array<array<double>>").alias("patches"),
    )

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qs = bq.value
        for pdf in it:
            rows = []
            for pid, patches in zip(pdf["page_id"], pdf["patches"]):
                P = np.array([np.asarray(p) for p in patches], dtype=np.float64)
                for qid, Q in qs:
                    s = float(np.dot(Q, P.T).max(axis=1).sum())
                    rows.append((qid, pid, s))
            yield pd.DataFrame(rows, columns=["query_id", "page_id", "score"])

    return pages.mapInPandas(
        score_batches, schema="query_id long, page_id long, score double"
    )


def query_patch_list(
    query_patches: DataFrame, query_id_col: str = "query_id"
) -> list[tuple]:
    """Collect a query multi-vector frame into [(query_id, float64
    patch matrix)] — the driver-resolved input of
    ``maxsim_prefetch_rescore``."""
    return [
        (r["query_id"], np.array(r["patches"], dtype=np.float64))
        for r in query_patches.select(
            F.col(query_id_col).alias("query_id"),
            F.col("patches").cast("array<array<double>>").alias("patches"),
        ).collect()
    ]


def _avg_pool(P: np.ndarray) -> np.ndarray:
    """``avg_pool_patches`` in NumPy with the same fold order: a
    sequential sum over the patches from zero, then one division."""
    acc = np.zeros(P.shape[1])
    for p in P:
        acc = acc + p
    return acc / P.shape[0]


def maxsim_scores_pruned(
    query_patches: DataFrame,
    page_patches: DataFrame,
    fetch_k: int,
    query_id_col: str = "query_id",
    page_id_col: str = "page_id",
) -> DataFrame:
    """Two-stage MaxSim (vector_store.py:474-523 — Qdrant prefetch +
    rescore) → (query_id, page_id, score) for each query's ``fetch_k``
    candidate pages: the top ``fetch_k`` by cosine over the avg-pooled
    vectors (M7), scored by exact token×patch MaxSim. Recall vs brute
    force is governed by ``fetch_k`` exactly as in the reference.

    The query patches are collected once on the driver
    (``query_patch_list``); ``maxsim_prefetch_rescore`` then reads the
    pages once, with a per-Arrow-batch partial top-``fetch_k`` that is
    exact (see there)."""
    return maxsim_prefetch_rescore(
        query_patch_list(query_patches, query_id_col),
        page_patches,
        fetch_k,
        page_id_col,
    )


def maxsim_prefetch_rescore(
    queries: list[tuple],
    page_patches: DataFrame,
    fetch_k: int,
    page_id_col: str = "page_id",
) -> DataFrame:
    """Prefetch + rescore as ONE pass over the pages, for driver-resolved
    query patches ``queries`` = [(query_id, patch matrix)].

    The query patches and their avg-pooled vectors (pooled on the driver
    in the fold order of ``avg_pool_patches``) ship in one broadcast.
    Each Arrow batch of pages is pooled the same way and keeps each
    query's partial top-``fetch_k`` by the pooled cosine rounded to
    ``PREFETCH_ROUND_DP`` (``_partial_topk``: score DESC, page_id ASC);
    exact MaxSim is computed only for those local candidates. One
    ``query_id`` window then keeps the global top-``fetch_k`` by the
    same order.

    Exact: the order is total, so a page in a query's global top-
    ``fetch_k`` is also in the top-``fetch_k`` of its own batch, and the
    union of the partial lists contains the global list. Candidate set
    and scores equal those of a separate prefetch ranking followed by a
    rescore join, without a second page scan or a candidate broadcast.

    Cost: one page scan, and per query at most ``fetch_k`` MaxSim
    evaluations per Arrow batch — ``fetch_k`` in all when the pages
    fill one batch per partition on few partitions, every page when
    the batches hold fewer than ``fetch_k`` pages. The rows emitted per
    batch are the ones a separate prefetch ranking emits anyway; MaxSim
    on them costs less than carrying each candidate's patch matrix
    through the ``query_id`` shuffle to rescore after the window (on a
    4-vCPU host, 1024 queries over 250 pages: 4.8 CPU-s fused vs 13.2
    carried at 1 page partition, 13.9 vs 45.1 at 32)."""
    spark = page_patches.sparkSession
    if not queries:
        return spark.createDataFrame(
            [], "query_id long, page_id long, score double"
        )
    pooled = np.array([_avg_pool(Q) for _, Q in queries])
    bq = spark.sparkContext.broadcast(
        ([qid for qid, _ in queries], _normalized(pooled), [Q for _, Q in queries])
    )
    pages = page_patches.select(
        F.col(page_id_col).alias("page_id"),
        F.col("patches").cast("array<array<double>>").alias("patches"),
    )

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_l, Qn_l, Qs = bq.value
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf["page_id"].to_numpy()
            Ps = [
                np.array([np.asarray(p) for p in patches], dtype=np.float64)
                for patches in pdf["patches"]
            ]
            V = np.array([_avg_pool(P) for P in Ps])
            S, top = _partial_topk(Qn_l, V, ids, fetch_k, PREFETCH_ROUND_DP)
            rows = [
                (
                    qid,
                    ids[j],
                    S[qi, j],
                    float(np.dot(Qs[qi], Ps[j].T).max(axis=1).sum()),
                )
                for qi, qid in enumerate(qids_l)
                for j in top[qi]
            ]
            yield pd.DataFrame(
                rows, columns=["query_id", "page_id", "prefetch", "score"]
            )

    w = Window.partitionBy("query_id").orderBy(
        F.desc("prefetch"), F.asc("page_id")
    )
    return (
        pages.mapInPandas(
            score_batches,
            schema="query_id long, page_id long, prefetch double, score double",
        )
        .withColumn("__prank", F.row_number().over(w))
        .filter(F.col("__prank") <= fetch_k)
        .select("query_id", "page_id", "score")
    )


# IVF geometry: centroid count grows with the corpus — a FIXED
# n_centroids means a probe reads n/k rows at any scale (linear in
# corpus size), the same shape defect adaptive_n_planes fixes for LSH
# buckets. Two growth regimes: ceil(n/IVF_TARGET_LIST) until lists
# reach ~target length, then ceil(sqrt(n)) — the classic balanced IVF
# sizing where BOTH the centroid scan per query and the probed list
# length grow as sqrt(n), instead of the centroid table itself going
# linear (4M centroids at 1e9 rows under a pure n/target rule).
IVF_MIN_CENTROIDS = 16
IVF_TARGET_LIST = 256


def ivf_k_for(n: int, target: int = IVF_TARGET_LIST) -> int:
    """max(min, min(ceil(n/target), ceil(sqrt(n)))) — exact integer
    arithmetic (isqrt, no float), mirrored by the oracle's kk CTE
    (whose float sqrt is correctly rounded and therefore agrees with
    isqrt at every n below 2^52)."""
    import math

    if n <= 0:
        return IVF_MIN_CENTROIDS
    s = math.isqrt(n - 1) + 1  # ceil(sqrt(n)) without float
    return max(IVF_MIN_CENTROIDS, min(-(-n // target), s))


def _ivf_fit(
    corpus: DataFrame,
    n_centroids: int,
    seed: int,
    id_col: str,
    vec_col: str,
    method: str = "det",
) -> tuple[DataFrame, DataFrame]:
    """IVF index BUILD — k-means over the corpus, every vector assigned
    to its nearest centroid. Returns (centroids(centroid_id, cvec,
    frame_scale), lists(centroid_id, id, vec)). The expensive
    multi-pass clustering lives ONLY here — the query path consumes
    the returned/persisted tables.

    ``method='det'`` (default): deterministic Lloyd's over the
    QUANTIZED integer frame (``clustering.kmeans_fit`` — the exact
    cross-engine machinery behind embed_kmeans), centroids stored in
    that frame with ``frame_scale = KMEANS_SCALE``. This is the build
    the DuckDB oracle can replay CTE-for-CTE, upgrading ann_ivf_topk
    from a rows-only check to full hash certification.
    ``method='mllib'``: seeded MLlib k-means on raw vectors
    (``frame_scale = 1``) — kept for float-native builds; its
    centroids are NOT cross-engine replayable."""
    spark = corpus.sparkSession
    if method == "det":
        from rag_database_spark.operators import clustering

        assign, cents = clustering.kmeans_fit(
            corpus, k=n_centroids, id_col=id_col, vec_col=vec_col
        )
        centroids = spark.createDataFrame(
            [(i, c, clustering.KMEANS_SCALE) for i, c in enumerate(cents)],
            "centroid_id int, cvec array<double>, frame_scale int",
        )
        lists = (
            corpus.select(
                F.col(id_col).alias("id"),
                to_double_array(F.col(vec_col)).alias("vec"),
            )
            .join(assign, "id")
            .select(F.col("cluster_id").alias("centroid_id"), "id", "vec")
        )
        return centroids, lists
    if method != "mllib":
        raise ValueError(f"_ivf_fit: unknown method {method!r}")
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(id_col).alias("id"),
        to_double_array(F.col(vec_col)).alias("vec"),
    )
    ml_df = c.withColumn("features", array_to_vector("vec"))
    model = KMeans(k=n_centroids, seed=seed, featuresCol="features").fit(
        ml_df
    )
    centroids = spark.createDataFrame(
        [
            (i, [float(x) for x in ctr], 1)
            for i, ctr in enumerate(model.clusterCenters())
        ],
        "centroid_id int, cvec array<double>, frame_scale int",
    )
    lists = model.transform(ml_df).select(
        F.col("prediction").alias("centroid_id"), "id", "vec"
    )
    return centroids, lists


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int | None = None,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "vec",
    method: str = "det",
) -> None:
    """Persist the IVF artifact like ``bm25.write_index`` persists
    postings (reference analog: Qdrant's persisted HNSW collections,
    src/storage/vector_store.py:136-145): centroids as one tiny parquet,
    inverted lists PARTITIONED BY centroid_id so a probe of p centroids
    reads p directories — a partition-pruned scan, not a corpus pass.

    ``n_centroids=None`` (default) sizes the centroid count from the
    corpus (``ivf_k_for``) so list length — and with it probe cost —
    stays ~IVF_TARGET_LIST as the corpus grows, the same adaptive
    contract as ``dedup.adaptive_n_planes``."""
    n = corpus.count()
    if n_centroids is None:
        n_centroids = ivf_k_for(n)
    if n == 0:
        # bootstrap-empty corpus: a zero-row partitionBy write emits
        # no files and the read-back loses the schema entirely —
        # write schema-carrying empty tables instead (the det fit
        # would also return no centroids to partition on)
        spark = corpus.sparkSession
        spark.createDataFrame(
            [], "centroid_id int, cvec array<double>, frame_scale int"
        ).write.mode("overwrite").parquet(f"{path}/centroids")
        spark.createDataFrame(
            [], "centroid_id int, id long, vec array<double>"
        ).write.mode("overwrite").parquet(f"{path}/lists")
        return
    centroids, lists = _ivf_fit(
        corpus, n_centroids, seed, id_col, vec_col, method
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    (
        lists.write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/lists")
    )


def remove_from_ivf_index(spark, path: str, ids) -> None:
    """Logical vector delete (the maintenance twin of
    ``append_ivf_index``): ids append to a tombstone table under the
    index root — cost ∝ delta — and ``read_ivf_index`` anti-joins
    them out of the inverted lists. Centroid geometry is FROZEN
    through deletes (same contract as appends: assignments never
    move), so surviving vectors score identically and deleted ids
    simply stop appearing; a drift-heavy corpus refits via
    ``write_ivf_index`` compaction, which drops the tombstones with
    the rewrite. Replay-idempotent."""
    from rag_database_spark.sources.tables import append_tombstones

    append_tombstones(spark, path, ids, "id")


def read_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, lists) from a ``write_ivf_index`` directory, with
    any ``remove_from_ivf_index`` tombstones anti-joined out of the
    lists (the anti-join composes with the probe's partition pruning:
    only probed lists are read, then filtered)."""
    from rag_database_spark.sources.tables import read_tombstones

    centroids = spark.read.parquet(f"{path}/centroids")
    lists = spark.read.parquet(f"{path}/lists")
    dead = read_tombstones(spark, path, "id")
    if dead is not None:
        lists = lists.join(dead, "id", "left_anti")
    return centroids, lists


def assign_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Nearest-centroid assignment under FROZEN centroids — the same
    Euclidean argmin (ties → lowest centroid_id) MLlib's KMeans
    transform applies at fit time, so appended rows land in exactly
    the list a rebuild-with-these-centroids would put them. Centroids
    broadcast (tiny by construction); one numpy distance GEMM per
    Arrow batch; the vectors never shuffle."""
    import numpy as np
    import pandas as pd

    spark = vectors.sparkSession
    ctr = sorted(
        (r["centroid_id"], r["cvec"]) for r in centroids.collect()
    )
    ids = np.array([c[0] for c in ctr])
    C = np.array([c[1] for c in ctr])  # (k, d)
    bc = spark.sparkContext.broadcast((ids, C))

    c = vectors.select(
        F.col(id_col).alias("id"),
        to_double_array(F.col(vec_col)).alias("vec"),
    )

    def batches(it):
        cids, M = bc.value
        c_sq = (M * M).sum(axis=1)
        for pdf in it:
            if pdf.empty:
                continue
            V = np.array(pdf["vec"].tolist())  # (n, d)
            # argmin ||v-c||² = argmin (|c|² - 2 v·c); |v|² is constant
            d2 = c_sq[None, :] - 2.0 * (V @ M.T)
            nearest = cids[np.argmin(d2, axis=1)]
            yield pd.DataFrame(
                {
                    "centroid_id": nearest.astype("int32"),
                    "id": pdf["id"],
                    "vec": pdf["vec"],
                }
            )

    return c.mapInPandas(
        batches, schema="centroid_id int, id long, vec array<double>"
    )


def append_ivf_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "id",
    vec_col: str = "vec",
) -> None:
    """Incremental IVF maintenance — the vector-side analog of
    ``bm25.append_index``: new vectors are assigned under the FROZEN
    persisted centroids and appended into the centroid-partitioned
    lists (dynamic partition append touches only the lists that gain
    rows). No k-means refit — cost ∝ batch, never ∝ corpus; the
    trade-off (centroids drift from the true means as the corpus
    grows) is the standard serving-index compromise, fixed by a
    periodic offline ``write_ivf_index`` rebuild."""
    spark = new_vectors.sparkSession
    centroids = spark.read.parquet(f"{path}/centroids")
    scale = _ivf_frame_scale(centroids)
    nv = new_vectors.select(
        F.col(id_col).alias("id"),
        to_double_array(F.col(vec_col)).alias("vec"),
    )
    if scale != 1:
        # det-built index: centroids live in the quantized frame, so
        # the incoming vectors are quantized for the assignment GEMM
        # (argmin matches the build up to float-noise near quantized
        # cluster boundaries) while the stored list row keeps the RAW
        # vector for the cosine rescore.
        assigned = assign_centroids(
            nv.withColumn(
                "qx",
                F.transform(
                    F.col("vec"), lambda v: F.round(v * F.lit(float(scale)), 0)
                ),
            ),
            centroids,
            id_col="id",
            vec_col="qx",
        ).select("centroid_id", "id")
        out = assigned.join(nv, "id").select("centroid_id", "id", "vec")
    else:
        out = assign_centroids(nv, centroids, id_col="id", vec_col="vec")
    (
        out.write.mode("append")
        .partitionBy("centroid_id")
        .parquet(f"{path}/lists")
    )


def _ivf_frame_scale(centroids: DataFrame) -> int:
    """The frame the centroids live in: ``frame_scale`` when the
    artifact carries it (det builds = KMEANS_SCALE, mllib = 1), else 1
    for pre-frame_scale artifacts."""
    if "frame_scale" not in centroids.columns:
        return 1
    row = centroids.select("frame_scale").first()
    return 1 if row is None else int(row["frame_scale"])


def _ivf_probe_quantized(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    query_id_col: str,
    query_vec_col: str,
) -> list[tuple[int, int]]:
    """(query_id, centroid_id) probe pairs under the det index's own
    metric: quantized query vector, squared distance to each centroid
    literal via the exact left fold, top n_probe per query (ties →
    lowest centroid_id). Column expressions end-to-end so the
    arithmetic is the bit-identical twin of the oracle's unrolled
    term chain; the result is bounded at queries × n_probe rows."""
    from rag_database_spark.operators.clustering import (
        _sq_dist_to, quantize_embeddings_int,
    )

    cent = sorted(
        (int(r["centroid_id"]), list(r["cvec"]))
        for r in centroids.collect()
    )
    if not cent:
        return []
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        quantize_embeddings_int(F.col(query_vec_col)).alias("qx"),
    )
    dists = F.array(*[_sq_dist_to(c, col="qx") for _, c in cent])
    cid_arr = F.array(*[F.lit(cid) for cid, _ in cent])
    # cent is sorted by centroid_id, so pos ASC == centroid_id ASC —
    # the oracle's ORDER BY (d, cid) tie rule
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("pos"))
    probed = (
        q.select("query_id", F.posexplode(dists).alias("pos", "d"))
        .withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= n_probe)
        .select(
            "query_id",
            F.element_at(cid_arr, F.col("pos") + 1).alias("centroid_id"),
        )
        .collect()
    )
    return [(r["query_id"], int(r["centroid_id"])) for r in probed]


def ivf_topk_indexed(
    queries: DataFrame,
    centroids: DataFrame,
    lists: DataFrame,
    k: int,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    probe: str = "cosine",
) -> DataFrame:
    """IVF QUERY path over a built index — no clustering, no corpus
    pass:

    1. The centroid table (tiny: n_centroids rows) is collected and the
       ``n_probe`` nearest centroids per query chosen.
    2. The probed centroid ids become a static ``isin`` filter on the
       lists scan — with ``write_ivf_index``'s partitionBy layout that
       is partition pruning (only probed directories are read; pinned
       by plan test).
    3. Exact cosine over the ≤ queries × probe-list candidates, ranked.

    ``probe='cosine'``: normalized-dot probe driver-side in numpy —
    the float-native serving path. ``probe='quantized'``: squared
    Euclidean distance in the QUANTIZED frame via the same literal
    fold the det build assigned with (``clustering._sq_dist_to``,
    ties → lowest centroid_id) — the metric the DuckDB twin replays
    term-for-term, so a det-built index + quantized probe is exactly
    hash-certifiable. Requires a det-built (frame_scale > 1) index.

    Approximate exactly as the reference's ANN leg is: a true neighbor
    assigned to an unprobed centroid is missed; recall vs brute force
    is governed by n_probe (unit-pinned)."""
    import numpy as np

    spark = queries.sparkSession
    if probe == "quantized":
        probes = _ivf_probe_quantized(
            queries, centroids, n_probe, query_id_col, query_vec_col
        )
    elif probe != "cosine":
        raise ValueError(f"ivf_topk_indexed: unknown probe {probe!r}")
    else:
        q_rows = queries.select(
            F.col(query_id_col).alias("query_id"),
            to_double_array(F.col(query_vec_col)).alias("qvec"),
        ).collect()
        if not q_rows:
            return spark.createDataFrame(
                [], "query_id long, id long, score double, rank int"
            )
        cent_rows = centroids.collect()
        cids = np.array([r["centroid_id"] for r in cent_rows])
        C = np.array([r["cvec"] for r in cent_rows], dtype=np.float64)
        cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-30)
        probes = []
        for r in q_rows:
            qv = np.asarray(r["qvec"], dtype=np.float64)
            qv = qv / max(np.linalg.norm(qv), 1e-30)
            order = np.argsort(-(cn @ qv))[:n_probe]
            for j in order:
                probes.append((r["query_id"], int(cids[j])))
    if not probes:
        return spark.createDataFrame(
            [], "query_id long, id long, score double, rank int"
        )
    probe_df = spark.createDataFrame(
        probes, "query_id long, centroid_id int"
    )

    probed_cids = sorted({cid for _, cid in probes})
    cands = (
        # static partition filter first → pruned scan; the broadcast
        # join then fans each list row out to the queries probing it
        # list-row norms computed BEFORE the per-query fan-out and
        # query norms once per query (r17): the per-candidate cosine
        # re-folded both norms per (query, row) pair. Same subtree,
        # same multiply order - scores bit-identical.
        lists.filter(F.col("centroid_id").isin(probed_cids))
        .withColumn("cn", l2_norm(to_double_array(F.col("vec"))))
        .join(F.broadcast(probe_df), "centroid_id")
        .select("query_id", "id", "vec", "cn")
    )
    qv_df = queries.select(
        F.col(query_id_col).alias("query_id"),
        to_double_array(F.col(query_vec_col)).alias("qvec"),
    ).withColumn("qn", l2_norm(F.col("qvec")))
    _denom = F.col("qn") * F.col("cn")
    scored = cands.join(F.broadcast(qv_df), "query_id").select(
        "query_id",
        "id",
        F.when(
            _denom > 0,
            dot(F.col("qvec"), to_double_array(F.col("vec"))) / _denom,
        ).otherwise(F.lit(0.0)).alias("score"),
    )
    return _ranked(scored, k)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "id",
    vec_col: str = "vec",
    method: str = "det",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer
    scale path next to brute force and LSH (build brief: 'IVF or
    LSH-bucketed variant'). Convenience form that fits and queries in
    one call — for ad-hoc/unit use. Production callers persist once
    with ``write_ivf_index`` and serve every query batch through
    ``ivf_topk_indexed``; refitting k-means per query batch at 100 TB
    would be a multi-pass clustering job per call."""
    centroids, lists = _ivf_fit(
        corpus, n_centroids, seed, id_col, vec_col, method
    )
    return ivf_topk_indexed(
        queries, centroids, lists, k, n_probe, query_id_col, query_vec_col
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    n_tables: int = 4,
    n_planes: int | None = None,
    seed: int = 42,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """LSH-bucketed approximate top-k — the index-free ANN scale path
    next to IVF (build brief: 'IVF or LSH-bucketed variant'), using the
    same random-hyperplane machinery as the embedding near-dup operator
    (``dedup.rp_blocks``).

    Plan: sign-pattern buckets for corpus AND queries under the same
    seeded hyperplanes → candidates = corpus vectors sharing any
    (table, bucket) with the query → exact cosine rescore → top-k.

    Scale story: the corpus is touched twice (one bucketize pass, one
    candidate rescore via keyed join) and never all-pairs; the query
    block/vector tables are tiny and broadcast, so the only corpus-wide
    shuffle is the bucket-join's candidate fan-out, bounded by bucket
    occupancy (2^n_planes buckets per table). Unlike IVF there is no
    build phase to persist: the bucketize pass is one scan, so this is
    the right path for one-shot batch queries over cold data, while a
    served index should prefer ``write_ivf_index``/``ivf_topk_indexed``.

    ``n_planes=None`` (default) derives the plane count from the
    corpus row count (``adaptive_n_planes``) — a fixed plane count
    leaves per-query candidate volume linear in corpus size
    (n·n_tables/2^p rows rescored per query at any n). Planes are a
    prefix of the canonical LSH_MAX_PLANES draw, so growing the corpus
    only APPENDS sign bits; the oracle derives the same count from
    count(*) in SQL and slices the same canonical plane table.

    Recall: a true neighbor is missed only if its signs differ from the
    query's in every table, P(miss) = (1-(1-θ/π)^p)^t — unit-pinned vs
    brute force. Deterministic given the seed (planes from a seeded
    driver RNG, broadcast), so the DuckDB oracle replays the identical
    candidate set from the same plane literals
    (``oracles.ann_lsh_topk_sql``)."""
    from rag_database_spark.operators.dedup import (
        LSH_MAX_PLANES, adaptive_n_planes, rp_blocks,
    )

    if n_planes is None:
        n_planes = adaptive_n_planes(corpus.count())
    cb = rp_blocks(
        corpus, dim, n_tables, n_planes, seed, id_col, vec_col,
        max_planes=LSH_MAX_PLANES,
    )
    qb = rp_blocks(
        queries, dim, n_tables, n_planes, seed, query_id_col,
        query_vec_col, max_planes=LSH_MAX_PLANES,
    ).withColumnRenamed("id", "query_id")
    # aggregate-based dedup keyed on id (r18, was `.distinct()` on
    # (query_id, id)): collect_set(query_id) per candidate id dedups
    # the multi-table hits with ONE exchange that the corpus-vector
    # join then reuses (groupBy(id) output is already hash-partitioned
    # by id) — the distinct form exchanged the pair stream on
    # (query_id, id) and then AGAIN on id for the join. The set is
    # bounded by the query-batch size, never corpus-sized.
    cand_sets = (
        cb.join(F.broadcast(qb), ["table_idx", "bucket"])
        .groupBy("id")
        .agg(F.collect_set("query_id").alias("__qids"))
    )
    # per-row norms in the vector projections (r17): the per-candidate
    # cosine re-folded both norms per pair — 3 interpreted O(d)
    # aggregates per candidate → 1. Same subtree, same multiply order
    # (‖q‖·‖c‖), bit-identical to cosine(qvec, cvec).
    from rag_database_spark.functions.vector import l2_norm

    qv_df = queries.select(
        F.col(query_id_col).alias("query_id"),
        to_double_array(F.col(query_vec_col)).alias("qvec"),
    ).withColumn("qn", l2_norm(F.col("qvec")))
    cv_df = corpus.select(
        F.col(id_col).alias("id"),
        to_double_array(F.col(vec_col)).alias("cvec"),
    ).withColumn("cn", l2_norm(F.col("cvec")))
    denom = F.col("qn") * F.col("cn")
    scored = (
        cand_sets.join(cv_df, "id")
        .select("id", F.explode("__qids").alias("query_id"), "cvec", "cn")
        .join(F.broadcast(qv_df), "query_id")
        .select(
            "query_id",
            "id",
            F.when(
                denom > 0, dot(F.col("qvec"), F.col("cvec")) / denom
            ).otherwise(F.lit(0.0)).alias("score"),
        )
    )
    return _ranked(scored, k)


def quantize_embeddings(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the storage/
    bandwidth path for a 100 TB embedding column (4 bytes/dim float32
    → 1 byte/dim + one scale): ``scale = max|v| / 127``,
    ``q_i = round(v_i / scale)`` ∈ [-127, 127].

    Pure column expressions (transform/array_max) — one codegen scan,
    no shuffle, no Python. Dequantization error is bounded by scale/2
    per component (unit-pinned along with cosine preservation); the
    reference stores raw float vectors in Qdrant
    (src/storage/vector_store.py:66-101), which offers the same
    int8 scalar quantization as a server-side option.

    Output carries the quantized array plus exact integer/hashable
    audit columns (the driver's oracle compare cannot hash list cells,
    so entries project ``q_md5`` instead of ``q``)."""
    v = to_double_array(F.col(vec_col))
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = mx / F.lit(127.0)
    # let-bind the max so the per-element divide sees a cached value:
    # splicing `scale` into the lambda re-folds the whole array per
    # element — O(d²) per row, ruinous at production dims (guide §1.2
    # per-task work). Same ops, same order: q is bit-identical.
    q = vec_let(
        mx,
        lambda m: F.when(
            m > 0,
            F.transform(
                v, lambda x: F.round(x / (m / F.lit(127.0))).cast("int")
            ),
        ).otherwise(F.transform(v, lambda x: F.lit(0))),
    )
    return corpus.select(
        F.col(id_col).alias("id"),
        scale.alias("scale"),
        q.alias("q"),
    ).select(
        "id",
        "scale",
        "q",
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
        F.md5(F.array_join("q", " ")).alias("q_md5"),
    )


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine over int8-QUANTIZED vectors — the compute
    path that pairs with ``quantize_embeddings`` storage: per-vector
    scales cancel inside cosine, so scoring is pure integer dot
    products (long accumulators, whole-stage codegen, no Python) with
    one float sqrt/divide at the end. Deterministic cross-engine —
    integer sums are exact in both Spark longs and DuckDB doubles at
    these magnitudes — so the oracle is a full equality check.

    Plan: corpus quantizes inside the scan projection, quantized
    queries broadcast, one window exchange for the per-query top-k.
    Ranking quality vs float cosine is unit-pinned (recall ≥ 0.9)."""
    def quant(df, idc, vc, out_id):
        v = to_double_array(F.col(vc))
        mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
        # let-bind the max (see quantize_embeddings): inlining it into
        # the per-element lambda is O(d²) per row. Bit-identical.
        q = vec_let(
            mx,
            lambda m: F.when(
                m > 0,
                F.transform(
                    v, lambda x: F.round(x / (m / F.lit(127.0))).cast("long")
                ),
            ).otherwise(F.transform(v, lambda x: F.lit(0).cast("long"))),
        )
        return df.select(F.col(idc).alias(out_id), q.alias("__q")).select(
            out_id,
            "__q",
            # bound reference: zip_with("__q","__q") would splice the
            # full quantization tree in twice more
            vec_let(
                F.col("__q"),
                lambda qv: F.aggregate(
                    F.zip_with(qv, qv, lambda x, y: x * y),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ),
            ).alias("__n2"),
        )

    qq = quant(queries, query_id_col, query_vec_col, "query_id").select(
        "query_id",
        F.col("__q").alias("__qa"),
        F.col("__n2").alias("__qn2"),
    )
    cc = quant(corpus, id_col, vec_col, "id")
    idot = F.aggregate(
        F.zip_with("__qa", "__q", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = cc.join(F.broadcast(qq)).select(
        "query_id",
        "id",
        F.when(
            (F.col("__n2") > 0) & (F.col("__qn2") > 0),
            idot / F.sqrt((F.col("__n2") * F.col("__qn2")).cast("double")),
        ).otherwise(F.lit(0.0)).alias("score"),
    )
    return _ranked(scored, k)


# Matryoshka cascade defaults: a 16-of-64 prefix keeps the shortlist
# scan at 1/4 of the full-vector read (1/48 of a production 768-d
# column) while the 3x over-fetch absorbs prefix-vs-full rank churn —
# the same over-fetch constant the hybrid fusion legs use.
MRL_PREFIX_DIMS = 16
MRL_SHORTLIST_MULT = 3


def matryoshka_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    prefix_dims: int = MRL_PREFIX_DIMS,
    shortlist_mult: int = MRL_SHORTLIST_MULT,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "id",
    vec_col: str = "vec",
    prefix_col: str | None = None,
) -> DataFrame:
    """Dimension-cascade top-k (Matryoshka / adaptive retrieval,
    Kusupati et al. 2022): shortlist on a PREFIX of the embedding,
    rescore only the shortlist at full dimension.

    - stage 1: cosine over the first ``prefix_dims`` dims, quantized
      at PREFETCH_ROUND_DP before ranking (the prefetch discipline —
      the shortlist SET must be engine-independent), keep
      ``shortlist_mult * k`` per query;
    - stage 2: exact full-dim cosine for shortlist rows only, 6dp
      final score, rank by (score DESC, id).

    Scale story: stage 1 is the only corpus-wide scan, and it touches
    ``prefix_dims/dim`` of the vector bytes — materialize the prefix
    as its OWN column (pass ``prefix_col``) and parquet column pruning
    makes that literal: the full vector column is read only for the
    O(queries x shortlist) stage-2 rows, which arrive as a broadcast
    semi-join against the corpus (the corpus never shuffles in either
    stage). With MRL-trained embeddings the prefix IS a trained
    sub-embedding; with generic embeddings the cascade still bounds
    recall loss via the over-fetch (unit-pinned vs brute force)."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        to_double_array(F.col(query_vec_col)).alias("qvec"),
    )
    c = corpus.select(
        F.col(id_col).alias("id"),
        to_double_array(F.col(vec_col)).alias("vec"),
    )
    qpre = q.select(
        "query_id", F.slice("qvec", 1, prefix_dims).alias("qvec")
    )
    if prefix_col is not None:
        cpre = corpus.select(
            F.col(id_col).alias("id"),
            to_double_array(F.col(prefix_col)).alias("vec"),
        )
    else:
        cpre = c.select("id", F.slice("vec", 1, prefix_dims).alias("vec"))
    short = cosine_topk(
        qpre, cpre, k * shortlist_mult,
        id_col="id", vec_col="vec", round_dp=PREFETCH_ROUND_DP,
    ).select("query_id", "id")
    # query norm once per query on the broadcast side (r17): the
    # per-pair cosine re-folded it per shortlist row. The corpus-side
    # norm stays per-pair (computing it pre-join would norm EVERY
    # corpus row for a shortlist-bounded rescore). Same subtree, same
    # multiply order (‖q‖·‖v‖) — bit-identical.
    qn_df = q.withColumn("qn", l2_norm(F.col("qvec")))
    _denom = F.col("qn") * l2_norm(F.col("vec"))
    rescored = (
        c.join(F.broadcast(short), "id")
        .join(F.broadcast(qn_df), "query_id")
        .select(
            "query_id",
            "id",
            F.round(
                F.when(
                    _denom > 0, dot(F.col("qvec"), F.col("vec")) / _denom
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("score"),
        )
    )
    return _ranked(rescored, k)


def best_cosine_match(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Embedding-space admission-gate probe — the vector twin of
    ``dedup.best_jaccard_vs_index``: for each INCOMING vector, its
    single nearest accepted-corpus neighbor by cosine. An ingest
    pipeline thresholds ``best_cosine`` to quarantine semantic
    near-duplicates of already-accepted content before they enter the
    corpus (same admission flow the reference's idempotent upsert
    implies, src/storage/vector_store.py:176-228, generalized from
    exact-id to near-duplicate).

    Scale: one ``cosine_topk(k=1)`` — the incoming batch broadcasts,
    the corpus never shuffles, and the rollup carries one row per
    (batch id × corpus partition) at most. Totalized with a left join
    so a bootstrap (empty-corpus) batch gates everything through with
    best_cosine = NULL.

    Output: (id, match_id | NULL, best_cosine | NULL).
    """
    q = batch.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
    )
    top1 = cosine_topk(
        q, corpus, 1, id_col=id_col, vec_col=vec_col
    ).select(
        F.col("query_id").alias("id"),
        F.col("id").alias("match_id"),
        F.round("score", 6).alias("best_cosine"),
    )
    return batch.select(F.col(id_col).alias("id")).join(top1, "id", "left")


def knn_graph(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """k-nearest-neighbor similarity graph over an embedding corpus:
    (src, dst, cos_sim, rank) with the k best cosine neighbors per
    vector — the edge list semantic-graph analytics run on (PageRank
    centrality, community detection, hub analysis), the embedding
    analog of the shingle-Jaccard document graph (graph.doc_edges).

    Built as one ``cosine_topk(k+1)`` with the corpus on BOTH sides
    (map-side GEMM partial top-k, the corpus never self-joins
    row-by-row); the self edge (always in the prefetch) is dropped and
    ranks renumber inside a per-source window over the ≤k+1 surviving
    candidates — never over the corpus. Ties break (score DESC, dst
    ASC) on the PREFETCH_ROUND_DP-quantized cosine, so the edge set at
    the rank-k boundary cannot diverge between the numpy GEMM here and
    the DuckDB twin's list_cosine_similarity — the same cross-engine
    candidate-set discipline every other prefetch stage uses (a single
    last-ulp flip matters doubly here because semantic PageRank
    amplifies any flipped edge through its unrolled power iteration).

    Scale: identical to batch top-k search with |queries| = |corpus| —
    N·|corpus| GEMM work under the blocked path; at index scale the
    same graph comes from ``knn_graph_lsh`` (bucketed candidates) or
    ``ivf_topk_indexed`` per partition-pruned probe (approximate
    edges), which is the documented trade. Because the blocked path
    COLLECTS the query side — here the whole corpus — to the driver,
    the exact path refuses corpora past the broadcast-GEMM cell
    budget instead of silently OOMing the driver."""
    # one aggregation job for both guard inputs — a second pass over
    # non-trivial upstream lineage is real wall-clock on the hot path
    stats = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col))).alias("dim"),
    ).collect()[0]
    n, dim = stats["n"], stats["dim"] or 0
    if n * dim > GEMM_MAX_CELLS:
        raise ValueError(
            f"knn_graph exact path needs the full corpus on the driver "
            f"({n} x {dim} = {n * dim:.2e} cells > GEMM_MAX_CELLS "
            f"{GEMM_MAX_CELLS:.0e}); use knn_graph_lsh (bucketed, "
            "nothing corpus-sized broadcasts) at this scale"
        )
    q = corpus.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    top = cosine_topk(
        q, corpus, k + 1, id_col=id_col, vec_col=vec_col,
        round_dp=PREFETCH_ROUND_DP,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("id")
    )
    return (
        top.filter(F.col("id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").alias("src"),
            F.col("id").alias("dst"),
            F.round("score", 6).alias("cos_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def knn_graph_lsh(
    corpus: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_tables: int = 4,
    n_planes: int | None = None,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Approximate k-NN graph — the 100 TB path beside the exact
    ``knn_graph``: candidates come from an LSH bucket SELF-join (two
    vectors are candidates iff they share a (table, bucket) under the
    seeded hyperplanes), then exact cosine rescores and a per-source
    window keeps the k best. Nothing broadcasts corpus-sized — unlike
    ``lsh_topk``, whose query side is assumed tiny, the self-join
    shuffles on the bucket key only, bounded by bucket occupancy (the
    same plan family as ``dedup.embedding_near_dupes_lsh``).

    ``n_planes=None`` (default) derives the plane count from the
    corpus row count (``adaptive_n_planes``) so bucket occupancy —
    and with it per-row candidate volume — stays constant as the
    corpus grows; a fixed plane count is quadratic at scale (the r7
    probe measured exponent 1.66 on exactly this shape). Planes are a
    prefix of the canonical LSH_MAX_PLANES draw, so growing the
    corpus only APPENDS sign bits — existing bits never re-draw.

    Deterministic given the seed, so the DuckDB oracle replays the
    identical candidate set from the same plane literals (slicing the
    same canonical table by the same count-derived plane count);
    recall vs the exact graph is unit-pinned (a true neighbor is
    missed only if its signs differ from the source's in every
    table)."""
    from rag_database_spark.operators.dedup import (
        LSH_MAX_PLANES, adaptive_n_planes, rp_blocks,
    )

    if n_planes is None:
        n_planes = adaptive_n_planes(corpus.count())
    # eager localCheckpoint (r17): the self-join evaluates both sides,
    # so the sign-bit bucket projection (n_tables × n_planes dot
    # products per row) ran TWICE; the checkpoint is one narrow
    # (table, bucket, id) row per (row, table), recomputed per call.
    cb = rp_blocks(
        corpus, dim, n_tables, n_planes, seed, id_col, vec_col,
        max_planes=LSH_MAX_PLANES,
    ).localCheckpoint()
    a, b = cb.alias("a"), cb.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.table_idx") == F.col("b.table_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
        .distinct()
    )
    # per-row norms computed ONCE in the vector projection: the
    # per-pair cosine otherwise re-folds both norms for every
    # candidate pair (3 interpreted O(d) aggregates per pair → 1).
    # Same expression subtree, same multiply order (‖a‖·‖b‖), so the
    # scores are bit-identical to cosine(sv, v).
    from rag_database_spark.functions.vector import l2_norm

    vecs = corpus.select(
        F.col(id_col).alias("vid"),
        to_double_array(F.col(vec_col)).alias("v"),
    ).withColumn("n", l2_norm(F.col("v")))
    denom = F.col("sn") * F.col("n")
    scored = (
        cands.join(vecs.withColumnRenamed("vid", "src"), "src")
        .withColumnRenamed("v", "sv")
        .withColumnRenamed("n", "sn")
        .join(vecs.withColumnRenamed("vid", "dst"), "dst")
        .select(
            "src", "dst",
            # 12dp-quantized BEFORE the rank window — same cross-engine
            # boundary discipline as knn_graph (see PREFETCH_ROUND_DP)
            F.round(
                F.when(
                    denom > 0, dot(F.col("sv"), F.col("v")) / denom
                ).otherwise(F.lit(0.0)),
                PREFETCH_ROUND_DP,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "src", "dst",
            F.round("score", 6).alias("cos_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )
