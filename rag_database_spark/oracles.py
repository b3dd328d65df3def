"""DuckDB oracle SQL for every oracle-checkable query in ``queries()``.

Each function returns ANSI SQL that DuckDB runs over the same parquet
tables the Spark plan reads. Constants (stopwords, BM25 k1/b, RRF k and
weights, the query workload) are interpolated from the SAME Python
definitions the Spark operators use — one source of truth, no drift.

Column aliases match the Spark output exactly (driver hashes values by
column name). All float outputs are rounded to 6 decimals on BOTH sides.
"""

from __future__ import annotations

from rag_database_spark.functions.text import (
    MIN_TOKEN_LEN,
    PUNCT_RE,
    SPLIT_RE,
    STOPWORDS,
)
from rag_database_spark.operators.bm25 import B, K1
from rag_database_spark.operators.fusion import (
    DEFAULT_WEIGHTS,
    FETCH_MULTIPLIER,
    RRF_K,
)
from rag_database_spark.workload import HYBRID_LIMIT, queries_values_sql

_STOPLIST = ", ".join(f"'{s}'" for s in STOPWORDS)

# tokenizer: lower → punctuation→space → whitespace split → len>=2, not
# stopword. Mirrors functions/text.py::tokenize (bm25_store.py:38-100);
# the regexes are interpolated from the SAME constants the Spark plan
# uses (explicit whitespace class — Java and RE2 disagree on \s).
_TOKENIZE = (
    "unnest(regexp_split_to_array("
    f"regexp_replace(lower({{text}}), '{PUNCT_RE}', ' ', 'g'), '{SPLIT_RE}'))"
)


def _bm25_ctes(fetch: int) -> str:
    """Shared CTE block: corpus postings/stats + per-query BM25 ranking."""
    doc_tok = _TOKENIZE.format(text="text")
    q_tok = _TOKENIZE.format(text="query_text")
    return f"""
tok_raw AS (
  SELECT doc_id, {doc_tok} AS term FROM documents
),
tok AS (
  SELECT doc_id, term FROM tok_raw
  WHERE length(term) >= {MIN_TOKEN_LEN} AND term NOT IN ({_STOPLIST})
),
doclens AS (
  SELECT d.doc_id, coalesce(t.c, 0) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS c FROM tok GROUP BY doc_id) t
    ON d.doc_id = t.doc_id
),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclens),
postings AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
),
termstats AS (
  SELECT p.term, ln(1.0 + (s.n_docs - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM postings p, stats s GROUP BY p.term, s.n_docs
),
qtok_raw AS (
  SELECT query_id, {q_tok} AS term FROM {queries_values_sql()}
),
qterms AS (
  SELECT query_id, term, count(*) AS qtf FROM qtok_raw
  WHERE length(term) >= {MIN_TOKEN_LEN} AND term NOT IN ({_STOPLIST})
  GROUP BY query_id, term
),
bm25_scored AS (
  SELECT q.query_id, p.doc_id,
         sum(q.qtf * ts.idf * (p.tf * ({K1} + 1))
             / (p.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS score
  FROM qterms q
  JOIN postings p USING (term)
  JOIN termstats ts ON ts.term = q.term
  JOIN doclens dl ON dl.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id
),
bm25_ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM bm25_scored
)"""


def _dense_ctes(fetch: int) -> str:
    return f"""
qv AS (
  SELECT q.query_id, e.embedding::DOUBLE[] AS qvec
  FROM {queries_values_sql()}
  JOIN embeddings e ON e.vec_id = q.query_vec_id
),
dense_scored AS (
  SELECT qv.query_id, e.vec_id AS id,
         list_cosine_similarity(qv.qvec, e.embedding::DOUBLE[]) AS score
  FROM qv CROSS JOIN embeddings e
),
dense_ranked AS (
  SELECT query_id, id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS rank
  FROM dense_scored
)"""


def ann_lsh_topk_sql(
    limit: int = HYBRID_LIMIT,
    dim: int = 64,
    n_tables: int = 4,
    seed: int = 42,
) -> str:
    """Exact twin of ``similarity.lsh_topk`` with the ADAPTIVE plane
    count: the SQL emits the one canonical (n_tables × LSH_MAX_PLANES)
    plane table (the same seeded draw ``rp_blocks(max_planes=
    LSH_MAX_PLANES)`` prefixes) and derives the active plane count
    from count(embeddings) with ``adaptive_n_planes``'s formula —
    clamped at LSH_MAX_PLANES exactly like the engine — so the oracle
    tracks the engine at any sf. Identical sign buckets → identical
    candidate set → identical exact-cosine top-k. (A sign can only
    disagree across engines if a dot product lands within ulps of
    zero — unreachable for real-valued embeddings.)"""
    import numpy as np

    from rag_database_spark.operators.dedup import (
        LSH_MAX_PLANES, LSH_TARGET_OCCUPANCY,
    )

    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables, LSH_MAX_PLANES, dim))
    rows = ",\n    ".join(
        f"({t}, {p}, [{', '.join(repr(float(x)) for x in planes[t][p])}]::DOUBLE[])"
        for t in range(n_tables)
        for p in range(LSH_MAX_PLANES)
    )
    tgt = LSH_TARGET_OCCUPANCY
    return f"""
WITH qv AS (
  SELECT q.query_id, e.embedding::DOUBLE[] AS qvec
  FROM {queries_values_sql()}
  JOIN embeddings e ON e.vec_id = q.query_vec_id
),
planes(table_idx, plane_idx, pvec) AS (
  VALUES
    {rows}
),
np AS (
  -- adaptive_n_planes(count): floor 8, else ceil(log2(n / target)),
  -- clamped at LSH_MAX_PLANES like the engine
  SELECT least({LSH_MAX_PLANES},
               CASE WHEN count(*) <= {tgt} THEN 8
                    ELSE greatest(8, CAST(ceil(log2(count(*)::DOUBLE / {tgt}))
                                        AS INT)) END) AS n_planes
  FROM embeddings
),
corpus_sig AS (
  SELECT e.vec_id AS id, p.table_idx,
         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pvec) > 0
                  THEN 1::BIGINT << p.plane_idx ELSE 0 END) AS bucket
  FROM embeddings e CROSS JOIN planes p CROSS JOIN np
  WHERE p.plane_idx < np.n_planes
  GROUP BY e.vec_id, p.table_idx
),
query_sig AS (
  SELECT qv.query_id, p.table_idx,
         sum(CASE WHEN list_dot_product(qv.qvec, p.pvec) > 0
                  THEN 1::BIGINT << p.plane_idx ELSE 0 END) AS bucket
  FROM qv CROSS JOIN planes p CROSS JOIN np
  WHERE p.plane_idx < np.n_planes
  GROUP BY qv.query_id, p.table_idx
),
cands AS (
  SELECT DISTINCT q.query_id, c.id
  FROM query_sig q JOIN corpus_sig c USING (table_idx, bucket)
),
scored AS (
  SELECT cd.query_id, cd.id,
         list_cosine_similarity(qv.qvec, e.embedding::DOUBLE[]) AS score
  FROM cands cd
  JOIN qv USING (query_id)
  JOIN embeddings e ON e.vec_id = cd.id
)
SELECT query_id, id, round(score, 6) AS score,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, id)::BIGINT AS rank
FROM scored
QUALIFY rank <= {limit}
"""


def bm25_topk_sql(limit: int = HYBRID_LIMIT * FETCH_MULTIPLIER) -> str:
    return f"""
WITH {_bm25_ctes(limit)}
SELECT query_id, doc_id, round(score, 6) AS score, rank::BIGINT AS rank
FROM bm25_ranked WHERE rank <= {limit}
"""


def events_window_join_sql(n_windows: int) -> str:
    """Twin of the bucketized interval join entry: identical integer
    window construction (span/n steps, 1.5-step length), BETWEEN join,
    per-window rollup. DuckDB plans this as its native IEJoin — same
    results, different physical strategy, which is the point."""
    return f"""
WITH ev AS (
  SELECT floor(epoch(ts))::BIGINT AS es, value FROM events
),
b AS (
  SELECT min(es) AS t0,
         greatest((max(es) - min(es)) // {n_windows}, 1) AS step
  FROM ev
),
w AS (
  SELECT wid::BIGINT AS window_id,
         (t0 + wid * step)::BIGINT AS w_start_s,
         (t0 + wid * step + (3 * step) // 2)::BIGINT AS w_end_s
  FROM b, (SELECT unnest(range({n_windows})) AS wid)
)
SELECT w.window_id,
       count(*)::BIGINT AS n_events,
       round(CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 6)
         AS total_value
FROM ev e JOIN w ON e.es BETWEEN w.w_start_s AND w.w_end_s
GROUP BY w.window_id
"""


def doc_keywords_sql(k: int) -> str:
    """Twin of bm25.tfidf_keywords over the same F1 tokenization:
    top-k terms per document by tf * (ln((N+1)/(df+1)) + 1), ties by
    term ascending."""
    doc_tok = _TOKENIZE.format(text="text")
    return f"""
WITH tok_raw AS (
  SELECT doc_id, {doc_tok} AS term FROM documents
),
tok AS (
  SELECT doc_id, term FROM tok_raw
  WHERE length(term) >= {MIN_TOKEN_LEN} AND term NOT IN ({_STOPLIST})
),
postings AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
),
n AS (SELECT count(*) AS n_docs FROM documents),
dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
scored AS (
  SELECT p.doc_id, p.term,
         p.tf * (ln((n.n_docs + 1.0) / (f.df + 1.0)) + 1.0) AS tfidf
  FROM postings p JOIN dfreq f USING (term), n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, term
         ) AS rank
  FROM scored
)
SELECT doc_id, term, round(tfidf, 6) AS tfidf, rank::BIGINT AS rank
FROM ranked WHERE rank <= {k}
"""


def dense_topk_sql(limit: int = HYBRID_LIMIT) -> str:
    return f"""
WITH {_dense_ctes(limit)}
SELECT query_id, id, round(score, 6) AS score, rank::BIGINT AS rank
FROM dense_ranked WHERE rank <= {limit}
"""


def matryoshka_topk_sql(
    limit: int = HYBRID_LIMIT,
    prefix_dims: int | None = None,
    shortlist_mult: int | None = None,
) -> str:
    """Twin of ``similarity.matryoshka_topk``: prefix-slice cosine
    quantized at PREFETCH_ROUND_DP ranks the shortlist (the prefetch
    discipline — identical candidate SET across engines), then the
    full-dim cosine rounds to 6dp and ranks (score DESC, id)."""
    from rag_database_spark.operators.similarity import (
        MRL_PREFIX_DIMS,
        MRL_SHORTLIST_MULT,
        PREFETCH_ROUND_DP,
    )

    pd_ = prefix_dims or MRL_PREFIX_DIMS
    fetch = limit * (shortlist_mult or MRL_SHORTLIST_MULT)
    return f"""
WITH qv AS (
  SELECT q.query_id, e.embedding::DOUBLE[] AS v
  FROM {queries_values_sql()}
  JOIN embeddings e ON e.vec_id = q.query_vec_id
),
cv AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
pre AS (
  -- zero-norm guard: the engine's GEMM (stage 1) and fold cosine
  -- (stage 2) both emit 0.0 for a zero vector, while DuckDB's
  -- list_cosine_similarity returns -1.0 — a 16-dim PREFIX can be
  -- all-zero even when the full embedding isn't, so the CASE is
  -- load-bearing here, not defensive
  SELECT qv.query_id, cv.id,
         round(CASE WHEN list_dot_product(qv.v[1:{pd_}], qv.v[1:{pd_}]) > 0
                     AND list_dot_product(cv.v[1:{pd_}], cv.v[1:{pd_}]) > 0
               THEN list_cosine_similarity(qv.v[1:{pd_}], cv.v[1:{pd_}])
               ELSE 0.0 END,
               {PREFETCH_ROUND_DP}) AS pscore
  FROM qv CROSS JOIN cv
),
short AS (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY pscore DESC, id) AS prank
  FROM pre QUALIFY prank <= {fetch}
),
resc AS (
  SELECT s.query_id, s.id,
         round(CASE WHEN list_dot_product(qv.v, qv.v) > 0
                     AND list_dot_product(cv.v, cv.v) > 0
               THEN list_cosine_similarity(qv.v, cv.v)
               ELSE 0.0 END, 6) AS score
  FROM short s
  JOIN cv ON cv.id = s.id
  JOIN qv ON qv.query_id = s.query_id
)
SELECT query_id, id, score,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, id)::BIGINT AS rank
FROM resc
QUALIFY rank <= {limit}
"""


def _ir_metric_chain(tag: str, res: str, k: int) -> str:
    """Shared metric CTE chain (fl/cum/pq/met) over a named ranked
    results CTE — instantiated once by ``ir_metrics_sql`` and twice
    (side a / side b) by ``eval_delta_sql``. Requires ``qr`` and
    ``tot`` CTEs in scope. Float discipline as documented on
    ``evaluation.ir_metrics``."""
    from rag_database_spark.operators.evaluation import (
        dcg_gains, idcg_table,
    )

    gains = dcg_gains(k)
    idcg = idcg_table(k)
    gain_case = " ".join(
        f"WHEN {r} THEN {g!r}" for r, g in enumerate(gains, start=1)
    )
    idcg_case = (
        "CASE least(coalesce(t.total_rel, 0), " + str(k) + ") "
        + " ".join(f"WHEN {m} THEN {v!r}" for m, v in enumerate(idcg))
        + " END"
    )
    return f"""fl{tag} AS (
  SELECT r.query_id, r.id, r.rank,
         CASE WHEN qr.id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM {res} r LEFT JOIN qr ON qr.query_id = r.query_id AND qr.id = r.id
),
cum{tag} AS (
  SELECT query_id, rank, rel,
         sum(CASE WHEN rel = 1
                  THEN (CASE rank {gain_case} ELSE 0.0 END)
                  ELSE 0.0 END)
           OVER (PARTITION BY query_id ORDER BY rank, id
                 ROWS UNBOUNDED PRECEDING) AS dcg_cum
  FROM fl{tag}
),
pq{tag} AS (
  SELECT query_id, max(dcg_cum) AS dcg, sum(rel)::BIGINT AS hits,
         min(CASE WHEN rel = 1 THEN rank END) AS first_rel
  FROM cum{tag} GROUP BY 1
),
met{tag} AS (
  SELECT p.query_id, coalesce(t.total_rel, 0)::BIGINT AS total_rel, p.hits,
         round(CASE WHEN p.first_rel IS NOT NULL
                    THEN 1.0 / p.first_rel ELSE 0.0 END, 6) AS mrr,
         round(CASE WHEN coalesce(t.total_rel, 0) > 0
                    THEN p.hits / t.total_rel ELSE 0.0 END, 6) AS recall_at_k,
         round(CASE WHEN ({idcg_case}) > 0
                    THEN p.dcg / ({idcg_case}) ELSE 0.0 END, 6) AS ndcg_at_k
  FROM pq{tag} p LEFT JOIN tot t USING (query_id)
)"""


_QRELS_CTES = """qr AS (
  -- DISTINCT mirrors the Spark side's .distinct() on qrels: the
  -- fixture is unique by construction, but both twins must state the
  -- same contract or duplicate qrels rows would double-count
  -- hits/DCG here only
  SELECT DISTINCT q.query_id, e.vec_id AS id
  FROM {qv}, embeddings e
  WHERE (e.vec_id + q.query_id * 3) % 9 = 0
),
tot AS (SELECT query_id, count(*)::BIGINT AS total_rel FROM qr GROUP BY 1)"""


def ir_metrics_sql(k: int | None = None) -> str:
    """Twin of ``evaluation.ir_metrics`` over the dense leg and the
    modular qrels fixture: the SAME Python-computed literal gain /
    IDCG doubles are embedded on both engines (no engine libm log2),
    DCG is an explicit-ROWS ordered running sum finished with max()
    (left fold both sides, no reassociating float aggregate), and
    MRR/recall are single integer divisions."""
    from rag_database_spark.operators.evaluation import IR_K

    if k is None:
        k = IR_K
    return f"""
WITH {_dense_ctes(k)},
res AS (
  SELECT query_id, id, rank FROM dense_ranked WHERE rank <= {k}
),
{_QRELS_CTES.format(qv=queries_values_sql())},
{_ir_metric_chain("", "res", k)}
SELECT query_id, total_rel, hits, mrr, recall_at_k, ndcg_at_k FROM met
"""


def hard_negatives_sql(fetch: int, n: int) -> str:
    """Twin of the hard_negatives entry: the dense leg over-fetched to
    ``fetch``, qrels positives anti-joined out, survivors re-ranked by
    original retrieval rank with id as tiebreaker (deterministic even
    under duplicate ranks), best ``n`` kept."""
    return f"""
WITH {_dense_ctes(fetch)},
{_QRELS_CTES.format(qv=queries_values_sql())},
neg AS (
  SELECT d.query_id, d.id, d.score,
         row_number() OVER (PARTITION BY d.query_id ORDER BY d.rank, d.id)
           AS neg_rank
  FROM dense_ranked d
  LEFT JOIN qr ON qr.query_id = d.query_id AND qr.id = d.id
  WHERE d.rank <= {fetch} AND qr.id IS NULL
)
SELECT query_id, id, round(score, 6) AS score, neg_rank::BIGINT AS neg_rank
FROM neg WHERE neg_rank <= {n}
"""


def eval_delta_sql(
    k: int | None = None,
    prefix_dims: int | None = None,
    shortlist_mult: int | None = None,
) -> str:
    """Twin of the eval_delta entry: side A = the exact dense leg,
    side B = the matryoshka prefix cascade, both scored by the shared
    ``_ir_metric_chain`` against the same qrels, joined per query
    with 6dp deltas (identical doubles on both engines in, identical
    subtraction out)."""
    from rag_database_spark.operators.evaluation import IR_K
    from rag_database_spark.operators.similarity import (
        MRL_PREFIX_DIMS,
        MRL_SHORTLIST_MULT,
        PREFETCH_ROUND_DP,
    )

    if k is None:
        k = IR_K
    pd_ = prefix_dims or MRL_PREFIX_DIMS
    fetch = k * (shortlist_mult or MRL_SHORTLIST_MULT)
    return f"""
WITH {_dense_ctes(k)},
res_a AS (
  SELECT query_id, id, rank FROM dense_ranked WHERE rank <= {k}
),
mqv AS (
  SELECT q.query_id, e.embedding::DOUBLE[] AS v
  FROM {queries_values_sql()}
  JOIN embeddings e ON e.vec_id = q.query_vec_id
),
mcv AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
mpre AS (
  SELECT mqv.query_id, mcv.id,
         round(CASE WHEN list_dot_product(mqv.v[1:{pd_}], mqv.v[1:{pd_}]) > 0
                     AND list_dot_product(mcv.v[1:{pd_}], mcv.v[1:{pd_}]) > 0
               THEN list_cosine_similarity(mqv.v[1:{pd_}], mcv.v[1:{pd_}])
               ELSE 0.0 END,
               {PREFETCH_ROUND_DP}) AS pscore
  FROM mqv CROSS JOIN mcv
),
mshort AS (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY pscore DESC, id) AS prank
  FROM mpre QUALIFY prank <= {fetch}
),
mresc AS (
  SELECT s.query_id, s.id,
         round(CASE WHEN list_dot_product(mqv.v, mqv.v) > 0
                     AND list_dot_product(mcv.v, mcv.v) > 0
               THEN list_cosine_similarity(mqv.v, mcv.v)
               ELSE 0.0 END, 6) AS score
  FROM mshort s
  JOIN mcv ON mcv.id = s.id
  JOIN mqv ON mqv.query_id = s.query_id
),
res_b AS (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, id) AS rank
  FROM mresc
  QUALIFY rank <= {k}
),
{_QRELS_CTES.format(qv=queries_values_sql())},
{_ir_metric_chain("_a", "res_a", k)},
{_ir_metric_chain("_b", "res_b", k)}
SELECT query_id,
       a.mrr AS mrr_a, a.recall_at_k AS recall_a, a.ndcg_at_k AS ndcg_a,
       b.mrr AS mrr_b, b.recall_at_k AS recall_b, b.ndcg_at_k AS ndcg_b,
       round(a.mrr - b.mrr, 6) AS d_mrr,
       round(a.recall_at_k - b.recall_at_k, 6) AS d_recall,
       round(a.ndcg_at_k - b.ndcg_at_k, 6) AS d_ndcg
FROM met_a a FULL OUTER JOIN met_b b USING (query_id)
"""


def shuffle_export_sql(
    n_shards: int | None = None, seed: int | None = None
) -> str:
    """Twin of ``packing.shuffle_export``: the same seeded hash60 sort
    key, shard by modulo, position by (sort_key, doc_id) rank within
    the shard."""
    from rag_database_spark.operators.packing import (
        SHUFFLE_NSHARDS,
        SHUFFLE_SEED,
    )

    n = n_shards or SHUFFLE_NSHARDS
    s = seed if seed is not None else SHUFFLE_SEED
    return f"""
WITH k AS (
  SELECT doc_id,
         ('0x' || substr(md5('shuffle{s}:' || doc_id::VARCHAR), 1, 15))
           ::BIGINT AS sort_key
  FROM documents
)
SELECT doc_id, sort_key, (sort_key % {n})::BIGINT AS shard,
       row_number() OVER (PARTITION BY sort_key % {n}
                          ORDER BY sort_key, doc_id)::BIGINT AS pos
FROM k
"""


def hybrid_rrf_sql(
    limit: int = HYBRID_LIMIT,
    weights: dict[str, float] | None = None,
    rrf_k: int = RRF_K,
) -> str:
    weights = weights or DEFAULT_WEIGHTS
    fetch = FETCH_MULTIPLIER * limit
    w_bm25 = float(weights["bm25"])
    w_dense = float(weights["dense"])
    return f"""
WITH {_bm25_ctes(fetch)},
{_dense_ctes(fetch).lstrip()},
legs AS (
  SELECT query_id, doc_id AS id, 'bm25' AS method, rank
  FROM bm25_ranked WHERE rank <= {fetch}
  UNION ALL
  SELECT query_id, id, 'dense' AS method, rank
  FROM dense_ranked WHERE rank <= {fetch}
),
fused AS (
  SELECT query_id, id,
         round(sum(CASE method WHEN 'bm25' THEN {w_bm25}
                               WHEN 'dense' THEN {w_dense} END
                   / ({float(rrf_k)} + rank)), 6) AS rrf_score,
         max(CASE WHEN method = 'bm25' THEN rank END)::BIGINT AS bm25_rank,
         max(CASE WHEN method = 'dense' THEN rank END)::BIGINT AS dense_rank
  FROM legs GROUP BY query_id, id
)
SELECT query_id, id, rrf_score, bm25_rank, dense_rank,
       row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, id)::BIGINT AS rank
FROM fused
QUALIFY rank <= {limit}
"""


# ---------------------------------------------------------------------------
# Relational / filter / text-analytics oracles (round 2)
# ---------------------------------------------------------------------------

# raw tokens (keeps stopwords, drops empties) — mirrors text.raw_tokens
_RAWTOK_CTE = f"""
rt AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, {_TOKENIZE.format(text="text")} AS term FROM documents
  ) WHERE length(term) > 0
)"""

_DB_STATS_TABLES = (
    "customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier",
)


def db_stats_sql() -> str:
    parts = [
        f"SELECT 'table' AS section, '{t}' AS key, (SELECT count(*) FROM {t}) AS cnt"
        for t in _DB_STATS_TABLES
    ]
    parts.append(
        "SELECT 'doc_lang' AS section, lang AS key, count(*) AS cnt "
        "FROM documents GROUP BY lang"
    )
    parts.append(
        "SELECT 'event_type' AS section, event_type AS key, count(*) AS cnt "
        "FROM events GROUP BY event_type"
    )
    return " UNION ALL ".join(parts)


def customer_overview_sql() -> str:
    return """
WITH li AS (
  SELECT l_orderkey, count(*) AS n_items,
         sum(round(l_extendedprice * (1 - l_discount), 4)
             ::DECIMAL(18,4)) AS rev
  FROM lineitem GROUP BY l_orderkey
),
pc AS (
  SELECT o_custkey, count(DISTINCT o_orderkey) AS n_orders,
         sum(n_items) AS n_lineitems, sum(rev)::DOUBLE AS revenue
  FROM orders LEFT JOIN li ON o_orderkey = l_orderkey
  GROUP BY o_custkey
)
SELECT c_custkey, c_name, c_mktsegment,
       coalesce(n_orders, 0) AS n_orders,
       -- sum(BIGINT) is HUGEINT in DuckDB; the driver's pandas/Arrow
       -- fetch coerces HUGEINT to float64 ("15.0" vs Spark's "15"),
       -- so pin every integer aggregate back to BIGINT
       coalesce(n_lineitems, 0)::BIGINT AS n_lineitems,
       coalesce(revenue, 0.0) AS revenue
FROM customer LEFT JOIN pc ON c_custkey = o_custkey
"""


def org_stats_sql() -> str:
    return """
WITH cust AS (
  SELECT c_nationkey, count(*) AS n_customers FROM customer GROUP BY 1
),
supp AS (
  SELECT s_nationkey, count(*) AS n_suppliers FROM supplier GROUP BY 1
),
ords AS (
  SELECT c_nationkey, count(*) AS n_orders,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
           AS total_order_value
  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1
)
SELECT n_nationkey, n_name,
       coalesce(n_customers, 0) AS n_customers,
       coalesce(n_suppliers, 0) AS n_suppliers,
       coalesce(n_orders, 0) AS n_orders,
       coalesce(total_order_value, 0.0) AS total_order_value
FROM nation
LEFT JOIN cust ON n_nationkey = cust.c_nationkey
LEFT JOIN supp ON n_nationkey = supp.s_nationkey
LEFT JOIN ords ON n_nationkey = ords.c_nationkey
"""


def list_documents_page_sql(lang: str = "en", offset: int = 20,
                            limit: int = 10) -> str:
    return f"""
SELECT doc_id, lang, source, n_chars, rn FROM (
  SELECT doc_id, lang, source, n_chars,
         row_number() OVER (ORDER BY n_chars DESC, doc_id)::BIGINT AS rn
  FROM documents WHERE lang = '{lang}'
) WHERE rn > {offset} AND rn <= {offset + limit}
"""


def tenant_scoped_search_sql(org: str, access: tuple[str, ...],
                             n_chars_gte: int, n_chars_lte: int,
                             limit: int) -> str:
    from rag_database_spark.operators.filters import derive_tenant_sql

    access_list = ", ".join(f"'{a}'" for a in access)
    return f"""
WITH {_bm25_ctes(limit)},
tenants AS (
  SELECT doc_id, n_chars, {derive_tenant_sql()} FROM documents
),
eligible AS (
  SELECT doc_id, organization_id FROM tenants
  WHERE organization_id = '{org}'
    AND access_level IN ({access_list})
    AND n_chars >= {n_chars_gte} AND n_chars <= {n_chars_lte}
),
filt AS (
  SELECT b.query_id, b.doc_id, b.score, e.organization_id
  FROM bm25_scored b JOIN eligible e USING (doc_id)
),
ranked AS (
  SELECT query_id, doc_id, score, organization_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id
         )::BIGINT AS rank
  FROM filt
)
SELECT query_id, doc_id, round(score, 6) AS score, rank, organization_id
FROM ranked WHERE rank <= {limit}
"""


def events_json_filter_sql(lo: int = 50, hi: int = 80) -> str:
    return f"""
WITH e AS (
  SELECT event_type, value,
         json_extract_string(props, '$.k')::INT AS k
  FROM events
)
SELECT event_type, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             / count(value), 6) AS avg_value,
       min(k) AS min_k, max(k) AS max_k
FROM e WHERE k >= {lo} AND k <= {hi}
GROUP BY event_type
"""


def lang_id_sql(min_ratio: float = 0.05) -> str:
    from rag_database_spark.functions.text import LANG_MARKERS

    markers = ", ".join(
        f"('{lang}', '{term}')"
        for lang in sorted(LANG_MARKERS)
        for term in LANG_MARKERS[lang]
    )
    return f"""
WITH {_RAWTOK_CTE.lstrip()},
markers(lang, term) AS (VALUES {markers}),
totals AS (SELECT doc_id, count(*) AS n FROM rt GROUP BY doc_id),
hits AS (
  SELECT r.doc_id, m.lang, count(*) AS c
  FROM rt r JOIN markers m USING (term) GROUP BY r.doc_id, m.lang
),
scored AS (
  SELECT t.doc_id, l.lang, coalesce(h.c, 0) / t.n AS ratio
  FROM totals t
  CROSS JOIN (SELECT DISTINCT lang FROM markers) l
  LEFT JOIN hits h ON h.doc_id = t.doc_id AND h.lang = l.lang
),
best AS (
  SELECT doc_id, lang, ratio,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY ratio DESC, lang
         ) AS rn
  FROM scored
)
SELECT d.doc_id,
       CASE WHEN b.ratio >= {min_ratio} THEN b.lang
            ELSE 'unknown' END AS lang_pred
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
"""


def token_stats_sql() -> str:
    from rag_database_spark.functions.text import BPE_RE, SPLIT_RE

    return f"""
WITH {_RAWTOK_CTE.lstrip()},
wl AS (
  SELECT doc_id, sum(length(term)) AS total_len, count(*) AS n
  FROM rt GROUP BY doc_id
)
SELECT d.doc_id,
       len(list_filter(string_split_regex(trim(d.text), '{SPLIT_RE}'),
                       x -> length(x) > 0)) AS n_tokens_ws,
       len(regexp_extract_all(lower(d.text), '{BPE_RE}')) AS n_tokens_bpe,
       length(d.text) AS n_chars_calc,
       round(coalesce(wl.total_len / wl.n, 0.0), 6) AS avg_word_len
FROM documents d LEFT JOIN wl USING (doc_id)
"""


def doc_quality_sql() -> str:
    from rag_database_spark.functions.text import SPECIAL_RE

    return f"""
WITH {_RAWTOK_CTE.lstrip()},
tok_stats AS (
  SELECT doc_id, count(*) AS n, count(DISTINCT term) AS n_distinct,
         sum(CASE WHEN term IN ({_STOPLIST}) THEN 1 ELSE 0 END) AS n_stop
  FROM rt GROUP BY doc_id
),
ratios AS (
  SELECT d.doc_id,
         coalesce(t.n_stop / t.n, 0.0) AS stop_ratio,
         coalesce(t.n_distinct / t.n, 0.0) AS uniq_ratio,
         CASE WHEN length(d.text) > 0 THEN
           (length(d.text) - length(regexp_replace(d.text, '[0-9]', '', 'g')))
             / length(d.text)
         ELSE 0.0 END AS dig_ratio,
         CASE WHEN length(d.text) > 0 THEN
           (length(d.text) - length(regexp_replace(d.text, '{SPECIAL_RE}', '', 'g')))
             / length(d.text)
         ELSE 0.0 END AS spec_ratio,
         length(d.text) AS n_chars
  FROM documents d LEFT JOIN tok_stats t USING (doc_id)
),
scored AS (
  SELECT doc_id, stop_ratio, uniq_ratio, dig_ratio, spec_ratio,
         0.30 * least(n_chars / 200.0, 1.0)
           + 0.25 * least(stop_ratio * 4.0, 1.0)
           + 0.25 * uniq_ratio
           + 0.20 * (1.0 - spec_ratio) AS q
  FROM ratios
)
SELECT doc_id,
       round(stop_ratio, 6) AS stopword_ratio,
       round(uniq_ratio, 6) AS unique_ratio,
       round(dig_ratio, 6) AS digit_ratio,
       round(spec_ratio, 6) AS special_ratio,
       round(q, 6) AS q_score,
       CASE WHEN q >= 0.8 THEN 'high'
            WHEN q >= 0.5 THEN 'medium'
            WHEN q >= 0.2 THEN 'low'
            ELSE 'garbage' END AS tier
FROM scored
"""


def repetition_signals_sql() -> str:
    """Twin of ``text_analytics.repetition_signals``: same line
    distinct/char math via list expressions, same one-pass 2-and-5-gram
    counting via generate_series slices."""
    from rag_database_spark.functions.text import SPLIT_RE
    from rag_database_spark.operators.text_analytics import (
        GOPHER_MAX_DUP_5GRAM_CHAR_FRAC,
        GOPHER_MAX_DUP_LINE_CHAR_FRAC,
        GOPHER_MAX_DUP_LINE_FRAC,
        GOPHER_MAX_TOP_2GRAM_CHAR_FRAC,
    )

    return f"""
WITH lines_t AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)),
                     l -> length(trim(l)) > 0) AS lines
  FROM documents
),
linesig AS (
  SELECT doc_id, len(lines) AS n_lines,
         len(list_distinct(lines)) AS n_dlines,
         coalesce(list_sum(list_transform(lines, l -> length(l))), 0)
           AS line_chars,
         coalesce(list_sum(list_transform(list_distinct(lines),
                                          l -> length(l))), 0)
           AS dline_chars
  FROM lines_t
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '{SPLIT_RE}'),
                     x -> length(x) > 0) AS t
  FROM documents
),
tokchars AS (
  SELECT doc_id,
         coalesce(list_sum(list_transform(t, x -> length(x))), 0)
           AS tok_chars
  FROM toks
),
grams AS (
  SELECT doc_id, 2 AS n, array_to_string(t[i:i + 1], ' ') AS g
  FROM (SELECT doc_id, t,
               unnest(generate_series(1, len(t) - 1)) AS i FROM toks)
  UNION ALL
  SELECT doc_id, 5 AS n, array_to_string(t[i:i + 4], ' ') AS g
  FROM (SELECT doc_id, t,
               unnest(generate_series(1, len(t) - 4)) AS i FROM toks)
),
cnts AS (
  SELECT doc_id, n, g, count(*) AS cnt,
         count(*) * length(replace(g, ' ', '')) AS gchars
  FROM grams GROUP BY doc_id, n, g
),
roll AS (
  SELECT doc_id,
         max(CASE WHEN n = 2 THEN gchars END) AS top2,
         sum(CASE WHEN n = 5 AND cnt > 1 THEN gchars END) AS dup5
  FROM cnts GROUP BY doc_id
),
sig AS (
  SELECT l.doc_id,
         round(CASE WHEN l.n_lines > 0
                    THEN (l.n_lines - l.n_dlines) / l.n_lines
                    ELSE 0.0 END, 6) AS dup_line_frac,
         round(CASE WHEN l.line_chars > 0
                    THEN (l.line_chars - l.dline_chars) / l.line_chars
                    ELSE 0.0 END, 6) AS dup_line_char_frac,
         round(CASE WHEN tc.tok_chars > 0
                    THEN coalesce(r.top2, 0) / tc.tok_chars
                    ELSE 0.0 END, 6) AS top_2gram_char_frac,
         round(CASE WHEN tc.tok_chars > 0
                    THEN coalesce(r.dup5, 0) / tc.tok_chars
                    ELSE 0.0 END, 6) AS dup_5gram_char_frac
  FROM linesig l
  JOIN tokchars tc USING (doc_id)
  LEFT JOIN roll r USING (doc_id)
)
SELECT doc_id, dup_line_frac, dup_line_char_frac,
       top_2gram_char_frac, dup_5gram_char_frac,
       (dup_line_frac <= {GOPHER_MAX_DUP_LINE_FRAC}
        AND dup_line_char_frac <= {GOPHER_MAX_DUP_LINE_CHAR_FRAC}
        AND top_2gram_char_frac <= {GOPHER_MAX_TOP_2GRAM_CHAR_FRAC}
        AND dup_5gram_char_frac <= {GOPHER_MAX_DUP_5GRAM_CHAR_FRAC})
         AS passes
FROM sig
"""


def c4_rules_sql() -> str:
    """Twin of ``text_analytics.c4_rules`` — list_filter over the same
    three line regexes (RE2 ∩ Java syntax), page flags, sentence count
    via terminal-mark counting."""
    from rag_database_spark.operators.text_analytics import (
        C4_MIN_SENTENCES,
        _C4_JS_RE,
        _C4_MIN_WORDS_RE,
        _C4_TERMINAL_RE,
        c4_fixtures_values_sql,
    )

    return rf"""
WITH base AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines
  FROM {c4_fixtures_values_sql()}
),
k AS (
  SELECT doc_id, text, len(lines) AS n_lines,
         coalesce(array_to_string(
           list_filter(lines, l ->
             regexp_matches(l, '{_C4_TERMINAL_RE}')
             AND regexp_matches(l, '{_C4_MIN_WORDS_RE}')
             AND NOT regexp_matches(l, '{_C4_JS_RE}')),
           chr(10)), '') AS kept_text,
         len(list_filter(lines, l ->
             regexp_matches(l, '{_C4_TERMINAL_RE}')
             AND regexp_matches(l, '{_C4_MIN_WORDS_RE}')
             AND NOT regexp_matches(l, '{_C4_JS_RE}'))) AS n_kept_lines
  FROM base
),
sig AS (
  SELECT doc_id, n_lines, n_kept_lines,
         length(kept_text) AS kept_chars,
         length(kept_text)
           - length(regexp_replace(kept_text, '[.!?]', '', 'g'))
           AS n_sentences,
         contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
         contains(text, '{{') AS has_brace
  FROM k
)
SELECT doc_id, n_lines::BIGINT AS n_lines,
       n_kept_lines::BIGINT AS n_kept_lines,
       kept_chars::BIGINT AS kept_chars,
       n_sentences::BIGINT AS n_sentences,
       has_lorem_ipsum, has_brace,
       (n_sentences >= {C4_MIN_SENTENCES}
        AND NOT has_lorem_ipsum AND NOT has_brace) AS passes
FROM sig
"""


def flagged_words_sql() -> str:
    """Twin of ``text_analytics.flagged_words`` — the same raw-token
    list (lowercase → punctuation→space → whitespace split, empties
    dropped, stopwords KEPT) probed against the same literal IN-list,
    ratio rounded at 6dp, both the C4 any-hit and Dolma ratio rules."""
    from rag_database_spark.operators.text_analytics import (
        FLAGGED_MAX_FRAC,
        FLAGGED_WORDS,
    )

    inlist = ", ".join(f"'{w}'" for w in FLAGGED_WORDS)
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(
             regexp_replace(lower(text), '{PUNCT_RE}', ' ', 'g'),
             '{SPLIT_RE}'), x -> length(x) > 0) AS t
  FROM documents
),
sig AS (
  SELECT doc_id, len(t) AS n_words,
         len(list_filter(t, x -> x IN ({inlist}))) AS n_flagged
  FROM toks
)
SELECT doc_id, n_words::BIGINT AS n_words, n_flagged::BIGINT AS n_flagged,
       round(CASE WHEN n_words > 0 THEN n_flagged / n_words
                  ELSE 0.0 END, 6) AS flagged_frac,
       (n_flagged > 0) AS any_flagged,
       (round(CASE WHEN n_words > 0 THEN n_flagged / n_words
                   ELSE 0.0 END, 6) <= {FLAGGED_MAX_FRAC}) AS passes
FROM sig
"""


def stratified_sample_sql(
    seed: int = 42, fractions: dict[str, float] | None = None
) -> str:
    """Deterministic quality-stratified sampling twin
    (text_analytics.stratified_sample deterministic=True): tier from
    the doc_quality pipeline, keep iff the 60-bit md5 hash of
    ``seed:doc_id`` is below ``fraction × 2^60`` — integer-exact, so
    both engines derive the identical keep set."""
    if fractions is None:
        fractions = {"high": 1.0, "medium": 0.5, "low": 0.1, "garbage": 0.0}
    cases = " ".join(
        f"WHEN '{tier}' THEN {int(frac * (1 << 60))}"
        for tier, frac in fractions.items()
    )
    return f"""
WITH dq AS ({doc_quality_sql()})
SELECT doc_id, tier
FROM dq
WHERE ('0x' || substr(md5('{seed}:' || doc_id::VARCHAR), 1, 15))::BIGINT
      < CASE tier {cases} END
"""


def temperature_sample_sql(budget_frac: float, seed: int) -> str:
    """Twin of ``text_analytics.temperature_sample`` (τ = 2): same
    rounded-Σ√ denominator, same left-associated IEEE op chain for
    the rates, same 60-bit md5 keep threshold — bit-identical keep
    sets cross-engine."""
    b = repr(budget_frac)
    return f"""
WITH per_src AS (
  SELECT source, sum(n_chars) AS n_sz, count(*) AS n_docs
  FROM documents GROUP BY source
),
den AS (
  SELECT round(sum(sqrt(n_sz::DOUBLE)), 6) AS denom,
         sum(n_sz)::DOUBLE AS total
  FROM per_src
),
rates AS (
  SELECT source, n_sz, n_docs,
         least(1.0, {b} * d.total * sqrt(n_sz::DOUBLE)
                    / d.denom / n_sz::DOUBLE) AS rate
  FROM per_src, den d
),
kept AS (
  SELECT d.source, count(*) AS n_kept
  FROM documents d JOIN rates r USING (source)
  WHERE ('0x' || substr(md5('{seed}:' || d.doc_id::VARCHAR), 1, 15))::BIGINT
        < floor(r.rate * 1152921504606846976.0)::BIGINT
  GROUP BY d.source
)
SELECT r.source,
       r.n_sz::BIGINT AS n_sz,
       r.n_docs::BIGINT AS n_docs,
       round(r.rate, 6) AS keep_rate,
       coalesce(k.n_kept, 0)::BIGINT AS n_kept
FROM rates r LEFT JOIN kept k USING (source)
"""


def gopher_rules_sql() -> str:
    from rag_database_spark.operators.text_analytics import (
        GOPHER_MAX_BULLET_LINE_FRAC,
        GOPHER_MAX_ELLIPSIS_LINE_FRAC,
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_SYMBOL_WORD_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_WORD_FRAC,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_WORDS,
    )

    return f"""
WITH stripped_t AS (
  -- full-whitespace strip: trim() only removes spaces, and a doc
  -- ending in \\n would count an empty-string "word" (engine twin:
  -- text_analytics.gopher_rules)
  SELECT doc_id, text,
         regexp_replace(text, '^\\s+|\\s+$', '', 'g') AS st
  FROM documents
),
base AS (
  SELECT doc_id,
         CASE WHEN length(st) = 0 THEN 0
              ELSE len(regexp_split_to_array(st, '\\s+')) END
           AS n_words,
         len(string_split(text, chr(10))) AS n_lines,
         length(regexp_replace(text, '\\s', '', 'g')) AS non_space,
         (len(string_split(text, '#')) - 1
          + len(string_split(text, '...')) - 1) AS n_symbols,
         len(list_filter(string_split(text, chr(10)),
             l -> regexp_matches(l, '^\\s*[-*•]'))) AS bullet_lines,
         len(list_filter(string_split(text, chr(10)),
             l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS ellipsis_lines,
         len(list_filter(regexp_split_to_array(st, '\\s+'),
             w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words
  FROM stripped_t
),
m AS (
  SELECT doc_id, n_words::BIGINT AS n_words,
         round(CASE WHEN n_words > 0 THEN non_space / n_words
                    ELSE 0.0 END, 6) AS mean_word_len,
         round(CASE WHEN n_words > 0 THEN n_symbols / n_words
                    ELSE 0.0 END, 6) AS symbol_word_ratio,
         round(bullet_lines / n_lines, 6) AS bullet_line_frac,
         round(ellipsis_lines / n_lines, 6) AS ellipsis_line_frac,
         round(CASE WHEN n_words > 0 THEN alpha_words / n_words
                    ELSE 0.0 END, 6) AS alpha_word_frac
  FROM base
)
SELECT m.*,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
        AND mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
        AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}
        AND symbol_word_ratio <= {GOPHER_MAX_SYMBOL_WORD_RATIO}
        AND bullet_line_frac <= {GOPHER_MAX_BULLET_LINE_FRAC}
        AND ellipsis_line_frac <= {GOPHER_MAX_ELLIPSIS_LINE_FRAC}
        AND alpha_word_frac >= {GOPHER_MIN_ALPHA_WORD_FRAC}) AS passes
FROM m
"""


def route_stats_sql() -> str:
    """C1 dispatch oracle (chunking_service.py:63-69): quality tier →
    strategy routing, verified on per-strategy doc counts and char
    volume (the chunk CONTENTS of the C4 strategies stay non-SQL;
    this pins the router itself)."""
    from rag_database_spark.operators.chunking import STRATEGY_BY_TIER

    case = " ".join(
        f"WHEN '{tier}' THEN '{strat}'"
        for tier, strat in STRATEGY_BY_TIER.items()
    )
    return f"""
SELECT strategy, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM (
  SELECT CASE dq.tier {case} END AS strategy, d.n_chars
  FROM ({doc_quality_sql()}) dq JOIN documents d ON dq.doc_id = d.doc_id
) GROUP BY strategy
"""


def bloom_gate_sql(mod: int, m_bits: int, k: int) -> str:
    """Twin of ``dedup.bloom_gate`` on the fixture split: the packed
    bitmap over standing-corpus fingerprints (docs with
    doc_id % mod ≠ 0) rebuilt from the same seed-prefixed md5 probe
    chain, then the incoming batch's k probes checked against it —
    bit-identical words, so n_hits/maybe_dup match exactly."""

    def probes(where: str, with_id: bool) -> str:
        cols = "doc_id, " if with_id else ""
        return "\n  UNION ALL\n".join(
            f"  SELECT {cols}(('0x' || substr(md5('bloom{i}:' || f), 1, 15))"
            f"::BIGINT % {m_bits}) AS pos FROM fp WHERE {where}"
            for i in range(k)
        )

    return f"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(lower(text), '{PUNCT_RE}', ' ', 'g'),
           '{SPLIT_RE}', ' ', 'g')) AS s
  FROM documents
),
fp AS (SELECT doc_id, md5(s) AS f FROM norm),
cpos AS (
{probes(f"doc_id % {mod} <> 0", with_id=False)}
),
fw AS (
  SELECT pos >> 5 AS word_idx,
         bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
  FROM cpos GROUP BY 1
),
bpos AS (
{probes(f"doc_id % {mod} = 0", with_id=True)}
)
SELECT doc_id, n_hits, (n_hits = {k}) AS maybe_dup FROM (
  SELECT b.doc_id,
         sum(CASE WHEN w.bits IS NOT NULL
                   AND (w.bits & (1::BIGINT << CAST(b.pos % 32 AS INT))) <> 0
                  THEN 1 ELSE 0 END)::BIGINT AS n_hits
  FROM bpos b LEFT JOIN fw w ON w.word_idx = (b.pos >> 5)
  GROUP BY b.doc_id
)
"""


def bloom_gate_paras_sql(mod: int, m_bits: int, k: int) -> str:
    """Twin of ``dedup.bloom_gate_paragraphs`` on the fixture split:
    newline-split paragraphs (empty-after-normalization dropped, index
    kept so repeats count per occurrence), the standing-paragraph
    bitmap from the same md5 probe chain, per-paragraph all-k-bits
    verdicts, per-doc rollup."""

    def probes(where: str, cols: str) -> str:
        return "\n  UNION ALL\n".join(
            f"  SELECT {cols}(('0x' || substr(md5('bloom{i}:' || f), 1, 15))"
            f"::BIGINT % {m_bits}) AS pos FROM pfp WHERE {where}"
            for i in range(k)
        )

    return f"""
WITH paras AS (
  SELECT doc_id, i - 1 AS para_idx,
         trim(regexp_replace(
           regexp_replace(lower(parts[i]), '{PUNCT_RE}', ' ', 'g'),
           '{SPLIT_RE}', ' ', 'g')) AS s
  FROM (
    SELECT doc_id, parts, unnest(generate_series(1, len(parts))) AS i
    FROM (SELECT doc_id, string_split(text, chr(10)) AS parts
          FROM documents)
  )
),
pfp AS (
  SELECT doc_id, para_idx, md5(s) AS f FROM paras WHERE s <> ''
),
cpos AS (
{probes(f"doc_id % {mod} <> 0", "")}
),
fw AS (
  SELECT pos >> 5 AS word_idx,
         bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
  FROM cpos GROUP BY 1
),
bpos AS (
{probes(f"doc_id % {mod} = 0", "doc_id, para_idx, ")}
),
pv AS (
  SELECT b.doc_id, b.para_idx,
         (sum(CASE WHEN w.bits IS NOT NULL
                    AND (w.bits & (1::BIGINT << CAST(b.pos % 32 AS INT))) <> 0
                   THEN 1 ELSE 0 END) = {k}) AS is_dup
  FROM bpos b LEFT JOIN fw w ON w.word_idx = (b.pos >> 5)
  GROUP BY b.doc_id, b.para_idx
),
roll AS (
  SELECT doc_id, count(*)::BIGINT AS n_paras,
         sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dup_paras
  FROM pv GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(r.n_paras, 0)::BIGINT AS n_paras,
       coalesce(r.n_dup_paras, 0)::BIGINT AS n_dup_paras,
       CASE WHEN coalesce(r.n_paras, 0) > 0
            THEN round(r.n_dup_paras / r.n_paras, 6) END AS dup_para_frac
FROM documents d LEFT JOIN roll r ON r.doc_id = d.doc_id
WHERE d.doc_id % {mod} = 0
"""


def exact_dedup_sql() -> str:
    return f"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(lower(text), '{PUNCT_RE}', ' ', 'g'),
           '{SPLIT_RE}', ' ', 'g')) AS s
  FROM documents
),
fp AS (SELECT doc_id, md5(s) AS fingerprint FROM norm)
SELECT doc_id, fingerprint,
       min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
       doc_id != min(doc_id) OVER (PARTITION BY fingerprint) AS is_dupe
FROM fp
"""


def chunk_documents_sql() -> str:
    from rag_database_spark.operators.chunking import (
        CHUNK_SIZE,
        DOC_SUMMARY_CHARS,
        OVERLAP,
        PAGE_CHARS,
    )

    s, stride, page, summ = (
        CHUNK_SIZE, CHUNK_SIZE - OVERLAP, PAGE_CHARS, DOC_SUMMARY_CHARS,
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '{SPLIT_RE}'),
                     x -> length(x) > 0) AS words
  FROM documents
),
b2 AS (
  SELECT doc_id, words, len(words) AS n,
         array_to_string(words, ' ') AS norm_text,
         length(array_to_string(words, ' ')) AS norm_len
  FROM base WHERE len(words) > 0
),
doc_chunks AS (
  SELECT doc_id, 'document' AS level, 0::BIGINT AS chunk_index,
         CASE WHEN norm_len > {summ}
              THEN substr(norm_text, 1, {summ}) || '...'
              ELSE norm_text END AS chunk_text,
         n::BIGINT AS token_count, 0::BIGINT AS char_start,
         norm_len::BIGINT AS char_end, NULL::BIGINT AS page_number
  FROM b2
),
nc AS (
  SELECT *, CASE WHEN n <= {s} THEN 1
                 ELSE (n - {s} + {stride} - 1) // {stride} + 1
            END AS n_chunks
  FROM b2
),
paras AS (
  SELECT doc_id, words, n,
         unnest(generate_series(0, n_chunks - 1)) AS ci
  FROM nc
),
p2 AS (
  SELECT doc_id, ci::BIGINT AS chunk_index,
         array_to_string(words[ci * {stride} + 1 : ci * {stride} + {s}],
                         ' ') AS chunk_text,
         least({s}, n - ci * {stride})::BIGINT AS token_count,
         (CASE WHEN ci = 0 THEN 0
               ELSE length(array_to_string(words[1 : ci * {stride}], ' ')) + 1
          END)::BIGINT AS char_start
  FROM paras
),
p3 AS (
  SELECT doc_id, 'paragraph' AS level, chunk_index, chunk_text, token_count,
         char_start, (char_start + length(chunk_text))::BIGINT AS char_end,
         (char_start // {page} + 1)::BIGINT AS page_number
  FROM p2
),
allc AS (
  SELECT * FROM doc_chunks UNION ALL SELECT * FROM p3
),
parents AS (
  SELECT doc_id,
         doc_id::VARCHAR || '_document_0_' || substr(md5(chunk_text), 1, 12)
           AS parent
  FROM doc_chunks
)
SELECT a.doc_id,
       a.doc_id::VARCHAR || '_' || a.level || '_' || a.chunk_index::VARCHAR
         || '_' || substr(md5(a.chunk_text), 1, 12) AS chunk_id,
       a.level, a.chunk_index, a.chunk_text, a.token_count,
       a.char_start, a.char_end, a.page_number,
       CASE WHEN a.level = 'paragraph' THEN p.parent END AS parent_id
FROM allc a JOIN parents p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Dedup-family oracles
# ---------------------------------------------------------------------------


def _shingle_ctes(k: int) -> str:
    """words → distinct k-gram shingles (mirrors text.shingles: raw
    tokens = lower, punct→space, whitespace split)."""
    return f"""
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(
           regexp_replace(lower(text), '{PUNCT_RE}', ' ', 'g'), '{SPLIT_RE}'),
           x -> length(x) > 0) AS t
  FROM documents
),
sh AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(t) >= {k}
              THEN list_distinct([array_to_string(t[i:i+{k - 1}], ' ')
                                  for i in range(1, len(t) - {k - 2})])
              ELSE [array_to_string(t, ' ')] END AS sg
  FROM toks WHERE len(t) > 0
),
ex AS MATERIALIZED (SELECT doc_id, unnest(sg) AS s FROM sh),
sz AS MATERIALIZED (SELECT doc_id, len(sg) AS n FROM sh)"""


def near_dup_pairs_sql(threshold: float, k: int) -> str:
    return f"""
WITH {_shingle_ctes(k)},
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT ia AS id_a, ib AS id_b,
       round(c / (x.n + y.n - c), 6) AS jaccard
FROM inter JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
WHERE round(c / (x.n + y.n - c), 6) >= {threshold}
"""


def ingest_pairs_sql(threshold: float, k: int, mod: int) -> str:
    """Cross pairs only (standing corpus = doc_id % mod != 0, incoming
    batch = doc_id % mod = 0) — the exact pair set
    ``dedup.append_pair_index`` writes for the batch via the broadcast
    index probe (within-batch pairs are near_dup_pairs restricted to
    the batch; this entry pins the index-probe side)."""
    return f"""
WITH {_shingle_ctes(k)},
inter AS (
  SELECT least(a.doc_id, b.doc_id) AS ia,
         greatest(a.doc_id, b.doc_id) AS ib,
         a.doc_id AS corp_id, b.doc_id AS batch_id, count(*) AS c
  FROM ex a JOIN ex b ON a.s = b.s
  WHERE a.doc_id % {mod} != 0 AND b.doc_id % {mod} = 0
  GROUP BY 1, 2, 3, 4
)
SELECT ia AS id_a, ib AS id_b,
       round(c / (x.n + y.n - c), 6) AS jaccard
FROM inter
JOIN sz x ON x.doc_id = corp_id
JOIN sz y ON y.doc_id = batch_id
WHERE round(c / (x.n + y.n - c), 6) >= {threshold}
"""


def minhash_signatures_sql(n_hashes: int, k: int) -> str:
    # Kirsch-Mitzenmacher family mirroring dedup.minhash_signatures:
    # one md5 per shingle → (h1, h2 mod 2^56), sig_i = min(h1 + i·h2)
    from rag_database_spark.operators.dedup import KM_H2_MOD

    sigs = ", ".join(
        f"min(h1 + {i} * h2) AS sig_{i}" for i in range(n_hashes)
    )
    return f"""
WITH {_shingle_ctes(k)},
hs AS (
  SELECT doc_id,
         ('0x' || substr(md5(s), 1, 15))::BIGINT AS h1,
         ('0x' || substr(md5(s), 17, 15))::BIGINT % {KM_H2_MOD} AS h2
  FROM ex
)
SELECT doc_id, {sigs} FROM hs GROUP BY doc_id
"""


def simhash_sql(bits: int) -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN tf ELSE -tf END) AS s_{j}"
        for j in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    return f"""
WITH {_RAWTOK_CTE.lstrip()},
tf AS (SELECT doc_id, term, count(*) AS tf FROM rt GROUP BY doc_id, term),
h AS (
  SELECT doc_id, tf,
         ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
  FROM tf
),
s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, ({fp})::BIGINT AS simhash FROM s
"""


def embedding_near_dup_sql(threshold: float) -> str:
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                             b.embedding::DOUBLE[]) >= {threshold}
"""


def quality_report_sql() -> str:
    from rag_database_spark.functions.quality import (
        COMMON_WORDS,
        CONTROL_CHAR_RE,
        GIBBERISH_PATTERNS,
        OCR_ERROR_PATTERNS,
        QUALITY_WEIGHTS,
        STRUCTURE_PATTERNS,
    )
    from rag_database_spark.functions.text import WS_CLASS

    ws = WS_CLASS
    count = lambda pat: f"len(regexp_extract_all(text, '{pat}'))"
    ocr_sum = " + ".join(count(p) for p in OCR_ERROR_PATTERNS)
    gib_sum = " + ".join(count(p) for p in GIBBERISH_PATTERNS)
    struct_sum = " + ".join(count(p) for p in STRUCTURE_PATTERNS)
    common_list = ", ".join(f"'{w}'" for w in COMMON_WORDS)
    w = QUALITY_WEIGHTS
    return f"""
WITH base AS (
  SELECT doc_id, text,
         length(text) AS n,
         len(list_filter(string_split_regex(text, '[{ws}]+'),
                         x -> length(x) > 0)) AS wc,
         (text IS NULL OR length(regexp_replace(regexp_replace(
            coalesce(text,''), '^[{ws}]+', ''), '[{ws}]+$', '')) < 50)
           AS short
  FROM documents
),
txt AS (
  SELECT *,
    (n - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) / n AS alpha,
    len(regexp_extract_all(text, '{CONTROL_CHAR_RE}')) AS control
  FROM base
),
s1 AS (
  SELECT *,
    CASE WHEN wc < 10 THEN 0.1 ELSE greatest(0.0,
      1.0
      - (CASE WHEN wc < 50 THEN 0.3 ELSE 0.0 END)
      - (CASE WHEN alpha < 0.3 THEN 0.3
              WHEN alpha < 0.5 THEN 0.1 ELSE 0.0 END)
      - (CASE WHEN control > 0
              THEN least(0.3, control / n * 10) ELSE 0.0 END)
    ) END AS text_score,
    greatest(0.0, 1.0
      - (CASE WHEN ({ocr_sum}) / (n / 1000) > 10 THEN 0.5
              WHEN ({ocr_sum}) / (n / 1000) > 5 THEN 0.3
              WHEN ({ocr_sum}) / (n / 1000) > 2 THEN 0.1 ELSE 0.0 END)
      - (CASE WHEN ({gib_sum}) / (n / 1000) > 5 THEN 0.3
              WHEN ({gib_sum}) / (n / 1000) > 2 THEN 0.15 ELSE 0.0 END)
    ) AS ocr_score,
    CASE WHEN ({struct_sum}) > 20 THEN 1.0
         WHEN ({struct_sum}) > 10 THEN 0.85
         WHEN ({struct_sum}) > 5 THEN 0.7
         WHEN ({struct_sum}) > 0 THEN 0.6
         ELSE 0.5 END AS structure_score
  FROM txt
),
fmt AS (
  SELECT doc_id,
    len(lines) AS n_lines,
    len(ne) AS m,
    list_aggregate(list_transform(ne, x -> length(x)), 'sum') AS total,
    list_aggregate(list_transform(ne, x -> length(x) * length(x)), 'sum')
      AS sumsq,
    len(list_distinct(list_transform(ne,
      x -> length(x) - length(regexp_replace(x, '^[ \t]+', '')))))
      AS n_indents
  FROM (
    SELECT doc_id, lines,
           list_filter(lines, x -> length(trim(x)) > 0) AS ne
    FROM (SELECT doc_id, string_split_regex(text, '\n') AS lines FROM base)
  )
),
s2 AS (
  SELECT doc_id, greatest(0.0, 1.0
    - (CASE WHEN m > 0 AND
            (sumsq / m - (total / m) * (total / m)) > 10000
            THEN 0.2 ELSE 0.0 END)
    - (CASE WHEN (n_lines - m) / n_lines > 0.5 THEN 0.2 ELSE 0.0 END)
    - (CASE WHEN m > 0 AND n_indents > 20 THEN 0.1 ELSE 0.0 END)
  ) AS format_score
  FROM fmt
),
coh AS (
  SELECT doc_id,
    len(words) AS cwc,
    list_aggregate(list_transform(words, x -> length(x)), 'sum')
      / len(words) AS awl,
    len(list_distinct(words)) / len(words) AS uniq,
    len(list_filter(words, x -> list_contains([{common_list}], x)))
      / len(words) AS common
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[{ws}]+'),
                       x -> length(x) > 0) AS words
    FROM base
  )
  WHERE len(words) > 0
),
s3 AS (
  SELECT doc_id, CASE WHEN cwc < 20 THEN 0.5 ELSE greatest(0.0, 1.0
    - (CASE WHEN awl < 2 OR awl > 12 THEN 0.3
            WHEN awl < 3 OR awl > 8 THEN 0.1 ELSE 0.0 END)
    - (CASE WHEN uniq < 0.1 THEN 0.3
            WHEN uniq > 0.95 AND cwc > 500 THEN 0.1 ELSE 0.0 END)
    - (CASE WHEN common < 0.01 THEN 0.2 ELSE 0.0 END)
  ) END AS coherence_score
  FROM coh
),
guarded AS (
  SELECT s1.doc_id,
    CASE WHEN short THEN 0.0 ELSE text_score END AS text_score,
    CASE WHEN short THEN 0.0 ELSE ocr_score END AS ocr_score,
    CASE WHEN short THEN 0.0 ELSE coalesce(s2.format_score, 0.0)
      END AS format_score,
    CASE WHEN short THEN 0.0 ELSE structure_score END AS structure_score,
    CASE WHEN short THEN 0.0 ELSE coalesce(s3.coherence_score, 0.5)
      END AS coherence_score,
    short
  FROM s1
  LEFT JOIN s2 ON s1.doc_id = s2.doc_id
  LEFT JOIN s3 ON s1.doc_id = s3.doc_id
),
final AS (
  SELECT doc_id, text_score, ocr_score, format_score, structure_score,
         coherence_score,
         CASE WHEN short THEN 0.0 ELSE
           {w['text']} * text_score + {w['ocr']} * ocr_score
           + {w['format']} * format_score
           + {w['structure']} * structure_score
           + {w['coherence']} * coherence_score END AS overall
  FROM guarded
)
SELECT doc_id,
       round(text_score::DOUBLE, 6) AS text_score,
       round(ocr_score::DOUBLE, 6) AS ocr_score,
       round(format_score::DOUBLE, 6) AS format_score,
       round(structure_score::DOUBLE, 6) AS structure_score,
       round(coherence_score::DOUBLE, 6) AS coherence_score,
       round(overall::DOUBLE, 6) AS overall_score,
       CASE WHEN overall >= 0.8 THEN 'high'
            WHEN overall >= 0.5 THEN 'medium'
            WHEN overall >= 0.2 THEN 'low'
            ELSE 'garbage' END AS tier
FROM final
"""


# ---------------------------------------------------------------------------
# Graph oracles — edges derived from same-source sequences + near-dup pairs
# ---------------------------------------------------------------------------


def _edges_ctes(jaccard_threshold: float, k: int) -> str:
    return f"""{_shingle_ctes(k).lstrip()},
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
seq AS (
  SELECT doc_id,
         lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS nxt
  FROM documents
),
edges AS MATERIALIZED (
  SELECT doc_id AS src, nxt AS dst, 'sequence' AS relation_type,
         round(0.5 + (doc_id % 5) * 0.1, 6) AS confidence
  FROM seq WHERE nxt IS NOT NULL
  UNION ALL
  SELECT ia, ib, 'near_dup',
         round(c / (x.n + y.n - c), 6)
  FROM inter JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
  WHERE round(c / (x.n + y.n - c), 6) >= {jaccard_threshold}
)"""


def doc_edges_sql(jaccard_threshold: float, k: int) -> str:
    return f"""
WITH {_edges_ctes(jaccard_threshold, k)}
SELECT src, dst, relation_type, confidence FROM edges
"""


def graph_expand_sql(jaccard_threshold: float, k: int, seed_max: int,
                     max_depth: int, min_confidence: float) -> str:
    return f"""
WITH RECURSIVE {_edges_ctes(jaccard_threshold, k)},
und AS MATERIALIZED (
  SELECT src AS me, dst AS other FROM edges WHERE confidence >= {min_confidence}
  UNION ALL
  SELECT dst, src FROM edges WHERE confidence >= {min_confidence}
),
reach AS (
  SELECT doc_id AS start_id, doc_id, 0 AS depth
  FROM documents WHERE doc_id < {seed_max}
  UNION
  SELECT r.start_id, u.other AS doc_id, r.depth + 1
  FROM reach r JOIN und u ON u.me = r.doc_id
  WHERE r.depth < {max_depth}
)
SELECT start_id, doc_id, min(depth)::BIGINT AS depth
FROM reach GROUP BY start_id, doc_id
HAVING min(depth) > 0
"""


def pagerank_sql(
    jaccard_threshold: float,
    k: int,
    topk: int,
    damping: float,
    iterations: int,
    seed_max: int | None = None,
    weighted: bool = False,
) -> str:
    """Unrolled power iteration mirroring ``graph.pagerank``: the
    fixed round count makes the chain finite, so each round is one
    CTE trio (dangling mass, per-destination contribution sum, new
    rank vector) and the engines differ only in summation order —
    absorbed by the 6dp boundary rounding both sides apply. The
    teleport vector e (r_{i+1} = (1−d)·e + d·(contrib + dangling·e),
    r0 = e) is uniform over all documents, or — with ``seed_max`` —
    uniform over the seed set (personalized PageRank)."""
    return _pagerank_body_sql(
        f"WITH {_edges_ctes(jaccard_threshold, k)}",
        "documents", "doc_id", topk, damping, iterations,
        seed_max=seed_max, weighted=weighted,
    )


def _pagerank_body_sql(
    edges_with: str,
    node_table: str,
    node_id: str,
    topk: int,
    damping: float,
    iterations: int,
    seed_max: int | None = None,
    weighted: bool = False,
) -> str:
    """The unrolled power-iteration chain over an ``edges`` CTE the
    caller supplies (``edges_with`` must end by defining
    edges(src, dst[, confidence])) and a node table for the teleport
    base — shared by the doc-graph and knn-graph pagerank twins."""
    d = repr(damping)
    if seed_max is None:
        e_cte = f"""nn AS (SELECT count(*)::DOUBLE AS n FROM {node_table}),
b AS (
  SELECT {node_id} AS id, 1.0 / (SELECT n FROM nn) AS e
  FROM {node_table}
)"""
    else:
        e_cte = f"""sk AS (
  SELECT count(*)::DOUBLE AS kk FROM {node_table}
  WHERE {node_id} < {seed_max}
),
b AS (
  SELECT {node_id} AS id,
         CASE WHEN {node_id} < {seed_max}
              THEN 1.0 / (SELECT kk FROM sk) ELSE 0.0 END AS e
  FROM {node_table}
)"""
    if weighted:
        # MATERIALIZED: the unrolled chain references und/deg in every
        # round; without it DuckDB re-inlines the edge construction per
        # reference (measured 79 s -> ~2 s on the doc-graph twin)
        graph_ctes = """sym AS (
  SELECT src AS me, dst AS other, confidence FROM edges
  UNION ALL
  SELECT dst, src, confidence FROM edges
),
und AS MATERIALIZED (
  SELECT me, other, max(confidence) AS w FROM sym
  WHERE me <> other GROUP BY me, other
  HAVING max(confidence) > 0
),
deg AS MATERIALIZED (
  SELECT me,
         round(CAST(sum(CAST(w AS DECIMAL(16,6))) AS DOUBLE), 6) AS deg
  FROM und GROUP BY me
)"""
        contrib_expr = "sum(p.r * u.w / g.deg)"
    else:
        graph_ctes = """sym AS (
  SELECT src AS me, dst AS other FROM edges
  UNION ALL
  SELECT dst, src FROM edges
),
und AS MATERIALIZED (
  SELECT DISTINCT me, other FROM sym WHERE me <> other
),
deg AS MATERIALIZED (
  SELECT me, count(*)::DOUBLE AS deg FROM und GROUP BY me
)"""
        contrib_expr = "sum(p.r / g.deg)"
    parts = [
        f"""{graph_ctes},
{e_cte},
r0 AS (SELECT id, e AS r FROM b)"""
    ]
    for i in range(iterations):
        parts.append(f"""dang{i} AS (
  SELECT coalesce(sum(r), 0.0) AS m FROM r{i}
  WHERE id NOT IN (SELECT me FROM deg)
),
c{i} AS (
  SELECT u.other AS id, {contrib_expr} AS contrib
  FROM r{i} p JOIN und u ON u.me = p.id JOIN deg g ON g.me = u.me
  GROUP BY u.other
),
r{i + 1} AS (
  SELECT b.id,
         (1.0 - {d}) * b.e
         + {d} * (coalesce(c.contrib, 0.0)
                  + (SELECT m FROM dang{i}) * b.e) AS r
  FROM b LEFT JOIN c{i} c USING (id)
)""")
    chain = ",\n".join(parts)
    return f"""
{edges_with},
{chain}
SELECT id AS {node_id}, round(r, 6) AS score,
       row_number() OVER (ORDER BY round(r, 6) DESC, id) AS rank
FROM r{iterations}
ORDER BY score DESC, {node_id}
LIMIT {topk}
"""


def knn_pagerank_sql(knn_k: int, topk: int, damping: float,
                     iterations: int) -> str:
    """Unweighted PageRank over the k-NN cosine graph — the knn-edge
    instantiation of the shared unrolled chain (semantic centrality:
    which embeddings sit in dense neighborhoods)."""
    # MATERIALIZED: without it DuckDB inlines the O(N²·d) knn scan
    # into every round's und/deg reference (the dangling NOT-IN alone
    # re-evaluates it per row) and the chain takes minutes, not ms
    edges_with = f"""WITH knn AS MATERIALIZED ({knn_graph_sql(knn_k)}),
edges AS MATERIALIZED (SELECT src, dst FROM knn)"""
    return _pagerank_body_sql(
        edges_with, "embeddings", "vec_id", topk, damping, iterations,
    )


def triangles_sql(jaccard_threshold: float, k: int) -> str:
    """Twin of ``graph.triangles``: same (degree, id) edge
    orientation, wedge join at the minimum-rank apex, canonical-pair
    closing check; counts integer-exact, clustering one rounded
    division."""
    return f"""
WITH {_edges_ctes(jaccard_threshold, k)},
sym AS (
  SELECT src AS me, dst AS other FROM edges
  UNION ALL
  SELECT dst, src FROM edges
),
und AS (SELECT DISTINCT me, other FROM sym WHERE me <> other),
deg AS (SELECT me, count(*) AS d FROM und GROUP BY me),
ce AS (SELECT me AS a, other AS b FROM und WHERE me < other),
wd AS (
  SELECT ce.a, ce.b, x.d AS da, y.d AS db
  FROM ce JOIN deg x ON x.me = ce.a JOIN deg y ON y.me = ce.b
),
o AS (
  SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
         CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v
  FROM wd
),
w AS (
  SELECT x.u, x.v AS v1, y.v AS v2
  FROM o x JOIN o y ON y.u = x.u AND x.v < y.v
),
tri AS (SELECT w.u, w.v1, w.v2 FROM w JOIN ce ON ce.a = w.v1 AND ce.b = w.v2),
pn AS (
  SELECT me, count(*) AS n_tri FROM (
    SELECT u AS me FROM tri
    UNION ALL SELECT v1 FROM tri
    UNION ALL SELECT v2 FROM tri
  ) GROUP BY me
)
SELECT deg.me AS node,
       deg.d::BIGINT AS degree,
       coalesce(pn.n_tri, 0)::BIGINT AS n_triangles,
       round(CASE WHEN deg.d >= 2
                  THEN 2.0 * coalesce(pn.n_tri, 0)::DOUBLE
                       / (deg.d::DOUBLE * (deg.d::DOUBLE - 1.0))
                  ELSE 0.0 END, 6) AS clustering
FROM deg LEFT JOIN pn USING (me)
"""


def graph_stats_sql(jaccard_threshold: float, k: int) -> str:
    return f"""
WITH {_edges_ctes(jaccard_threshold, k)}
SELECT relation_type, count(*) AS n_edges,
       round(CAST(sum(CAST(confidence AS DECIMAL(16,6))) AS DOUBLE)
             / count(confidence), 6) AS avg_confidence,
       count(DISTINCT src) AS n_sources,
       count(DISTINCT dst) AS n_targets
FROM edges GROUP BY relation_type
"""


# ---------------------------------------------------------------------------
# ColPali / MaxSim oracles
# ---------------------------------------------------------------------------


def _colpali_ctes(fetch: int | None = None) -> str:
    """MaxSim CTEs, mirroring the engine's prefetch + rescore
    (similarity.maxsim_scores_pruned): prefetch ``fetch`` candidate
    pages per query by cosine over avg-pooled vectors, then exact
    token×patch MaxSim on the candidate pairs only. ``fetch=None``
    means the engine-default pruned fetch (FETCH_MULTIPLIER ×
    HYBRID_LIMIT — the same number maxsim_scores_pruned receives from
    every production call site); there is no brute-force path here —
    prune==brute is pinned by the Spark-side unit test instead
    (tests/test_similarity.py). The prefetch cosine is rounded to
    PREFETCH_ROUND_DP decimals before ranking, mirroring the engine,
    so candidate membership at the fetch boundary cannot diverge
    between DuckDB's avg()+list_dot_product and the engine's
    sequential fold-sum pooling + numpy GEMM."""
    from rag_database_spark.operators.fusion import FETCH_MULTIPLIER
    from rag_database_spark.operators.similarity import PREFETCH_ROUND_DP
    from rag_database_spark.workload import (
        DOC_PAGES,
        HYBRID_LIMIT,
        PAGE_GROUP,
        QUERY_TOKENS,
    )

    if fetch is None:
        fetch = FETCH_MULTIPLIER * HYBRID_LIMIT
    return f"""
qp AS (
  SELECT q.query_id, e.vec_id AS tok_id, e.embedding::DOUBLE[] AS tvec
  FROM {queries_values_sql()}
  JOIN embeddings e
    ON e.vec_id >= q.query_vec_id
   AND e.vec_id < q.query_vec_id + {QUERY_TOKENS}
),
pp AS (
  SELECT vec_id // {PAGE_GROUP} AS page_id, embedding::DOUBLE[] AS pvec
  FROM embeddings
),
qpool AS (
  SELECT query_id, list(v ORDER BY i) AS qvec FROM (
    SELECT query_id, i, avg(tvec[i]) AS v FROM (
      SELECT query_id, tvec,
             unnest(generate_series(1, len(tvec))) AS i
      FROM qp
    ) GROUP BY 1, 2
  ) GROUP BY 1
),
ppool AS (
  SELECT page_id, list(v ORDER BY i) AS pvec FROM (
    SELECT page_id, i, avg(pvec[i]) AS v FROM (
      SELECT page_id, pvec,
             unnest(generate_series(1, len(pvec))) AS i
      FROM pp
    ) GROUP BY 1, 2
  ) GROUP BY 1
),
cand AS (
  SELECT query_id, page_id FROM (
    SELECT q.query_id, p.page_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_dot_product(q.qvec, p.pvec)
                      / (sqrt(list_dot_product(q.qvec, q.qvec))
                         * sqrt(list_dot_product(p.pvec, p.pvec))),
                      {PREFETCH_ROUND_DP}) DESC,
                      p.page_id
           ) AS prank
    FROM qpool q CROSS JOIN ppool p
  ) WHERE prank <= {fetch}
),
tokmax AS (
  SELECT qp.query_id, qp.tok_id, c.page_id,
         max(list_dot_product(qp.tvec, pp.pvec)) AS m
  FROM cand c
  JOIN qp ON qp.query_id = c.query_id
  JOIN pp ON pp.page_id = c.page_id
  GROUP BY 1, 2, 3
),
page_scores AS (
  SELECT query_id, page_id, sum(m) AS score FROM tokmax GROUP BY 1, 2
),
page_ranked AS (
  SELECT query_id, page_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, page_id
         ) AS rank
  FROM page_scores
)"""


def maxsim_topk_sql(limit: int = HYBRID_LIMIT) -> str:
    return f"""
WITH {_colpali_ctes()}
SELECT query_id, page_id, round(score, 6) AS score, rank::BIGINT AS rank
FROM page_ranked WHERE rank <= {limit}
"""


def hybrid_rrf3_sql(limit: int = HYBRID_LIMIT) -> str:
    from rag_database_spark.operators.fusion import DOC_BOOST
    from rag_database_spark.workload import DOC_PAGES, PAGE_GROUP

    w_bm25 = DEFAULT_WEIGHTS["bm25"]
    w_dense = DEFAULT_WEIGHTS["dense"]
    w_colpali = DEFAULT_WEIGHTS["colpali"]
    fetch = FETCH_MULTIPLIER * limit
    return f"""
WITH {_bm25_ctes(fetch)},
{_dense_ctes(fetch).lstrip()},
{_colpali_ctes().lstrip()},
chunks AS (
  SELECT vec_id AS id,
         vec_id // {PAGE_GROUP * DOC_PAGES} AS document_id,
         vec_id // {PAGE_GROUP} AS page_number
  FROM embeddings
),
cp_pages AS (
  SELECT query_id, page_id // {DOC_PAGES} AS document_id,
         page_id AS page_number, score
  FROM page_ranked WHERE rank <= {fetch}
),
cp_doc AS (
  SELECT query_id, document_id, max(score) AS doc_max
  FROM cp_pages GROUP BY 1, 2
),
cp_prop AS (
  SELECT d.query_id, c.id, coalesce(p.score, d.doc_max * {DOC_BOOST}) AS pscore
  FROM chunks c
  JOIN cp_doc d ON c.document_id = d.document_id
  LEFT JOIN cp_pages p
    ON p.query_id = d.query_id AND p.document_id = c.document_id
   AND p.page_number = c.page_number
),
colpali_ranked AS (
  SELECT query_id, id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY pscore DESC, id
         ) AS rank
  FROM cp_prop
),
legs3 AS (
  SELECT query_id, doc_id AS id, 'bm25' AS method, rank
  FROM bm25_ranked WHERE rank <= {fetch}
  UNION ALL
  SELECT query_id, id, 'dense' AS method, rank
  FROM dense_ranked WHERE rank <= {fetch}
  UNION ALL
  SELECT query_id, id, 'colpali' AS method, rank
  FROM colpali_ranked WHERE rank <= {fetch}
),
fused3 AS (
  SELECT query_id, id,
         round(sum(CASE method WHEN 'bm25' THEN {w_bm25}
                               WHEN 'dense' THEN {w_dense}
                               WHEN 'colpali' THEN {w_colpali} END
                   / ({float(RRF_K)} + rank)), 6) AS rrf_score,
         max(CASE WHEN method = 'bm25' THEN rank END)::BIGINT AS bm25_rank,
         max(CASE WHEN method = 'dense' THEN rank END)::BIGINT AS dense_rank,
         max(CASE WHEN method = 'colpali' THEN rank END)::BIGINT AS colpali_rank
  FROM legs3 GROUP BY query_id, id
)
SELECT query_id, id, rrf_score, bm25_rank, dense_rank, colpali_rank,
       row_number() OVER (
         PARTITION BY query_id ORDER BY rrf_score DESC, id
       )::BIGINT AS rank
FROM fused3
QUALIFY rank <= {limit}
"""


# ---------------------------------------------------------------------------
# Query-analysis (F2-F8) + enhanced search (Q2) oracles
# ---------------------------------------------------------------------------


def query_analysis_sql() -> str:
    from rag_database_spark.operators.query_analysis import (
        ACRONYMS,
        BROAD_KEYWORDS,
        DOMAIN_KEYWORDS,
        MODALITY_WEIGHTS,
        PRECISION_KEYWORDS,
        PRECISION_PATTERNS,
        QUERY_TYPE_KEYWORDS,
        VISUAL_INTENT_PATTERNS,
        VISUAL_PATTERNS,
        VISUAL_THRESHOLD,
    )
    from rag_database_spark.workload import analysis_queries_values_sql

    low = "lower(query_text)"

    # F7 complexity
    p_cnt = " + ".join(
        f"(CASE WHEN contains({low}, '{kw}') THEN 1 ELSE 0 END)"
        for kw in PRECISION_KEYWORDS
    )
    b_cnt = " + ".join(
        f"(CASE WHEN contains({low}, '{kw}') THEN 1 ELSE 0 END)"
        for kw in BROAD_KEYWORDS
    )

    # F6 cascade
    qt = "'broad'"
    for qtype, words in reversed(QUERY_TYPE_KEYWORDS):
        cond = " OR ".join(f"contains({low}, '{w}')" for w in words)
        qt = f"CASE WHEN {cond} THEN '{qtype}' ELSE {qt} END"

    # F5 first-match cascade
    ptype_cases = ", ".join(
        f"CASE WHEN regexp_matches(query_text, '{p}') THEN '{name}' END"
        for p, name in PRECISION_PATTERNS
    )
    ref_cases = ", ".join(
        f"CASE WHEN regexp_matches(query_text, '{p}') "
        f"THEN nullif(regexp_extract(query_text, '{p}', 1), '') END"
        for p, _ in PRECISION_PATTERNS
    )

    # F8 visual score
    vterms = " + ".join(
        f"(CASE WHEN regexp_matches({low}, '{p}') THEN 0.3::DOUBLE "
        f"ELSE 0.0::DOUBLE END)"
        for p, _t in VISUAL_PATTERNS
    )
    iterms = " + ".join(
        f"(CASE WHEN regexp_matches({low}, '{p}') THEN 0.25::DOUBLE "
        f"ELSE 0.0::DOUBLE END)"
        for p in VISUAL_INTENT_PATTERNS
    )
    vs = f"least({vterms} + {iterms}, 1.0::DOUBLE)"
    nt = " + ".join(
        f"(CASE WHEN regexp_matches({low}, '{p}') THEN 1 ELSE 0 END)"
        for p, _t in VISUAL_PATTERNS
    )

    def w_base(leg):
        return (
            f"CASE WHEN vscore >= 0.5 THEN {MODALITY_WEIGHTS['visual'][leg]}::DOUBLE "
            f"WHEN vscore >= {VISUAL_THRESHOLD} THEN {MODALITY_WEIGHTS['mixed'][leg]}::DOUBLE "
            f"ELSE {MODALITY_WEIGHTS['text'][leg]}::DOUBLE END"
        )

    # F3 domain argmax (ascending-name tie-break = CASE order)
    domains = sorted(DOMAIN_KEYWORDS)
    hit_exprs = {
        d: " + ".join(
            f"(CASE WHEN contains({low}, '{kw}') THEN 1 ELSE 0 END)"
            for kw in DOMAIN_KEYWORDS[d]
        )
        for d in domains
    }
    hits_cols = ", ".join(f"({e}) AS h_{d}" for d, e in hit_exprs.items())
    gmax = "greatest(" + ", ".join(f"h_{d}" for d in domains) + ")"
    dom_case = f"CASE WHEN {gmax} = 0 THEN 'general' " + " ".join(
        f"WHEN h_{d} = {gmax} THEN '{d}'" for d in domains
    ) + " END"

    # F2/F4 acronym expansion (unrolled, ALL occurrences like the engine)
    by_acr: dict[str, list] = {}
    for acr, exp, dom, kws in ACRONYMS:
        by_acr.setdefault(acr, []).append((exp, dom, kws))
    eq = "query_text"
    for acr in sorted(by_acr):
        cands = sorted(by_acr[acr])
        scores = []
        for exp, dom, kws in cands:
            s = f"(CASE WHEN domain = '{dom}' THEN 2 ELSE 0 END)"
            for kw in kws:
                s += f" + (CASE WHEN contains({low}, '{kw}') THEN 1 ELSE 0 END)"
            scores.append((exp, s))
        if len(scores) == 1:
            best = f"'{scores[0][0]}'"
        else:
            # expansion-ascending tie-break: earlier candidate wins on >=
            best = f"'{scores[-1][0]}'"
            for exp, s in reversed(scores[:-1]):
                rest = " , ".join(x[1] for x in scores[scores.index((exp, s)) + 1:])
                best = (
                    f"CASE WHEN ({s}) >= greatest({rest}) "
                    f"THEN '{exp}' ELSE {best} END"
                )
        pat = rf"\b{acr}\b"
        eq = f"regexp_replace({eq}, '{pat}', '{acr} (' || {best} || ')', 'g')"

    return f"""
WITH base AS (
  SELECT query_id, query_text FROM {analysis_queries_values_sql()}
),
step1 AS (
  SELECT query_id, query_text,
         {qt} AS query_type,
         coalesce({ptype_cases}) AS precision_type,
         coalesce({ref_cases}) AS reference,
         ({p_cnt}) AS p_score,
         ({b_cnt}) AS b_score,
         {vs} AS vscore,
         ({nt}) AS n_targets,
         {hits_cols}
  FROM base
),
step2 AS (
  SELECT *, {dom_case} AS domain,
         {w_base('bm25')} AS wb, {w_base('dense')} AS wd,
         CASE WHEN n_targets > 0
              THEN least({w_base('colpali')}
                         + least(0.1::DOUBLE * n_targets, 0.15::DOUBLE),
                         0.7::DOUBLE)
              ELSE {w_base('colpali')} END AS wc
  FROM step1
)
SELECT query_id, query_type,
       precision_type IS NOT NULL AS is_precision,
       precision_type, reference,
       CASE WHEN p_score > b_score THEN 'sentence'
            WHEN b_score > p_score AND b_score >= 2 THEN 'section'
            WHEN b_score > p_score THEN 'paragraph'
            ELSE 'paragraph' END AS chunk_level,
       round((CASE WHEN p_score > b_score AND p_score >= 2 THEN 0.9
            WHEN p_score > b_score THEN 0.7
            WHEN b_score > p_score AND b_score >= 2 THEN 0.9
            WHEN b_score > p_score THEN 0.7
            ELSE 0.5 END)::DOUBLE, 6) AS complexity_confidence,
       round(vscore, 6) AS visual_score,
       CASE WHEN vscore >= 0.5 THEN 'visual'
            WHEN vscore >= {VISUAL_THRESHOLD} THEN 'mixed'
            ELSE 'text' END AS modality,
       round(wb / (wb + wd + wc), 6) AS w_bm25,
       round(wd / (wb + wd + wc), 6) AS w_dense,
       round(wc / (wb + wd + wc), 6) AS w_colpali,
       domain,
       {eq} AS enhanced_query
FROM step2
"""


def _enhanced_ctes(limit: int) -> str:
    from rag_database_spark.operators.query_analysis import (
        PRECISION_BOOST,
        PRECISION_FALLBACK_LIMIT,
        PRECISION_PATTERNS,
    )

    fetch = FETCH_MULTIPLIER * 2 * limit
    w_bm25 = DEFAULT_WEIGHTS["bm25"]
    w_dense = DEFAULT_WEIGHTS["dense"]
    ptype_cases = ", ".join(
        f"CASE WHEN regexp_matches(query_text, '{p}') THEN '{name}' END"
        for p, name in PRECISION_PATTERNS
    )
    ref_cases = ", ".join(
        f"CASE WHEN regexp_matches(query_text, '{p}') "
        f"THEN nullif(regexp_extract(query_text, '{p}', 1), '') END"
        for p, _ in PRECISION_PATTERNS
    )
    return f"""{_bm25_ctes(fetch).lstrip()},
{_dense_ctes(fetch).lstrip()},
legs AS (
  SELECT query_id, doc_id AS id, 'bm25' AS method, rank
  FROM bm25_ranked WHERE rank <= {fetch}
  UNION ALL
  SELECT query_id, id, 'dense' AS method, rank
  FROM dense_ranked WHERE rank <= {fetch}
),
fused AS (
  SELECT query_id, id,
         round(sum(CASE method WHEN 'bm25' THEN {w_bm25}
                               WHEN 'dense' THEN {w_dense} END
                   / ({float(RRF_K)} + rank)), 6) AS rrf_score
  FROM legs GROUP BY query_id, id
),
base_ranked AS (
  SELECT query_id, id, rrf_score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY rrf_score DESC, id
         ) AS rank
  FROM fused
),
base_rows AS (
  SELECT query_id, id, rrf_score AS final_score, 'base' AS source,
         rank AS ord
  FROM base_ranked WHERE rank <= {2 * limit}
),
pterms_raw AS (
  SELECT query_id,
         coalesce({ptype_cases}) AS ptype,
         coalesce({ref_cases}) AS ref
  FROM {queries_values_sql()}
),
pterms AS (
  SELECT query_id,
         split_part(ptype, '_', 1) || ' ' || ref AS search_term
  FROM pterms_raw WHERE ptype IS NOT NULL AND ref IS NOT NULL
),
pq_tok AS (
  SELECT query_id, {_TOKENIZE.format(text="search_term")} AS term
  FROM pterms
),
pq_terms AS (
  SELECT query_id, term, count(*) AS qtf FROM pq_tok
  WHERE length(term) >= {MIN_TOKEN_LEN} AND term NOT IN ({_STOPLIST})
  GROUP BY query_id, term
),
p_scored AS (
  SELECT q.query_id, p.doc_id,
         sum(q.qtf * ts.idf * (p.tf * ({K1} + 1))
             / (p.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))) AS score
  FROM pq_terms q
  JOIN postings p USING (term)
  JOIN termstats ts ON ts.term = q.term
  JOIN doclens dl ON dl.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id
),
p_ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id
         ) AS rank
  FROM p_scored
),
prec_rows AS (
  SELECT query_id, doc_id AS id,
         round(score + {PRECISION_BOOST}, 6) AS final_score,
         'precision' AS source, rank AS ord
  FROM p_ranked WHERE rank <= {PRECISION_FALLBACK_LIMIT}
),
merged AS (
  SELECT *, CASE WHEN source = 'precision' THEN 0 ELSE 1 END AS prio
  FROM (SELECT * FROM prec_rows UNION ALL SELECT * FROM base_rows)
),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id, id ORDER BY prio, ord
    ) AS rn
    FROM merged
  ) WHERE rn = 1
),
enhanced AS (
  SELECT query_id, id, final_score, source,
         row_number() OVER (
           PARTITION BY query_id ORDER BY prio, ord, id
         )::BIGINT AS rank
  FROM deduped
  QUALIFY rank <= {limit}
)"""


def enhanced_search_sql(limit: int = HYBRID_LIMIT) -> str:
    return f"""
WITH {_enhanced_ctes(limit)}
SELECT query_id, id, final_score, source, rank FROM enhanced
"""


def search_analytics_sql(limit: int = HYBRID_LIMIT) -> str:
    return f"""
WITH {_enhanced_ctes(limit)}
SELECT query_id, count(*) AS n_results,
       -- integer-exact mean of the 6dp-rounded scores: float avg is
       -- summation-order-dependent at the last ulp (engine-divergent
       -- exactly at the rounding boundary; surfaced at sf0.1)
       round(sum(CAST(round(final_score * 1000000) AS BIGINT))
             / (count(*) * 1000000.0), 6) AS avg_score,
       round(max(final_score), 6) AS max_score,
       count(DISTINCT id) AS n_distinct_docs,
       coalesce(array_to_string(list_sort(list(DISTINCT source)), '|'), '')
         AS sources
FROM enhanced GROUP BY query_id
"""


def events_hourly_sql() -> str:
    return """
SELECT date_trunc('hour', ts) AS bucket_start, event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
         AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


def funnel_sql(
    steps: tuple[str, ...], within_us: int | None = None
) -> str:
    """Twin of ``events.funnel``: step-k first-occurrence times chain
    strictly after step-(k-1); counts integer-exact, conversion one
    rounded division of identical integers. ``within_us`` mirrors the
    step-to-step conversion window via the same integer µs
    arithmetic (epoch_us == unix_micros)."""
    gap = (
        f" AND epoch_us(e.ts) <= epoch_us(p.t) + {within_us}"
        if within_us is not None
        else ""
    )
    ctes = []
    for i, s in enumerate(steps):
        if i == 0:
            ctes.append(
                f"t1 AS (SELECT user_id, min(ts) AS t FROM events "
                f"WHERE event_type = '{s}' GROUP BY user_id)"
            )
        else:
            ctes.append(
                f"t{i + 1} AS (SELECT e.user_id, min(e.ts) AS t "
                f"FROM events e JOIN t{i} p ON p.user_id = e.user_id "
                f"AND e.ts > p.t{gap} WHERE e.event_type = '{s}' "
                f"GROUP BY e.user_id)"
            )
        ctes.append(f"c{i + 1} AS (SELECT count(*) AS n FROM t{i + 1})")
    selects = [
        f"SELECT {i + 1}::BIGINT AS step_idx, '{s}' AS step,\n"
        f"       (SELECT n FROM c{i + 1})::BIGINT AS n_users,\n"
        f"       round(CASE WHEN (SELECT n FROM c1) > 0\n"
        f"                  THEN (SELECT n FROM c{i + 1}) / (SELECT n FROM c1)\n"
        f"                  ELSE 0.0 END, 6) AS conversion"
        for i, s in enumerate(steps)
    ]
    return "\nWITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects) + "\n"


def cohort_retention_sql() -> str:
    """Twin of ``events.cohort_retention``: Monday-truncated weeks,
    exact day-difference / 7 offsets, distinct-user counts."""
    return """
WITH firsts AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
),
j AS (
  SELECT e.user_id,
         date_trunc('week', f.first_ts) AS cohort_week,
         date_trunc('week', e.ts) AS activity_week
  FROM events e JOIN firsts f USING (user_id)
)
SELECT cohort_week,
       floor(date_diff('day', cohort_week, activity_week) / 7)::BIGINT
         AS week_offset,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM j GROUP BY 1, 2
"""


def events_cube_sql() -> str:
    """Twin of ``relational.events_cube``: DuckDB GROUP BY CUBE with
    the same GROUPING bitmask ordering (first argument = MSB)."""
    return """
SELECT event_type,
       date_trunc('hour', ts) AS bucket_start,
       GROUPING(event_type, date_trunc('hour', ts))::BIGINT AS gid,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
         AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY CUBE (event_type, date_trunc('hour', ts))
"""


def image_near_dup_sql(max_hamming: int) -> str:
    # mirrors multimodal.image_dhash's seam-stub path exactly: pixel i
    # = first md5 byte of the i-th length-scaled payload window (the
    # payload is encode(text), so substr(text, ...) sees the same
    # bytes on the ASCII corpus), bit r*10+c set iff the right cell
    # beats the left; pairs brute-forced here (the Spark side uses the
    # pigeonhole block-banded join)
    from rag_database_spark.operators.multimodal import (
        DHASH_COLS,
        DHASH_ROWS,
    )

    n_cells = DHASH_ROWS * (DHASH_COLS + 1)
    terms = " + ".join(
        f"(CASE WHEN px[{r * (DHASH_COLS + 1) + c + 2}] >"
        f" px[{r * (DHASH_COLS + 1) + c + 1}]"
        f" THEN {1 << (r * DHASH_COLS + c)}::BIGINT ELSE 0 END)"
        for r in range(DHASH_ROWS)
        for c in range(DHASH_COLS)
    )
    return f"""
WITH cells AS (
  SELECT doc_id, i,
         ('0x' || substr(md5(substr(text,
             1 + i * ((length(text) + {n_cells - 1}) // {n_cells}),
             (length(text) + {n_cells - 1}) // {n_cells})), 1, 2)
         )::BIGINT AS px
  FROM documents, range({n_cells}) t(i)
),
p AS (SELECT doc_id, list(px ORDER BY i) AS px FROM cells GROUP BY doc_id),
fp AS (SELECT doc_id, ({terms})::BIGINT AS fp FROM p)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
"""


def video_near_dup_sql(
    frame_bytes: int, every_n: int, threshold: float
) -> str:
    # mirrors frame_sample + the entry's md5-per-frame exploded index:
    # frames at byte offsets fi*frame_bytes for fi in range(0,
    # max(1, len//frame_bytes), every_n); Jaccard over the DISTINCT
    # frame-hash sets
    return f"""
WITH fr AS (
  SELECT doc_id,
         md5(substr(text, 1 + fi * {frame_bytes}, {frame_bytes})) AS s
  FROM documents,
       LATERAL (SELECT unnest(range(0,
           greatest(1, length(text) // {frame_bytes}), {every_n})) AS fi) t
),
d AS (SELECT DISTINCT doc_id, s FROM fr),
sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
  FROM d a JOIN d b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT ia AS id_a, ib AS id_b,
       round(c / (x.n + y.n - c), 6) AS jaccard
FROM inter
JOIN sz x ON x.doc_id = ia
JOIN sz y ON y.doc_id = ib
WHERE round(c / (x.n + y.n - c), 6) >= {threshold}
"""


def audio_near_dup_sql(max_hamming: int) -> str:
    # mirrors multimodal.audio_fingerprint's seam-stub path: frame
    # energy i = first md5 byte of the i-th length-scaled payload
    # window, bit i set iff energy(i+1) > energy(i); pairs brute-forced
    # (Spark uses the pigeonhole banded join)
    from rag_database_spark.operators.multimodal import AUDIO_FP_FRAMES

    n = AUDIO_FP_FRAMES
    terms = " + ".join(
        f"(CASE WHEN e[{i + 2}] > e[{i + 1}]"
        f" THEN {1 << i}::BIGINT ELSE 0 END)"
        for i in range(n - 1)
    )
    return f"""
WITH frames AS (
  SELECT doc_id, i,
         ('0x' || substr(md5(substr(text,
             1 + i * ((length(text) + {n - 1}) // {n}),
             (length(text) + {n - 1}) // {n})), 1, 2)
         )::BIGINT AS e
  FROM documents, range({n}) t(i)
),
p AS (SELECT doc_id, list(e ORDER BY i) AS e FROM frames GROUP BY doc_id),
fp AS (SELECT doc_id, ({terms})::BIGINT AS fp FROM p)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
"""


def media_resize_sql(max_side: int) -> str:
    # mirrors multimodal._fake_decode + resize_media: dims from the
    # first two md5 bytes of the payload (== md5(text) on the ASCII
    # corpus), aspect-preserving integer clamp new_w = w*max_side //
    # max(w, h)
    return f"""
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5(text), 1, 2))::BIGINT AS b0,
         ('0x' || substr(md5(text), 3, 2))::BIGINT AS b1
  FROM documents
),
d AS (
  SELECT doc_id, (64 + b0 % 1920)::BIGINT AS w0,
         (64 + b1 % 1080)::BIGINT AS h0
  FROM b
),
r AS (
  SELECT doc_id, w0, h0, greatest(w0, h0) AS longer,
         CASE WHEN greatest(w0, h0) > {max_side}
              THEN greatest(1, (w0 * {max_side}) // greatest(w0, h0))
              ELSE w0 END AS nw,
         CASE WHEN greatest(w0, h0) > {max_side}
              THEN greatest(1, (h0 * {max_side}) // greatest(w0, h0))
              ELSE h0 END AS nh
  FROM d
)
SELECT doc_id AS media_id, 'image' AS kind,
       w0 AS width, h0 AS height,
       nw::BIGINT AS new_width, nh::BIGINT AS new_height,
       (nw != w0 OR nh != h0) AS resized
FROM r
"""


def media_stats_sql() -> str:
    return """
SELECT doc_id AS media_id, 'text' AS kind,
       octet_length(encode(text))::BIGINT AS n_bytes,
       md5(text) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# Lifecycle oracles
# ---------------------------------------------------------------------------


def delete_cascade_sql(mod: int) -> str:
    return f"""
SELECT 'documents' AS table_name,
       (SELECT count(*) FROM documents WHERE doc_id % {mod} != 0) AS n_remaining
UNION ALL
SELECT 'embeddings',
       (SELECT count(*) FROM embeddings WHERE vec_id % {mod} != 0)
"""


def vector_upsert_sql(mod: int) -> str:
    return f"""
WITH existing AS (
  SELECT vec_id, label, 1 AS version, 0 AS src FROM embeddings
),
incoming AS (
  SELECT vec_id, label + 1000 AS label, 2 AS version, 1 AS src
  FROM embeddings WHERE vec_id % {mod} = 0
),
unioned AS (SELECT * FROM existing UNION ALL SELECT * FROM incoming)
SELECT vec_id, label, version FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY version DESC, src DESC
  ) AS rn
  FROM unioned
) WHERE rn = 1
"""


def rerank_topk_sql(candidates: int, limit: int) -> str:
    return f"""
WITH {_bm25_ctes(candidates)},
cand AS (
  SELECT query_id, doc_id FROM bm25_ranked WHERE rank <= {candidates}
),
d_toks AS (SELECT DISTINCT doc_id, term FROM tok),
d_sizes AS (SELECT doc_id, count(*) AS nd FROM d_toks GROUP BY doc_id),
q_toks AS (SELECT DISTINCT query_id, term FROM qterms),
q_sizes AS (SELECT query_id, count(*) AS nq FROM q_toks GROUP BY query_id),
inter AS (
  SELECT c.query_id, c.doc_id, count(d.term) AS ni
  FROM cand c
  LEFT JOIN q_toks q ON q.query_id = c.query_id
  LEFT JOIN d_toks d ON d.doc_id = c.doc_id AND d.term = q.term
  GROUP BY c.query_id, c.doc_id
),
scored AS (
  SELECT i.query_id, i.doc_id AS id,
         round(CASE WHEN (qs.nq + coalesce(ds.nd, 0) - i.ni) > 0
                    THEN i.ni / (qs.nq + coalesce(ds.nd, 0) - i.ni)
                    ELSE 0.0 END, 6) AS rerank_score
  FROM inter i
  JOIN q_sizes qs ON qs.query_id = i.query_id
  LEFT JOIN d_sizes ds ON ds.doc_id = i.doc_id
)
SELECT query_id, id, rerank_score,
       row_number() OVER (
         PARTITION BY query_id ORDER BY rerank_score DESC, id
       )::BIGINT AS rank
FROM scored
QUALIFY rank <= {limit}
"""


def bm25_index_stats_sql() -> str:
    return f"""
WITH {_bm25_ctes(1)}
SELECT (SELECT count(*) FROM doclens) AS n_docs,
       (SELECT sum(dl)::DOUBLE / count(*) FROM doclens) AS avg_doc_len,
       (SELECT count(DISTINCT term) FROM postings) AS vocabulary_size,
       (SELECT count(*) FROM postings) AS n_postings,
       -- ::BIGINT: sum(INT) is HUGEINT, float64 under pandas fetch
       (SELECT sum(tf) FROM postings)::BIGINT AS total_tokens
"""


# ---------------------------------------------------------------------------
# Table-extraction + domain-metadata oracles (fixture VALUES corpora)
# ---------------------------------------------------------------------------


def _table_cells_ctes() -> str:
    from rag_database_spark.operators.tables_extract import (
        BOOLEAN_VALUES,
        BORDER_ROW_RE,
        CELL_TYPE_PATTERNS,
        PIPE_ROW_RE,
        fixtures_values_sql,
    )

    bools = ", ".join(f"'{b}'" for b in BOOLEAN_VALUES)
    type_cases = ", ".join(
        f"CASE WHEN regexp_matches(value, '{pat}') THEN '{name}' END"
        for name, pat in CELL_TYPE_PATTERNS
    )
    return f"""
fx AS (SELECT * FROM {fixtures_values_sql()}),
lines AS (
  SELECT table_id,
         unnest([{{'i': i, 'line': ls[i]}} for i in range(1, len(ls) + 1)]) AS u
  FROM (SELECT table_id, string_split_regex(text, '\\n') AS ls FROM fx)
),
trows AS (
  SELECT table_id, u.line AS line,
         row_number() OVER (PARTITION BY table_id ORDER BY u.i) - 1 AS row_idx
  FROM lines
  WHERE regexp_matches(u.line, '{PIPE_ROW_RE}')
    AND NOT regexp_matches(u.line, '{BORDER_ROW_RE}')
),
inner_txt AS (
  SELECT table_id, row_idx,
         regexp_replace(regexp_replace(line, '^\\s*\\|', ''),
                        '\\|\\s*$', '') AS body
  FROM trows
),
cells_raw AS (
  SELECT table_id, row_idx,
         unnest([{{'c': i, 'v': parts[i]}} for i in range(1, len(parts) + 1)]) AS u
  FROM (
    SELECT table_id, row_idx, string_split_regex(body, '\\|') AS parts
    FROM inner_txt
  )
),
cells AS (
  SELECT table_id, row_idx, (u.c - 1)::BIGINT AS col_idx, trim(u.v) AS value
  FROM cells_raw
),
typed AS (
  SELECT table_id, row_idx, col_idx, value,
         coalesce({type_cases},
                  CASE WHEN lower(value) IN ({bools}) THEN 'boolean' END,
                  'text') AS cell_type,
         row_idx = 0 AS is_header
  FROM cells
)"""


def table_cells_sql() -> str:
    return f"""
WITH {_table_cells_ctes().lstrip()}
SELECT table_id, row_idx, col_idx, value, cell_type, is_header FROM typed
"""


def table_summary_sql() -> str:
    from rag_database_spark.operators.tables_extract import (
        COMPLIANCE_HEADERS,
        FINANCIAL_HEADERS,
        SCHEDULE_HEADERS,
        TITLE_RE,
        fixtures_values_sql,
    )

    fin = ", ".join(f"'{h}'" for h in FINANCIAL_HEADERS)
    sch = ", ".join(f"'{h}'" for h in SCHEDULE_HEADERS)
    cmp_ = ", ".join(f"'{h}'" for h in COMPLIANCE_HEADERS)
    return f"""
WITH {_table_cells_ctes().lstrip()},
data AS (SELECT * FROM typed WHERE NOT is_header),
ratios AS (
  SELECT table_id, count(*) AS total,
         sum(CASE WHEN cell_type IN ('currency', 'number') THEN 1 ELSE 0 END) AS fin,
         sum(CASE WHEN cell_type = 'boolean' THEN 1 ELSE 0 END) AS boo,
         sum(CASE WHEN cell_type = 'date' THEN 1 ELSE 0 END) AS dat,
         count(DISTINCT row_idx) AS n_rows
  FROM data GROUP BY table_id
),
variance AS (
  -- exact integer var_pop (n*SSq - S*S)/n^2, order-independent —
  -- mirrors the Spark side (Welford merges differ at the last ulp)
  SELECT table_id,
         round(CAST(count(*) * sum(ncols * ncols)
                    - sum(ncols) * sum(ncols) AS DOUBLE)
               / CAST(count(*) * count(*) AS DOUBLE), 6)
           AS col_count_variance
  FROM (
    SELECT table_id, row_idx, count(*) AS ncols
    FROM typed GROUP BY table_id, row_idx
  ) GROUP BY table_id
),
headers AS (
  SELECT table_id, count(*) AS n_cols,
         list(DISTINCT lower(value)) AS hdrs
  FROM typed WHERE is_header GROUP BY table_id
),
titles AS (
  SELECT table_id,
         nullif(trim(regexp_extract(text, '{TITLE_RE}', 1)), '') AS title
  FROM fx
)
SELECT r.table_id, r.n_rows::BIGINT AS n_rows, h.n_cols::BIGINT AS n_cols,
       CASE WHEN r.fin / r.total > 0.5 THEN 'financial'
            WHEN r.boo / r.total > 0.2 THEN 'compliance'
            WHEN r.dat / r.total > 0.2 THEN 'schedule'
            WHEN list_has_any(h.hdrs, [{fin}]) THEN 'financial'
            WHEN list_has_any(h.hdrs, [{sch}]) THEN 'schedule'
            WHEN list_has_any(h.hdrs, [{cmp_}]) THEN 'compliance'
            ELSE 'data' END AS table_type,
       v.col_count_variance, t.title
FROM ratios r
JOIN variance v ON v.table_id = r.table_id
JOIN headers h ON h.table_id = r.table_id
JOIN titles t ON t.table_id = r.table_id
"""


def extract_metadata_sql() -> str:
    from rag_database_spark.operators.domain_metadata import (
        AMOUNT_RE,
        CLAUSE_FLAGS,
        CODE_EDITION_RE,
        CODE_SECTION_RE,
        CODE_TYPE_KEYWORDS,
        CONTRACT_TYPE_KEYWORDS,
        DOC_TYPE_KEYWORDS,
        DOC_TYPE_MIN_HITS,
        EFFECTIVE_DATE_RE,
        EXPIRY_DATE_RE,
        FISCAL_PERIOD_RE,
        GOVERNING_LAW_RE,
        IRC_SECTION_RE,
        JURISDICTION_RE,
        PARTY_HEAD_CHARS,
        PARTY_LIMIT,
        PARTY_MIN_LEN,
        PARTY_PATTERNS,
        TAX_FORM_RE,
        fixtures_values_sql,
    )

    low = "lower(text)"

    def argmax_case(keyword_map, default, min_hits):
        names = sorted(keyword_map)
        hits = {
            n: " + ".join(
                f"(CASE WHEN contains({low}, '{w}') THEN 1 ELSE 0 END)"
                for w in keyword_map[n]
            )
            for n in names
        }
        cols = ", ".join(f"({e}) AS h_{n}" for n, e in hits.items())
        g = "greatest(" + ", ".join(f"h_{n}" for n in names) + ")"
        case = (
            f"CASE WHEN {g} < {min_hits} THEN '{default}' "
            + " ".join(f"WHEN h_{n} = {g} THEN '{n}'" for n in names)
            + " END"
        )
        return cols, case

    ct_cols, ct_case = argmax_case(CONTRACT_TYPE_KEYWORDS, "other", 1)
    dt_cols, dt_case = argmax_case(
        DOC_TYPE_KEYWORDS, "general", DOC_TYPE_MIN_HITS
    )
    cc_cols, cc_case = argmax_case(CODE_TYPE_KEYWORDS, "none", 1)
    flags = ", ".join(
        f"contains({low}, '{kw}') AS {name}"
        for name, kw in sorted(CLAUSE_FLAGS.items())
    )
    party_arrs = " || ".join(
        f"regexp_extract_all(substr(text, 1, {PARTY_HEAD_CHARS}), '{p}', 1)"
        for p in PARTY_PATTERNS
    )
    parties = (
        f"list_sort(list_distinct(list_filter(list_transform({party_arrs}, "
        f"x -> trim(x)), x -> length(x) > {PARTY_MIN_LEN})))"
        f"[1:{PARTY_LIMIT}]"
    )
    return f"""
WITH fx AS (SELECT * FROM {fixtures_values_sql()}),
scored AS (
  SELECT doc_id, text, {ct_cols}, {dt_cols}, {cc_cols} FROM fx
)
SELECT doc_id,
       {dt_case} AS doc_type,
       {ct_case} AS contract_type,
       nullif(regexp_extract(text, '{EFFECTIVE_DATE_RE}', 1), '') AS effective_date,
       nullif(regexp_extract(text, '{EXPIRY_DATE_RE}', 1), '') AS expiry_date,
       nullif(regexp_extract(text, '{GOVERNING_LAW_RE}', 1), '') AS governing_law,
       CASE WHEN len(regexp_extract_all(text, '{AMOUNT_RE}', 1)) > 0
            THEN round(list_max(list_transform(
                   regexp_extract_all(text, '{AMOUNT_RE}', 1),
                   x -> replace(x, ',', '')::DOUBLE)), 2)
       END AS max_amount,
       coalesce(array_to_string({parties}, '|'), '') AS parties,
       {flags},
       coalesce(array_to_string(list_sort(list_distinct(
         regexp_extract_all(text, '{IRC_SECTION_RE}', 1))), '|'), '')
         AS irc_sections,
       coalesce(array_to_string(list_sort(list_distinct(
         regexp_extract_all(text, '{TAX_FORM_RE}', 1))), '|'), '')
         AS tax_forms,
       coalesce(array_to_string(list_sort(list_distinct(list_transform(
         regexp_extract_all(text, '{FISCAL_PERIOD_RE}', 1),
         x -> upper(x)))), '|'), '')
         AS fiscal_periods,
       {cc_case} AS code_type,
       coalesce(array_to_string(list_sort(list_distinct(
         regexp_extract_all(text, '{CODE_SECTION_RE}', 1))), '|'), '')
         AS code_sections,
       nullif(regexp_extract(text, '{CODE_EDITION_RE}', 1), '') AS code_edition,
       nullif(regexp_extract(text, '{JURISDICTION_RE}', 1), '') AS jurisdiction
FROM scored
"""


def colpali_lite_topk_sql(limit: int = HYBRID_LIMIT) -> str:
    from rag_database_spark.workload import PAGE_GROUP, QUERY_TOKENS

    unnest_dims = (
        "unnest([{'i': i, 'v': embedding[i]::DOUBLE} "
        "for i in range(1, len(embedding) + 1)]) AS u"
    )
    return f"""
WITH page_pool AS (
  SELECT page_id, u.i AS i, avg(u.v) AS v
  FROM (
    SELECT vec_id // {PAGE_GROUP} AS page_id, {unnest_dims}
    FROM embeddings
  )
  GROUP BY 1, 2
),
page_vecs AS (
  SELECT page_id, list(v ORDER BY i) AS vec FROM page_pool GROUP BY page_id
),
q_pool AS (
  SELECT query_id, u.i AS i, avg(u.v) AS v
  FROM (
    SELECT q.query_id, {unnest_dims}
    FROM {queries_values_sql()}
    JOIN embeddings e
      ON e.vec_id >= q.query_vec_id
     AND e.vec_id < q.query_vec_id + {QUERY_TOKENS}
  )
  GROUP BY 1, 2
),
q_vecs AS (
  SELECT query_id, list(v ORDER BY i) AS vec FROM q_pool GROUP BY query_id
),
scored AS (
  SELECT q.query_id, p.page_id AS id,
         list_cosine_similarity(q.vec, p.vec) AS score
  FROM q_vecs q CROSS JOIN page_vecs p
),
ranked AS (
  SELECT query_id, id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, id
         ) AS rank
  FROM scored
)
SELECT query_id, id, round(score, 6) AS score, rank::BIGINT AS rank
FROM ranked WHERE rank <= {limit}
"""


# ---------------------------------------------------------------------------
# M1-lite hash embedder / visual search / chunk payload oracles
# ---------------------------------------------------------------------------


def _hash_embed_avgs(dim: int) -> str:
    # mirrors embedder.hash_embed: dimension i = 16-bit slice i%8 of
    # salted digest md5('{i//8}|' || term), mapped to [-1, 1)
    from rag_database_spark.functions.embedder import DIMS_PER_DIGEST

    return ", ".join(
        f"avg(('0x' || substr(md5('{i // DIMS_PER_DIGEST}|' || term), "
        f"{1 + 4 * (i % DIMS_PER_DIGEST)}, 4))::BIGINT / 32768.0 - 1.0)"
        f" AS d{i}"
        for i in range(dim)
    )


def text_embed_topk_sql(limit: int = HYBRID_LIMIT) -> str:
    from rag_database_spark.functions.embedder import EMBED_DIM

    dims = ", ".join(f"d{i}" for i in range(EMBED_DIM))
    return f"""
WITH {_bm25_ctes(limit)},
qtok AS (
  SELECT query_id, term FROM qtok_raw
  WHERE length(term) >= {MIN_TOKEN_LEN} AND term NOT IN ({_STOPLIST})
),
doc_vec AS (
  SELECT doc_id, [{dims}] AS vec
  FROM (SELECT doc_id, {_hash_embed_avgs(EMBED_DIM)} FROM tok GROUP BY doc_id)
),
q_vec AS (
  SELECT query_id, [{dims}] AS vec
  FROM (SELECT query_id, {_hash_embed_avgs(EMBED_DIM)} FROM qtok
        GROUP BY query_id)
),
scored AS (
  SELECT q.query_id, d.doc_id AS id,
         CASE WHEN sqrt(list_dot_product(q.vec, q.vec))
                   * sqrt(list_dot_product(d.vec, d.vec)) > 0
              THEN list_dot_product(q.vec, d.vec)
                   / (sqrt(list_dot_product(q.vec, q.vec))
                      * sqrt(list_dot_product(d.vec, d.vec)))
              ELSE 0.0 END AS score
  FROM q_vec q CROSS JOIN doc_vec d
),
ranked AS (
  SELECT query_id, id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, id
         ) AS rank
  FROM scored
)
SELECT query_id, id, round(score, 6) AS score, rank::BIGINT AS rank
FROM ranked WHERE rank <= {limit}
"""


VISUAL_ELEMENT_TYPES = ("table", "figure", "image")


def visual_search_sql(types: tuple[str, ...], limit: int = HYBRID_LIMIT) -> str:
    etypes = ", ".join(f"'{t}'" for t in VISUAL_ELEMENT_TYPES)
    wanted = ", ".join(f"'{t}'" for t in types)
    return f"""
WITH {_colpali_ctes()},
elements AS (
  SELECT query_id, page_id, score,
         [{etypes}][(page_id % {len(VISUAL_ELEMENT_TYPES)}) + 1]
           AS element_type
  FROM page_scores
),
filtered AS (
  SELECT * FROM elements WHERE element_type IN ({wanted})
),
eranked AS (
  SELECT query_id, page_id AS element_id, element_type, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, page_id
         ) AS rank
  FROM filtered
)
SELECT query_id, element_id, element_type,
       round(score, 6) AS score, rank::BIGINT AS rank
FROM eranked WHERE rank <= {limit}
"""


def chunk_payloads_sql(truncate_chars: int = 1000) -> str:
    return f"""
SELECT chunk_id, doc_id, page_number, token_count,
       substr(chunk_text, 1, {truncate_chars}) AS text_excerpt
FROM ({chunk_documents_sql()})
WHERE level = 'paragraph'
"""


def user_sessions_sql() -> str:
    from rag_database_spark.streaming.events import SESSION_GAP_US

    return f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, value,
         epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev_us
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > {SESSION_GAP_US}
                 THEN 1 ELSE 0 END AS new_s
  FROM ordered
),
sess AS (
  SELECT *, sum(new_s) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  )::BIGINT AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
         AS total_value
FROM sess GROUP BY user_id, session_id
"""


def pricing_summary_sql() -> str:
    from rag_database_spark.operators.relational import PRICING_CUTOFF

    return f"""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
         AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp '{PRICING_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
"""


def hybrid_adaptive_sql(limit: int = HYBRID_LIMIT) -> str:
    from rag_database_spark.operators.query_analysis import (
        MODALITY_WEIGHTS,
        VISUAL_INTENT_PATTERNS,
        VISUAL_PATTERNS,
        VISUAL_THRESHOLD,
    )
    from rag_database_spark.operators.fusion import DOC_BOOST
    from rag_database_spark.workload import DOC_PAGES, PAGE_GROUP

    fetch = FETCH_MULTIPLIER * limit
    low = "lower(query_text)"
    vterms = " + ".join(
        f"(CASE WHEN regexp_matches({low}, '{p}') THEN 0.3::DOUBLE "
        f"ELSE 0.0::DOUBLE END)"
        for p, _t in VISUAL_PATTERNS
    )
    iterms = " + ".join(
        f"(CASE WHEN regexp_matches({low}, '{p}') THEN 0.25::DOUBLE "
        f"ELSE 0.0::DOUBLE END)"
        for p in VISUAL_INTENT_PATTERNS
    )
    nt = " + ".join(
        f"(CASE WHEN regexp_matches({low}, '{p}') THEN 1 ELSE 0 END)"
        for p, _t in VISUAL_PATTERNS
    )

    def base(leg):
        return (
            f"CASE WHEN vscore >= 0.5 THEN {MODALITY_WEIGHTS['visual'][leg]}::DOUBLE "
            f"WHEN vscore >= {VISUAL_THRESHOLD} THEN {MODALITY_WEIGHTS['mixed'][leg]}::DOUBLE "
            f"ELSE {MODALITY_WEIGHTS['text'][leg]}::DOUBLE END"
        )

    return f"""
WITH {_bm25_ctes(fetch)},
{_dense_ctes(fetch).lstrip()},
{_colpali_ctes().lstrip()},
chunks AS (
  SELECT vec_id AS id,
         vec_id // {PAGE_GROUP * DOC_PAGES} AS document_id,
         vec_id // {PAGE_GROUP} AS page_number
  FROM embeddings
),
cp_pages AS (
  SELECT query_id, page_id // {DOC_PAGES} AS document_id,
         page_id AS page_number, score
  FROM page_ranked WHERE rank <= {fetch}
),
cp_doc AS (
  SELECT query_id, document_id, max(score) AS doc_max
  FROM cp_pages GROUP BY 1, 2
),
cp_prop AS (
  SELECT d.query_id, c.id, coalesce(p.score, d.doc_max * {DOC_BOOST}) AS pscore
  FROM chunks c
  JOIN cp_doc d ON c.document_id = d.document_id
  LEFT JOIN cp_pages p
    ON p.query_id = d.query_id AND p.document_id = c.document_id
   AND p.page_number = c.page_number
),
colpali_ranked AS (
  SELECT query_id, id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY pscore DESC, id
         ) AS rank
  FROM cp_prop
),
wstep AS (
  SELECT query_id,
         least({vterms} + {iterms}, 1.0::DOUBLE) AS vscore,
         ({nt}) AS n_targets
  FROM {queries_values_sql()}
),
wbase AS (
  SELECT query_id, {base('bm25')} AS wb, {base('dense')} AS wd,
         CASE WHEN n_targets > 0
              THEN least({base('colpali')}
                         + least(0.1::DOUBLE * n_targets, 0.15::DOUBLE),
                         0.7::DOUBLE)
              ELSE {base('colpali')} END AS wc
  FROM wstep
),
wnorm AS (
  SELECT query_id, wb / (wb + wd + wc) AS wbn, wd / (wb + wd + wc) AS wdn,
         wc / (wb + wd + wc) AS wcn
  FROM wbase
),
legsa AS (
  SELECT query_id, doc_id AS id, 'bm25' AS method, rank
  FROM bm25_ranked WHERE rank <= {fetch}
  UNION ALL
  SELECT query_id, id, 'dense' AS method, rank
  FROM dense_ranked WHERE rank <= {fetch}
  UNION ALL
  SELECT query_id, id, 'colpali' AS method, rank
  FROM colpali_ranked WHERE rank <= {fetch}
),
fuseda AS (
  SELECT l.query_id, l.id,
         round(sum((CASE l.method WHEN 'bm25' THEN w.wbn
                                  WHEN 'dense' THEN w.wdn
                                  ELSE w.wcn END)
                   / ({float(RRF_K)} + l.rank)), 6) AS rrf_score
  FROM legsa l JOIN wnorm w ON w.query_id = l.query_id
  GROUP BY l.query_id, l.id
)
SELECT query_id, id, rrf_score,
       row_number() OVER (
         PARTITION BY query_id ORDER BY rrf_score DESC, id
       )::BIGINT AS rank
FROM fuseda
QUALIFY rank <= {limit}
"""


def winnow_fp_sql() -> str:
    from rag_database_spark.functions.text import WINNOW_K, WINNOW_W

    k, w = WINNOW_K, WINNOW_W
    return f"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(lower(text), '{PUNCT_RE}', ' ', 'g'),
           '{SPLIT_RE}', ' ', 'g')) AS s
  FROM documents
),
grams AS (
  SELECT doc_id,
         [('0x' || substr(md5(substr(s, i, {k})), 1, 15))::BIGINT
          for i in range(1, greatest(length(s) - {k} + 1, 0) + 1)] AS hashes
  FROM norm
),
mins AS (
  SELECT doc_id, hashes,
         CASE WHEN len(hashes) - {w} + 1 >= 1 THEN
           [list_min(hashes[i:i+{w - 1}])
            for i in range(1, len(hashes) - {w} + 2)]
         WHEN len(hashes) >= 1 THEN [list_min(hashes)]
         ELSE [] END AS m
  FROM grams
)
SELECT doc_id,
       coalesce(array_to_string(list_sort(list_distinct(m)), '|'), '')
         AS fingerprints
FROM mins
"""


def chunking_stats_sql() -> str:
    return f"""
SELECT level, count(*) AS n_chunks,
       -- ::BIGINT: sum(INT) is HUGEINT, float64 under pandas fetch
       sum(token_count)::BIGINT AS total_tokens,
       sum(token_count)::DOUBLE / count(*) AS avg_tokens,
       max(page_number) AS max_page
FROM ({chunk_documents_sql()})
GROUP BY level
"""


def search_terms_sql() -> str:
    from rag_database_spark.operators.query_analysis import ACRONYMS
    from rag_database_spark.workload import analysis_queries_values_sql

    # reuse the enhanced-query rewrite from query_analysis_sql by
    # borrowing its generator pieces
    full = query_analysis_sql()
    # extract nothing — rebuild the eq expression the same way instead
    low = "lower(query_text)"
    by_acr: dict[str, list] = {}
    for acr, exp, dom, kws in ACRONYMS:
        by_acr.setdefault(acr, []).append((exp, dom, kws))
    # domain needed for disambiguation — reuse the same construction
    from rag_database_spark.operators.query_analysis import DOMAIN_KEYWORDS

    domains = sorted(DOMAIN_KEYWORDS)
    hit_exprs = {
        d: " + ".join(
            f"(CASE WHEN contains({low}, '{kw}') THEN 1 ELSE 0 END)"
            for kw in DOMAIN_KEYWORDS[d]
        )
        for d in domains
    }
    hits_cols = ", ".join(f"({e}) AS h_{d}" for d, e in hit_exprs.items())
    gmax = "greatest(" + ", ".join(f"h_{d}" for d in domains) + ")"
    dom_case = f"CASE WHEN {gmax} = 0 THEN 'general' " + " ".join(
        f"WHEN h_{d} = {gmax} THEN '{d}'" for d in domains
    ) + " END"

    eq = "query_text"
    expansion_cases = []
    for acr in sorted(by_acr):
        cands = sorted(by_acr[acr])
        scores = []
        for exp, dom, kws in cands:
            s = f"(CASE WHEN domain = '{dom}' THEN 2 ELSE 0 END)"
            for kw in kws:
                s += f" + (CASE WHEN contains({low}, '{kw}') THEN 1 ELSE 0 END)"
            scores.append((exp, s))
        if len(scores) == 1:
            best = f"'{scores[0][0]}'"
        else:
            best = f"'{scores[-1][0]}'"
            for exp, s in reversed(scores[:-1]):
                rest = " , ".join(
                    x[1] for x in scores[scores.index((exp, s)) + 1:]
                )
                best = (
                    f"CASE WHEN ({s}) >= greatest({rest}) "
                    f"THEN '{exp}' ELSE {best} END"
                )
        pat = rf"\b{acr}\b"
        eq = f"regexp_replace({eq}, '{pat}', '{acr} (' || {best} || ')', 'g')"
    seen: set = set()
    for acr, exp, _dom, _kws in ACRONYMS:
        if (acr, exp) in seen:
            continue
        seen.add((acr, exp))
        expansion_cases.append(
            f"CASE WHEN regexp_matches(query_text, '\\b{acr}\\b') "
            f"THEN '{exp}' END"
        )
    exp_list = ", ".join(expansion_cases)
    return f"""
WITH base AS (
  SELECT query_id, query_text, {hits_cols}
  FROM {analysis_queries_values_sql()}
),
with_domain AS (
  SELECT *, {dom_case} AS domain FROM base
)
SELECT query_id,
       coalesce(array_to_string(list_sort(list_distinct(list_filter(
         [query_text, {eq}] || [{exp_list}],
         x -> x IS NOT NULL))), '|'), '') AS search_terms
FROM with_domain
"""


# ---------------------------------------------------------------------------
# Round-3 promotions: F19 / J6 / J7 / F9 / C7 / F18 oracles
# ---------------------------------------------------------------------------


def extract_relationships_sql() -> str:
    from rag_database_spark.operators.graph import (
        HIGH_CONFIDENCE_TYPES,
        RELATION_PATTERNS,
        rel_fixtures_values_sql,
    )

    per = []
    for pi, (rel, pat) in enumerate(RELATION_PATTERNS):
        per.append(
            f"SELECT doc_id AS source_id, {pi} AS pat_idx, "
            f"'{rel}' AS relation_type, "
            "unnest([{'m': m[i], 'r': r[i]} for i in range(1, len(m) + 1)])"
            " AS u "
            f"FROM (SELECT doc_id, regexp_extract_all(text, '{pat}', 0) AS m, "
            f"regexp_extract_all(text, '{pat}', 1) AS r FROM fx)"
        )
    union = " UNION ALL ".join(per)
    hi = ", ".join(f"'{t}'" for t in HIGH_CONFIDENCE_TYPES)
    # every literal is ::DOUBLE so the confidence arithmetic runs in
    # IEEE doubles exactly like the Spark expression (DuckDB literals
    # default to DECIMAL, which would diverge in the last ulps)
    return f"""
WITH fx AS (SELECT * FROM {rel_fixtures_values_sql()}),
matches AS ({union}),
scored AS (
  SELECT source_id, pat_idx, relation_type,
         'unresolved:' || trim(u.r) AS target_id,
         trim(u.r) AS target_ref, u.m AS matched,
         greatest(0.3::DOUBLE, least(1.0::DOUBLE,
           (CASE WHEN relation_type IN ({hi})
                 THEN 0.9::DOUBLE ELSE 0.7::DOUBLE END)
           - (CASE WHEN length(u.m) > 200
                   THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END)
           - (CASE WHEN regexp_matches(lower(u.m), 'may|might|similar')
                   THEN 0.1::DOUBLE ELSE 0.0::DOUBLE END))) AS confidence
  FROM matches
),
dedup AS (
  SELECT *, row_number() OVER (
    PARTITION BY source_id, target_id, relation_type
    ORDER BY pat_idx, matched) AS rn
  FROM scored
)
SELECT source_id, target_id, relation_type, confidence, target_ref
FROM dedup WHERE rn = 1
"""


def shortest_chains_sql(
    jaccard_threshold: float,
    k: int,
    src_max: int,
    dst_lo: int,
    dst_hi: int,
    dst_mod: int,
    dst_rem_max: int,
    max_depth: int,
    min_confidence: float,
) -> str:
    return f"""
WITH RECURSIVE {_edges_ctes(jaccard_threshold, k)},
und AS MATERIALIZED (
  SELECT src AS me, dst AS other FROM edges
  WHERE confidence >= {min_confidence}
  UNION ALL
  SELECT dst, src FROM edges WHERE confidence >= {min_confidence}
),
reach AS (
  SELECT doc_id AS start_id, doc_id, 0 AS depth
  FROM documents WHERE doc_id < {src_max}
  UNION
  SELECT r.start_id, u.other AS doc_id, r.depth + 1
  FROM reach r JOIN und u ON u.me = r.doc_id
  WHERE r.depth < {max_depth}
),
best AS (
  SELECT start_id, doc_id, min(depth) AS d
  FROM reach GROUP BY start_id, doc_id HAVING min(depth) > 0
),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM documents a CROSS JOIN documents b
  WHERE a.doc_id < {src_max}
    AND b.doc_id BETWEEN {dst_lo} AND {dst_hi}
    AND b.doc_id % {dst_mod} <= {dst_rem_max}
)
SELECT p.src, p.dst, b.d::BIGINT AS chain_len
FROM pairs p LEFT JOIN best b ON b.start_id = p.src AND b.doc_id = p.dst
"""


def augment_results_sql(
    limit: int,
    jaccard_threshold: float,
    k: int,
    top_results: int = 5,
    max_augmented: int = 3,
    min_confidence: float = 0.5,
) -> str:
    return f"""
WITH hyb AS ({hybrid_rrf_sql(limit)}),
ed AS ({doc_edges_sql(jaccard_threshold, k)}),
und AS (
  SELECT src AS me, dst AS other, confidence FROM ed
  WHERE confidence >= {min_confidence}
  UNION ALL
  SELECT dst, src, confidence FROM ed
  WHERE confidence >= {min_confidence}
),
top AS (
  SELECT query_id, id AS doc_id FROM hyb WHERE rank <= {top_results}
),
related AS (
  SELECT t.query_id, u.other AS id,
         round(CAST(sum(CAST(u.confidence AS DECIMAL(16,6))) AS DOUBLE)
             / count(u.confidence), 6) AS graph_score
  FROM top t JOIN und u ON u.me = t.doc_id
  GROUP BY t.query_id, u.other
),
fresh AS (
  SELECT r.* FROM related r
  ANTI JOIN hyb h ON h.query_id = r.query_id AND h.id = r.id
)
SELECT query_id, id, graph_score,
       row_number() OVER (
         PARTITION BY query_id ORDER BY graph_score DESC, id
       )::BIGINT AS aug_rank
FROM fresh QUALIFY aug_rank <= {max_augmented}
"""


def detect_sections_sql() -> str:
    from rag_database_spark.operators.chunking import (
        SECTION_PATTERNS,
        section_fixtures_values_sql,
    )

    fam_cases = ", ".join(
        f"CASE WHEN regexp_matches(u.line, '{p}') THEN '{f}' END"
        for f, p in SECTION_PATTERNS
    )
    num_cases = ", ".join(
        f"CASE WHEN regexp_matches(u.line, '{p}') "
        f"THEN regexp_extract(u.line, '{p}', 1) END"
        for _f, p in SECTION_PATTERNS
    )
    return f"""
WITH fx AS (SELECT * FROM {section_fixtures_values_sql()}),
lines AS (
  SELECT doc_id,
         unnest([{{'i': i - 1, 'line': ls[i]}}
                 for i in range(1, len(ls) + 1)]) AS u
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM fx)
),
det AS (
  SELECT doc_id, u.i AS line_no,
         coalesce({fam_cases}) AS family,
         trim(u.line) AS title,
         coalesce({num_cases}) AS section_number
  FROM lines
)
SELECT doc_id, line_no, family, title, section_number,
       (length(section_number)
        - length(replace(section_number, '.', '')) + 1)::INT AS level
FROM det WHERE family IS NOT NULL
"""


def sentence_chunks_sql(src_sql: str | None = None) -> str:
    from rag_database_spark.operators.chunking import (
        MIN_SENTENCE_CHARS,
        section_fixtures_values_sql,
    )

    if src_sql is None:
        src_sql = f"SELECT * FROM {section_fixtures_values_sql()}"
    # RE2 has no lookbehind, so Spark's (?<=[.!?])\s+ split becomes:
    # replace punct+whitespace with punct+sentinel (chr(30)), then split
    # on the sentinel — identical pieces. The whitespace class is the
    # explicit [space, tab, newline] the fixtures contain (Java \s and
    # RE2 \s agree on those).
    boundary = "'([.!?])[ ' || chr(9) || chr(10) || ']+'"
    return f"""
WITH fx AS ({src_sql}),
parts AS (
  SELECT doc_id,
         string_split(
           regexp_replace(text, {boundary}, '\\1' || chr(30), 'g'),
           chr(30)) AS ps
  FROM fx
),
idx AS (
  SELECT doc_id,
         unnest([{{'i': i - 1, 's': ps[i]}}
                 for i in range(1, len(ps) + 1)]) AS u
  FROM parts
)
SELECT doc_id, u.i AS sentence_index, trim(u.s) AS sentence
FROM idx WHERE length(trim(u.s)) >= {MIN_SENTENCE_CHARS}
"""


def table_texts_sql() -> str:
    return f"""
WITH {_table_cells_ctes().lstrip()},
row_texts AS (
  SELECT table_id, row_idx,
         string_agg(value, ', ' ORDER BY col_idx) AS row_text
  FROM typed GROUP BY table_id, row_idx
),
structured AS (
  SELECT table_id,
         string_agg(row_text, chr(10) ORDER BY row_idx) AS structured_text
  FROM row_texts GROUP BY table_id
),
hdr AS (
  SELECT table_id,
         string_agg(value, ', ' ORDER BY col_idx) AS header_text
  FROM typed WHERE is_header GROUP BY table_id
),
summ AS ({table_summary_sql()})
SELECT s.table_id, s.structured_text,
       'A ' || m.table_type || ' table with columns ' || h.header_text
       || ' and ' || m.n_rows::VARCHAR || ' data rows.'
         AS semantic_description
FROM structured s
JOIN hdr h USING (table_id)
JOIN summ m USING (table_id)
"""


def resolve_references_sql() -> str:
    from rag_database_spark.operators.graph import ident_registry_values_sql

    return f"""
WITH rels AS ({extract_relationships_sql()}),
reg AS (
  SELECT lower(identifier) AS ident, doc_id AS resolved
  FROM {ident_registry_values_sql()}
),
joined AS (
  SELECT r.*, g.ident, g.resolved
  FROM rels r LEFT JOIN reg g ON contains(lower(r.target_ref), g.ident)
),
pick AS (
  SELECT *, row_number() OVER (
    PARTITION BY source_id, target_id, relation_type ORDER BY ident
  ) AS rn
  FROM joined
)
SELECT source_id,
       coalesce(resolved::VARCHAR, target_id) AS target_id,
       relation_type, confidence, target_ref
FROM pick WHERE rn = 1
"""


def related_ids_sql(
    jaccard_threshold: float, k: int, seed_max: int
) -> str:
    return f"""
WITH {_edges_ctes(jaccard_threshold, k)},
seed AS (SELECT doc_id FROM documents WHERE doc_id < {seed_max}),
rel AS (
  SELECT e.dst AS related_id FROM edges e JOIN seed s ON e.src = s.doc_id
  UNION
  SELECT e.src FROM edges e JOIN seed s ON e.dst = s.doc_id
)
SELECT DISTINCT related_id FROM rel
WHERE related_id NOT IN (SELECT doc_id FROM seed)
"""


def conversions_sql() -> str:
    from rag_database_spark.streaming.events import ATTRIBUTION_WINDOW_US

    return f"""
WITH clicks AS (
  SELECT user_id, ts AS click_ts, event_id AS click_id
  FROM events WHERE event_type = 'click'
),
purch AS (
  SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, value
  FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_id,
         c.click_ts, p.value
  FROM purch p JOIN clicks c USING (user_id)
  WHERE epoch_us(c.click_ts) <= epoch_us(p.purchase_ts)
    AND epoch_us(c.click_ts) > epoch_us(p.purchase_ts)
        - {ATTRIBUTION_WINDOW_US}
)
SELECT purchase_id, user_id, purchase_ts, click_id, click_ts, value
FROM j
QUALIFY row_number() OVER (
  PARTITION BY purchase_id ORDER BY click_ts DESC, click_id DESC
) = 1
"""


def quantize_embeddings_sql() -> str:
    """Twin of ``similarity.quantize_embeddings``: same per-vector
    symmetric int8 math over DOUBLE lists; both engines round half
    away from zero, and the quantized array is compared via md5 of the
    space-joined ints (exact), with the scale at 6dp."""
    return """
WITH q AS (
  SELECT vec_id AS id,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
           AS scale,
         embedding::DOUBLE[] AS v
  FROM embeddings
),
quant AS (
  SELECT id, scale,
         CASE WHEN scale > 0
              THEN list_transform(v, x -> round(x / scale)::INT)
              ELSE list_transform(v, x -> 0) END AS qa
  FROM q
)
SELECT id, round(scale, 6) AS scale,
       list_min(qa)::INT AS q_min, list_max(qa)::INT AS q_max,
       md5(array_to_string(qa, ' ')) AS q_md5
FROM quant
"""


def quantized_topk_sql(limit: int = HYBRID_LIMIT) -> str:
    """Twin of ``similarity.quantized_topk``: same int8 quantization of
    both sides, integer dot products (exact in doubles at these
    magnitudes), one sqrt/divide, rank by (score DESC, id)."""
    quant = """
  SELECT {out_id},
         CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
              THEN list_transform(
                v, x -> round(
                  x / (list_max(list_transform(v, y -> abs(y))) / 127.0)
                )::BIGINT)
              ELSE list_transform(v, x -> 0::BIGINT) END AS q
  FROM {src}
"""
    return f"""
WITH qv AS (
  SELECT q.query_id, e.embedding::DOUBLE[] AS v
  FROM {queries_values_sql()}
  JOIN embeddings e ON e.vec_id = q.query_vec_id
),
cv AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
qq AS ({quant.format(out_id="query_id", src="qv")}),
cq AS ({quant.format(out_id="id", src="cv")}),
scored AS (
  SELECT qq.query_id, cq.id,
         CASE WHEN list_dot_product(cq.q, cq.q) > 0
                AND list_dot_product(qq.q, qq.q) > 0
              THEN list_dot_product(qq.q, cq.q)
                   / sqrt(list_dot_product(cq.q, cq.q)
                          * list_dot_product(qq.q, qq.q))
              ELSE 0.0 END AS score
  FROM cq CROSS JOIN qq
)
SELECT query_id, id, round(score, 6) AS score,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, id)::BIGINT AS rank
FROM scored
QUALIFY rank <= {limit}
"""


def asof_attribution_sql() -> str:
    """Twin of the asof_attribution entry via DuckDB's NATIVE ASOF
    JOIN — the engine's merge-union window plan
    (relational.asof_join) must agree with the database-native
    point-in-time join row for row."""
    return """
WITH v AS (
  SELECT user_id, ts, max(event_id) AS view_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
),
p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id, p.user_id, p.purchase_ts,
       v.view_id, v.ts AS view_ts,
       (epoch_us(p.purchase_ts) - epoch_us(v.ts))::BIGINT AS gap_us
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND p.purchase_ts >= v.ts
"""


def dup_ngram_fraction_sql(n: int = 5) -> str:
    from rag_database_spark.functions.text import SPLIT_RE

    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '{SPLIT_RE}'),
                     x -> length(x) > 0) AS t
  FROM documents
),
pos AS (
  SELECT doc_id, t,
         unnest(generate_series(1, len(t) - {n} + 1)) AS i
  FROM toks
),
ng AS (
  SELECT doc_id, array_to_string(t[i:i + {n - 1}], ' ') AS ng
  FROM pos
),
freq AS (
  SELECT ng, count(DISTINCT doc_id) AS ndocs FROM ng GROUP BY ng
),
per AS (
  SELECT g.doc_id,
         count(*)::BIGINT AS n_ngrams,
         sum(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup
  FROM ng g JOIN freq f USING (ng)
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_ngrams, 0)::BIGINT AS n_ngrams,
       coalesce(p.n_dup, 0)::BIGINT AS n_dup_ngrams,
       round(CASE WHEN coalesce(p.n_ngrams, 0) > 0
                  THEN p.n_dup / p.n_ngrams ELSE 0.0 END, 6) AS dup_frac
FROM documents d LEFT JOIN per p USING (doc_id)
"""


def pack_sequences_sql(
    budget: int | None = None, n_shards: int | None = None
) -> str:
    """Twin of operators.packing.pack_sequences: per-shard token-stream
    offsets and training-row spans (shard = doc_id % n_shards, order by
    doc_id — engine-independent integer math throughout)."""
    from rag_database_spark.functions.text import SPLIT_RE
    from rag_database_spark.operators.packing import (
        PACK_BUDGET,
        PACK_NSHARDS,
    )

    budget = budget or PACK_BUDGET
    n_shards = n_shards or PACK_NSHARDS
    return f"""
WITH nt AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '{SPLIT_RE}'),
                         x -> length(x) > 0))::BIGINT AS n_tokens,
         (doc_id % {n_shards})::BIGINT AS shard
  FROM documents
),
off AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING
         )::BIGINT AS end_offset
  FROM nt
)
SELECT doc_id, shard, n_tokens,
       (end_offset - n_tokens)::BIGINT AS start_offset,
       end_offset,
       ((end_offset - n_tokens) // {budget})::BIGINT AS first_bin,
       greatest((end_offset - 1) // {budget},
                (end_offset - n_tokens) // {budget})::BIGINT AS last_bin,
       (greatest((end_offset - 1) // {budget},
                 (end_offset - n_tokens) // {budget})
        > (end_offset - n_tokens) // {budget}) AS spans_boundary
FROM off
"""


def pack_rows_sql(
    budget: int | None = None, n_shards: int | None = None
) -> str:
    """Twin of operators.packing.pack_rows projected for comparison:
    per-(shard, bin) doc/token counts plus an md5 of the space-joined
    packed token stream (the full array would bloat the compare; the
    digest pins content equality). Same tokenization and ROWS-framed
    cumulative sum as pack_sequences_sql; empty docs dropped."""
    from rag_database_spark.functions.text import SPLIT_RE
    from rag_database_spark.operators.packing import (
        PACK_BUDGET,
        PACK_NSHARDS,
    )

    budget = budget or PACK_BUDGET
    n_shards = n_shards or PACK_NSHARDS
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '{SPLIT_RE}'),
                     x -> length(x) > 0) AS toks,
         (doc_id % {n_shards})::BIGINT AS shard
  FROM documents
),
off AS (
  SELECT doc_id, shard, toks, len(toks)::BIGINT AS n_tokens,
         sum(len(toks)) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING
         )::BIGINT AS end_offset
  FROM toks
),
base AS (
  SELECT shard, toks, n_tokens,
         (end_offset - n_tokens)::BIGINT AS start_offset, end_offset
  FROM off WHERE n_tokens > 0
),
spans AS (
  SELECT shard, toks, start_offset, end_offset,
         unnest(range(start_offset // {budget},
                      greatest((end_offset - 1) // {budget},
                               start_offset // {budget}) + 1)) AS bin
  FROM base
),
segs AS (
  SELECT shard, bin, start_offset,
         list_slice(
           toks,
           (greatest(bin * {budget}, start_offset)
            - start_offset + 1)::BIGINT,
           (least((bin + 1) * {budget}, end_offset)
            - start_offset)::BIGINT
         ) AS seg
  FROM spans
)
SELECT shard, bin::BIGINT AS bin,
       count(*)::BIGINT AS n_docs,
       len(flatten(list(seg ORDER BY start_offset)))::BIGINT AS n_tokens,
       md5(array_to_string(flatten(list(seg ORDER BY start_offset)), ' '))
         AS tokens_md5
FROM segs
GROUP BY shard, bin
"""


def decontaminate_sql(
    bench_max: int | None = None,
    n: int | None = None,
    threshold: float | None = None,
) -> str:
    """Twin of operators.text_analytics.decontaminate: n-gram overlap
    of every non-benchmark doc against the benchmark gram set, same
    tokenization as dup_ngram_fraction."""
    from rag_database_spark.functions.text import SPLIT_RE
    from rag_database_spark.operators.text_analytics import (
        DECON_BENCH_MAX,
        DECON_NGRAM,
        DECON_THRESHOLD,
    )

    bench_max = bench_max or DECON_BENCH_MAX
    n = n or DECON_NGRAM
    threshold = threshold if threshold is not None else DECON_THRESHOLD
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '{SPLIT_RE}'),
                     x -> length(x) > 0) AS t
  FROM documents
),
pos AS (
  SELECT doc_id, t,
         unnest(generate_series(1, len(t) - {n} + 1)) AS i
  FROM toks
),
ng AS (
  SELECT doc_id, array_to_string(t[i:i + {n - 1}], ' ') AS ng
  FROM pos
),
bench AS (SELECT DISTINCT ng FROM ng WHERE doc_id < {bench_max}),
per AS (
  SELECT g.doc_id, count(*)::BIGINT AS n_ngrams,
         sum(CASE WHEN b.ng IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_hits
  FROM ng g LEFT JOIN bench b USING (ng)
  WHERE g.doc_id >= {bench_max}
  GROUP BY g.doc_id
),
scored AS (
  SELECT d.doc_id,
         coalesce(p.n_ngrams, 0)::BIGINT AS n_ngrams,
         coalesce(p.n_hits, 0)::BIGINT AS n_hits,
         round(CASE WHEN coalesce(p.n_ngrams, 0) > 0
                    THEN p.n_hits / p.n_ngrams ELSE 0.0 END, 6)
           AS contam_frac
  FROM documents d LEFT JOIN per p USING (doc_id)
  WHERE d.doc_id >= {bench_max}
)
SELECT scored.*, (contam_frac >= {threshold}) AS is_contaminated
FROM scored
"""


def redact_pii_sql() -> str:
    from rag_database_spark.operators.redaction import (
        PII_PATTERNS,
        pii_fixtures_values_sql,
    )

    ctes = [f"s0 AS (SELECT doc_id, text AS t FROM {pii_fixtures_values_sql()})"]
    carried: list[str] = []
    for i, (name, pat, tok) in enumerate(PII_PATTERNS, start=1):
        prev_cols = ", ".join(carried + [""]) if carried else ""
        ctes.append(
            f"s{i} AS (SELECT doc_id, {prev_cols}"
            f"len(regexp_extract_all(t, '{pat}')) AS n_{name}, "
            f"regexp_replace(t, '{pat}', '{tok}', 'g') AS t FROM s{i - 1})"
        )
        carried.append(f"n_{name}")
    final_counts = ", ".join(carried)
    last = len(PII_PATTERNS)
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        f"SELECT doc_id, {final_counts}, t AS redacted FROM s{last}"
    )


def _cluster_ctes(threshold: float, k: int) -> str:
    """Shared CTE chain: shingles → jaccard edges → recursive transitive
    closure → per-doc component label ``cl(doc_id, cluster_id)`` —
    exponential in path count but exact at the verification scale;
    cluster_id = min doc_id in the component."""
    return f"""{_shingle_ctes(k)},
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
e0 AS MATERIALIZED (
  SELECT ia AS a, ib AS b
  FROM inter JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
  WHERE round(c / (x.n + y.n - c), 6) >= {threshold}
),
und AS MATERIALIZED (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
),
cl AS MATERIALIZED (
  SELECT d.doc_id,
         least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
  GROUP BY d.doc_id
)"""


def dedup_clusters_sql(threshold: float, k: int) -> str:
    return f"""
WITH RECURSIVE {_cluster_ctes(threshold, k)}
SELECT doc_id, cluster_id FROM cl
"""


def leakage_split_sql(threshold: float, k: int,
                      eval_fraction: float, seed: int) -> str:
    """Twin of ``dedup.leakage_safe_split`` over the recursive
    component CTEs: the same md5-of-cluster_id 60-bit integer
    threshold assigns whole components to one side. NULL cluster ids
    coalesce to '' before hashing, matching the Spark side's
    coalesce sentinel (labels are non-null by construction)."""
    thr = int(eval_fraction * (1 << 60))
    return f"""
WITH RECURSIVE {_cluster_ctes(threshold, k)}
SELECT doc_id, cluster_id,
       CASE WHEN ('0x' || substr(md5('split{seed}:' ||
                                     coalesce(cluster_id::VARCHAR, '')),
                  1, 15))::BIGINT
                 < {thr}
            THEN 'eval' ELSE 'train' END AS split
FROM cl
"""


def split_audit_sql(threshold: float, k: int,
                    eval_fraction: float, seed: int) -> str:
    """Twin of the split_audit entry: the shared component CTEs give
    both the pair set (e0) and the cluster labels (cl); each scheme's
    split replays the same md5 integer threshold, and the crossing
    rollup normalizes side labels with least/greatest."""
    thr = int(eval_fraction * (1 << 60))

    def md5_split(expr: str) -> str:
        # coalesce to '' matches the Spark side's NULL sentinel
        return (
            f"CASE WHEN ('0x' || substr(md5('split{seed}:' || "
            f"coalesce({expr}::VARCHAR, '')), 1, 15))::BIGINT < {thr} "
            "THEN 'eval' ELSE 'train' END"
        )

    return f"""
WITH RECURSIVE {_cluster_ctes(threshold, k)},
pd AS MATERIALIZED (
  SELECT doc_id, {md5_split('doc_id')} AS split FROM documents
),
cs AS MATERIALIZED (
  SELECT doc_id, {md5_split('cluster_id')} AS split FROM cl
),
naive AS (
  SELECT 'per_doc' AS scheme,
         least(x.split, y.split) AS split_a,
         greatest(x.split, y.split) AS split_b,
         count(*)::BIGINT AS n_pairs
  FROM e0 JOIN pd x ON x.doc_id = e0.a JOIN pd y ON y.doc_id = e0.b
  GROUP BY 1, 2, 3
),
atomic AS (
  SELECT 'cluster' AS scheme,
         least(x.split, y.split) AS split_a,
         greatest(x.split, y.split) AS split_b,
         count(*)::BIGINT AS n_pairs
  FROM e0 JOIN cs x ON x.doc_id = e0.a JOIN cs y ON y.doc_id = e0.b
  GROUP BY 1, 2, 3
)
SELECT scheme, split_a, split_b, n_pairs FROM naive
UNION ALL
SELECT scheme, split_a, split_b, n_pairs FROM atomic
"""


def dedup_keep_sql(threshold: float, k: int) -> str:
    """Deduplicated-corpus materialization: the component-min document
    of every near-dup cluster plus the duplicate count it absorbs."""
    return f"""
WITH RECURSIVE {_cluster_ctes(threshold, k)},
cs AS (
  SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1
)
SELECT c.doc_id, cs.cluster_size,
       (cs.cluster_size - 1)::BIGINT AS n_dupes_removed, d.n_chars
FROM cl c
JOIN cs USING (cluster_id)
JOIN documents d USING (doc_id)
WHERE c.doc_id = c.cluster_id
"""


def soft_dedup_sql(threshold: float, k: int) -> str:
    """Twin of ``dedup.soft_dedup``: the shared recursive component
    CTEs plus per-component size and the 1/size training weight."""
    return f"""
WITH RECURSIVE {_cluster_ctes(threshold, k)},
cs AS (
  SELECT cluster_id, count(*)::BIGINT AS group_size FROM cl GROUP BY 1
)
SELECT c.doc_id, c.cluster_id, cs.group_size,
       round(1.0 / cs.group_size, 6) AS weight
FROM cl c JOIN cs USING (cluster_id)
"""


def cluster_quota_sample_sql(
    num: int | None = None,
    den: int | None = None,
    seed: int | None = None,
    iters: int | None = None,
    dim: int = 64,
    scale: int | None = None,
) -> str:
    """Twin of ``clustering.cluster_quota_sample`` over the shared
    unrolled k-means CTEs: the same seeded hash60 pick key, per-cluster
    (pick_key, id) rank + count windows, and the integer CEIL keep
    rule (pick_rank−1)·den < cluster_n·num."""
    from rag_database_spark.operators.clustering import (
        KMEANS_ITERS, KMEANS_SCALE, QUOTA_DEN, QUOTA_NUM, QUOTA_SEED,
    )

    num = num or QUOTA_NUM
    den = den or QUOTA_DEN
    seed = seed if seed is not None else QUOTA_SEED
    if iters is None:
        iters = KMEANS_ITERS
    if scale is None:
        scale = KMEANS_SCALE
    return f"""
WITH {_kmeans_ctes(iters, dim, scale)},
kq AS (
  SELECT vec_id, cid,
         ('0x' || substr(md5('cqs{seed}:' || vec_id::VARCHAR), 1, 15))
           ::BIGINT AS pick_key
  FROM af
),
rr AS (
  SELECT vec_id, cid, pick_key,
         row_number() OVER (PARTITION BY cid
                            ORDER BY pick_key, vec_id)::BIGINT AS pick_rank,
         count(*) OVER (PARTITION BY cid)::BIGINT AS cluster_n
  FROM kq
)
SELECT vec_id, cid AS cluster_id, pick_key, pick_rank, cluster_n,
       ((pick_rank - 1) * {den} < cluster_n * {num}) AS keep
FROM rr
"""


def fuzzy_decontam_sql(bench_max: int, threshold: float, k: int) -> str:
    """Best shingle-Jaccard eval-set match per probed corpus document;
    argmax tie-break (jaccard desc, bench_id asc) on 6dp-rounded scores
    mirrors the engine's struct-max exactly."""
    return f"""
WITH {_shingle_ctes(k)},
ce AS (SELECT doc_id, s FROM ex WHERE doc_id >= {bench_max}),
be AS (SELECT doc_id AS bench_id, s FROM ex WHERE doc_id < {bench_max}),
cz AS (SELECT doc_id, n FROM sz WHERE doc_id >= {bench_max}),
bz AS (SELECT doc_id AS bench_id, n FROM sz WHERE doc_id < {bench_max}),
i AS (
  SELECT ce.doc_id, be.bench_id, count(*) AS c
  FROM ce JOIN be USING (s) GROUP BY 1, 2
),
jac AS (
  SELECT i.doc_id, i.bench_id,
         round(c / (cz.n + bz.n - c), 6) AS jaccard
  FROM i JOIN cz ON cz.doc_id = i.doc_id
         JOIN bz ON bz.bench_id = i.bench_id
),
best AS (
  SELECT doc_id, bench_id, jaccard,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY jaccard DESC, bench_id
         ) AS rn
  FROM jac
)
SELECT d.doc_id, b.bench_id,
       coalesce(b.jaccard, 0.0) AS best_jaccard,
       coalesce(b.jaccard, 0.0) >= {threshold} AS is_contaminated
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
WHERE d.doc_id >= {bench_max}
"""


def frequent_ngrams_sql(n: int, top: int) -> str:
    """Corpus-wide top word n-grams; (count desc, ngram asc) is a total
    order, so the LIMIT boundary is engine-independent. Tokenization
    mirrors ``dup_ngram_fraction_sql``."""
    from rag_database_spark.functions.text import SPLIT_RE

    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '{SPLIT_RE}'),
                     x -> length(x) > 0) AS t
  FROM documents
),
pos AS (
  SELECT doc_id, t,
         unnest(generate_series(1, len(t) - {n} + 1)) AS i
  FROM toks
),
ng AS (
  SELECT doc_id, array_to_string(t[i:i + {n - 1}], ' ') AS ng
  FROM pos
)
SELECT ng, count(*)::BIGINT AS n_occurrences,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM ng GROUP BY ng
ORDER BY n_occurrences DESC, ng
LIMIT {top}
"""


def dedup_regions_sql() -> str:
    """W5 overlap-resolution keep-walk (table_extractor.py:270-288) as a
    recursive state machine: regions per document in start order; the
    walk carries the current candidate (last kept region); a disjoint
    incoming region COMMITS the candidate to the output and becomes the
    new candidate; an overlapping one replaces the candidate iff its
    confidence is strictly higher, else is dropped. Final candidates are
    committed at the last step. Region generation mirrors
    ``tables_extract.synthetic_regions`` — starts strictly increasing by
    200 per doc, so the walk order is unambiguous on both engines."""
    return """
WITH RECURSIVE regions AS (
  SELECT doc_id AS document_id, i,
         (i * 200 + n_chars % 100)::BIGINT AS r_start,
         (i * 200 + n_chars % 100 + 150
            + (n_chars * (i + 2)) % 120)::BIGINT AS r_end,
         ((n_chars * (i * 31 + 17)) % 100) / 100.0 AS confidence
  FROM documents
  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) AS steps
),
walk AS (
  SELECT document_id, 0 AS i,
         r_start AS c_start, r_end AS c_end, confidence AS c_conf,
         CAST(NULL AS BIGINT) AS out_start,
         CAST(NULL AS BIGINT) AS out_end,
         CAST(NULL AS DOUBLE) AS out_conf
  FROM regions WHERE i = 0
  UNION ALL
  SELECT w.document_id, r.i,
         CASE WHEN r.r_start < w.c_end
              THEN CASE WHEN r.confidence > w.c_conf
                        THEN r.r_start ELSE w.c_start END
              ELSE r.r_start END,
         CASE WHEN r.r_start < w.c_end
              THEN CASE WHEN r.confidence > w.c_conf
                        THEN r.r_end ELSE w.c_end END
              ELSE r.r_end END,
         CASE WHEN r.r_start < w.c_end
              THEN CASE WHEN r.confidence > w.c_conf
                        THEN r.confidence ELSE w.c_conf END
              ELSE r.confidence END,
         CASE WHEN r.r_start >= w.c_end THEN w.c_start END,
         CASE WHEN r.r_start >= w.c_end THEN w.c_end END,
         CASE WHEN r.r_start >= w.c_end THEN w.c_conf END
  FROM walk w
  JOIN regions r ON r.document_id = w.document_id AND r.i = w.i + 1
)
SELECT document_id, out_start AS r_start, out_end AS r_end,
       out_conf AS confidence
FROM walk WHERE out_start IS NOT NULL
UNION ALL
SELECT document_id, c_start AS r_start, c_end AS r_end,
       c_conf AS confidence
FROM walk WHERE i = 3
"""


def events_profile_sql() -> str:
    return """
SELECT event_type,
       count(*)::BIGINT AS n_events,
       count(DISTINCT user_id)::BIGINT AS n_users,
       round(quantile_cont(value, 0.5), 6) AS p50_value,
       round(quantile_cont(value, 0.95), 6) AS p95_value,
       round(quantile_cont(value, 0.99), 6) AS p99_value
FROM events GROUP BY event_type
"""


def domain_cap_sql(per_source: int = 10) -> str:
    return f"""
SELECT doc_id, source, q_score, rank_in_source FROM (
  SELECT d.doc_id, d.source, dq.q_score,
         row_number() OVER (
           PARTITION BY d.source ORDER BY dq.q_score DESC, d.doc_id
         ) AS rank_in_source
  FROM ({doc_quality_sql()}) dq JOIN documents d ON dq.doc_id = d.doc_id
)
WHERE rank_in_source <= {per_source}
"""


def _dup_span_ctes(n: int) -> str:
    """CTE chain through ``sp`` — the merged duplication islands per
    document (same tokenization as ``dup_ngram_fraction_sql``, same
    running-max-end island merge as ``_dup_span_islands``). Shared by
    ``dup_spans_sql`` and ``cut_dup_spans_sql``."""
    from rag_database_spark.functions.text import SPLIT_RE

    return f"""toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '{SPLIT_RE}'),
                     x -> length(x) > 0) AS t
  FROM documents
),
pos AS (
  SELECT doc_id, t,
         unnest(generate_series(1, len(t) - {n} + 1)) AS i
  FROM toks
),
ng AS (
  SELECT doc_id, len(t) AS n_tokens, i,
         array_to_string(t[i:i + {n - 1}], ' ') AS ng
  FROM pos
),
dup_ngs AS (
  SELECT ng FROM (
    SELECT ng, count(DISTINCT doc_id) AS ndocs FROM ng GROUP BY ng
  ) WHERE ndocs > 1
),
dup AS (
  SELECT g.doc_id, g.n_tokens, g.i AS s, g.i + {n - 1} AS e
  FROM ng g JOIN dup_ngs USING (ng)
),
m AS (
  SELECT *, max(e) OVER (
    PARTITION BY doc_id ORDER BY s
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  ) AS pme
  FROM dup
),
isl AS (
  SELECT *, sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END) OVER (
    PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING
  ) AS grp
  FROM m
),
sp AS (
  SELECT doc_id, n_tokens, grp, min(s) AS s, max(e) AS e
  FROM isl GROUP BY 1, 2, 3
)"""


def dup_spans_sql(n: int) -> str:
    """Twin of ``text_analytics.dup_spans``: per-doc rollup over the
    merged duplication islands."""
    return f"""
WITH {_dup_span_ctes(n)},
per AS (
  SELECT doc_id, n_tokens, count(*) AS n_dup_spans,
         sum(e - s + 1) AS covered
  FROM sp GROUP BY 1, 2
)
SELECT d.doc_id,
       coalesce(p.n_dup_spans, 0)::BIGINT AS n_dup_spans,
       coalesce(p.covered, 0)::BIGINT AS covered_tokens,
       round(coalesce(p.covered / p.n_tokens, 0.0), 6) AS dup_span_frac
FROM documents d LEFT JOIN per p USING (doc_id)
"""


def cut_dup_spans_sql(n: int) -> str:
    """Twin of ``text_analytics.cut_dup_spans``: remove every covered
    token position and reassemble the kept stream in position order."""
    return f"""
WITH {_dup_span_ctes(n)},
covered AS (
  SELECT doc_id, unnest(generate_series(s, e)) AS p
  FROM sp
),
tokpos AS (
  SELECT doc_id, i AS p, t[i] AS tok
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
        FROM toks)
),
kept AS (
  SELECT tp.doc_id, tp.p, tp.tok
  FROM tokpos tp ANTI JOIN covered c ON c.doc_id = tp.doc_id AND c.p = tp.p
),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept_tokens,
         md5(string_agg(tok, ' ' ORDER BY p)) AS clean_md5
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(r.n_kept_tokens, 0)::BIGINT AS n_kept_tokens,
       coalesce(r.clean_md5, md5('')) AS clean_md5
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
"""


def quality_filter_sql(p: float) -> str:
    """Discrete-rank percentile filter: drop the ⌊N·p⌋ lowest docs
    under the total order (q_score asc, doc_id asc) — engine-identical
    at the boundary, unlike interpolated quantiles."""
    return f"""
SELECT doc_id, q_score FROM (
  SELECT dq.doc_id, dq.q_score,
         row_number() OVER (ORDER BY dq.q_score, dq.doc_id) AS rn,
         count(*) OVER () AS n
  FROM ({doc_quality_sql()}) dq
)
WHERE rn > floor(n * {p})
"""


def vocab_oov_sql(vocab_size: int) -> str:
    """Twin of ``text_analytics.vocab_oov``: same tokenization as
    ``dup_ngram_fraction_sql``, same (count desc, token asc) vocab
    induction order."""
    from rag_database_spark.functions.text import SPLIT_RE

    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '{SPLIT_RE}'),
                     x -> length(x) > 0) AS t
  FROM documents
),
tok_rows AS (SELECT doc_id, unnest(t) AS tok FROM toks),
vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS cnt FROM tok_rows GROUP BY tok
  ) ORDER BY cnt DESC, tok LIMIT {vocab_size}
),
per AS (
  SELECT r.doc_id, count(*) AS n_tokens,
         sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM tok_rows r LEFT JOIN vocab v USING (tok)
  GROUP BY r.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(p.n_oov, 0)::BIGINT AS n_oov,
       round(CASE WHEN p.n_tokens > 0 THEN p.n_oov / p.n_tokens
                  ELSE 0.0 END, 6) AS oov_rate
FROM documents d LEFT JOIN per p USING (doc_id)
"""


def lm_score_sql(alpha: float) -> str:
    """Twin of ``text_analytics.lm_score``: same tokenization as
    ``vocab_oov_sql``, bigrams via the positional self-join (the
    engine forms them array-side; the join is the oracle's clearer
    equivalent), same weighted-mean form Σm·lp / Σm so the engines
    differ only in summation order, perplexity from the rounded
    mean."""
    from rag_database_spark.functions.text import SPLIT_RE

    a = repr(alpha)
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '{SPLIT_RE}'),
                     x -> length(x) > 0) AS t
  FROM documents
),
tok_rows AS (
  SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok
  FROM toks
),
big AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM tok_rows a JOIN tok_rows b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
per AS (
  SELECT doc_id, w1, w2, count(*)::DOUBLE AS m FROM big GROUP BY 1, 2, 3
),
cnt AS (SELECT w1, w2, sum(m) AS c FROM per GROUP BY 1, 2),
ctx AS (SELECT w1, sum(c) AS cx FROM cnt GROUP BY 1),
vv AS (SELECT count(DISTINCT tok)::DOUBLE AS v FROM tok_rows),
rolled AS (
  SELECT p.doc_id,
         sum(p.m)::BIGINT AS n_bigrams,
         round(sum(p.m * ln((c.c + {a}) / (x.cx + {a} * (SELECT v FROM vv))))
               / sum(p.m), 6) AS avg_logp
  FROM per p JOIN cnt c USING (w1, w2) JOIN ctx x USING (w1)
  GROUP BY p.doc_id
)
SELECT d.doc_id,
       coalesce(r.n_bigrams, 0)::BIGINT AS n_bigrams,
       r.avg_logp AS avg_logp,
       round(exp(-r.avg_logp), 6) AS ppl
FROM documents d LEFT JOIN rolled r USING (doc_id)
"""


def ingest_gate_sql(mod: int, k: int) -> str:
    """Twin of ``dedup.best_jaccard_vs_index`` on the fixture split:
    docs with doc_id % mod == 0 are the incoming batch, the rest are
    the accepted corpus/index; per incoming doc, the best-Jaccard
    corpus match under (jaccard desc, doc_id asc)."""
    return f"""
WITH {_shingle_ctes(k)},
ce AS (SELECT doc_id, s FROM ex WHERE doc_id % {mod} <> 0),
be AS (SELECT doc_id AS new_id, s FROM ex WHERE doc_id % {mod} = 0),
cz AS (SELECT doc_id, n FROM sz WHERE doc_id % {mod} <> 0),
bz AS (SELECT doc_id AS new_id, n FROM sz WHERE doc_id % {mod} = 0),
i AS (
  SELECT be.new_id, ce.doc_id, count(*) AS c
  FROM ce JOIN be USING (s) GROUP BY 1, 2
),
jac AS (
  SELECT i.new_id, i.doc_id,
         round(c / (cz.n + bz.n - c), 6) AS jaccard
  FROM i JOIN cz ON cz.doc_id = i.doc_id
         JOIN bz ON bz.new_id = i.new_id
),
best AS (
  SELECT new_id, doc_id, jaccard,
         row_number() OVER (
           PARTITION BY new_id ORDER BY jaccard DESC, doc_id
         ) AS rn
  FROM jac
)
SELECT d.doc_id, b.doc_id AS match_id,
       coalesce(b.jaccard, 0.0) AS best_jaccard
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = d.doc_id
WHERE d.doc_id % {mod} = 0
"""


def source_mix_sql(token_budget: int) -> str:
    from rag_database_spark.functions.text import SPLIT_RE

    return f"""
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len(list_filter(
           string_split_regex(trim(text), '{SPLIT_RE}'),
           x -> length(x) > 0)))::BIGINT AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       round(least(1.0, {token_budget} / n_tokens), 6) AS sample_weight
FROM per
"""


def strip_markup_sql() -> str:
    """Twin of ``text_analytics.strip_markup`` over the deterministic
    ``wrap_markup`` fixture: same tag regex, same entity order, same
    whitespace collapse."""
    from rag_database_spark.functions.text import SPLIT_RE

    return f"""
WITH wrapped AS (
  SELECT doc_id, text AS original,
         '<div id="d' || doc_id || '"><p>' ||
           replace(text, ' ', '&nbsp;</p><p class="x">') ||
           '</p></div>' AS html
  FROM documents
),
stripped AS (
  SELECT doc_id, original,
         len(regexp_extract_all(html, '<[^>]+>'))::BIGINT AS n_tags,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace(html, '<[^>]+>', ' ', 'g'),
             '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
             '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
           '{SPLIT_RE}', ' ', 'g')) AS clean_text
  FROM wrapped
)
SELECT doc_id, n_tags, md5(clean_text) AS clean_md5,
       clean_text = trim(regexp_replace(original, '{SPLIT_RE}', ' ', 'g'))
         AS round_trip
FROM stripped
"""


def dense_filtered_topk_sql(labels: tuple, limit: int = HYBRID_LIMIT) -> str:
    """Filtered vector search twin: the label scope prunes candidates
    BEFORE scoring, so the top-k is ranked over eligible vectors only."""
    in_list = ", ".join(str(x) for x in labels)
    return f"""
WITH qv AS (
  SELECT q.query_id, e.embedding::DOUBLE[] AS qvec
  FROM {queries_values_sql()}
  JOIN embeddings e ON e.vec_id = q.query_vec_id
),
scored AS (
  SELECT qv.query_id, e.vec_id AS id,
         list_cosine_similarity(qv.qvec, e.embedding::DOUBLE[]) AS score
  FROM qv CROSS JOIN embeddings e
  WHERE e.label IN ({in_list})
),
ranked AS (
  SELECT query_id, id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, id
         ) AS rank
  FROM scored
)
SELECT query_id, id, round(score, 6) AS score, rank::BIGINT AS rank
FROM ranked WHERE rank <= {limit}
"""


def time_travel_sql(mod: int) -> str:
    """Twin of the TombstoneTable snapshot entry: epoch 1 (pre-delete)
    sees the whole corpus, epoch 2 (post DELETE WHERE doc_id % mod == 3)
    sees everything else."""
    return f"""
SELECT 1 AS epoch, count(*)::BIGINT AS n_rows FROM documents
UNION ALL
SELECT 2 AS epoch, count(*)::BIGINT AS n_rows
FROM documents WHERE doc_id % {mod} <> 3
"""


def curate_corpus_sql(jaccard_threshold: float, k: int, p: float) -> str:
    """Twin of the end-to-end curation composite: exact-canonical ∩
    near-dup-representative survivors, quality-ranked with the bottom
    ⌊N·p⌋ dropped, minus contaminated (and eval-slice) docs. Built by
    nesting the per-stage oracle builders, so each stage's semantics
    stay pinned to its standalone entry."""
    return f"""
WITH RECURSIVE {_cluster_ctes(jaccard_threshold, k)},
exact AS (
  SELECT doc_id FROM ({exact_dedup_sql()}) e
  WHERE e.doc_id = e.canonical_id
),
survivors AS (
  SELECT c.doc_id FROM cl c
  JOIN exact USING (doc_id)
  WHERE c.doc_id = c.cluster_id
),
q AS (
  SELECT dq.doc_id, dq.q_score
  FROM ({doc_quality_sql()}) dq JOIN survivors USING (doc_id)
),
ranked AS (
  SELECT doc_id, q_score,
         row_number() OVER (ORDER BY q_score, doc_id) AS rn,
         count(*) OVER () AS nn
  FROM q
),
qkept AS (
  SELECT doc_id, q_score FROM ranked WHERE rn > floor(nn * {p})
),
clean AS (
  SELECT doc_id FROM ({decontaminate_sql()}) dc
  WHERE NOT dc.is_contaminated
)
SELECT k.doc_id, k.q_score FROM qkept k JOIN clean USING (doc_id)
"""


def curation_funnel_sql(jaccard_threshold: float, k: int, p: float) -> str:
    """Twin of the curation_funnel entry: the same nested stage CTEs
    as ``curate_corpus_sql``, finished with per-stage survivor counts
    instead of the final corpus."""
    return f"""
WITH RECURSIVE {_cluster_ctes(jaccard_threshold, k)},
exact AS MATERIALIZED (
  SELECT doc_id FROM ({exact_dedup_sql()}) e
  WHERE e.doc_id = e.canonical_id
),
survivors AS MATERIALIZED (
  SELECT c.doc_id FROM cl c
  JOIN exact USING (doc_id)
  WHERE c.doc_id = c.cluster_id
),
q AS (
  SELECT dq.doc_id, dq.q_score
  FROM ({doc_quality_sql()}) dq JOIN survivors USING (doc_id)
),
ranked AS (
  SELECT doc_id, q_score,
         row_number() OVER (ORDER BY q_score, doc_id) AS rn,
         count(*) OVER () AS nn
  FROM q
),
qkept AS MATERIALIZED (
  SELECT doc_id FROM ranked WHERE rn > floor(nn * {p})
),
clean AS (
  SELECT doc_id FROM ({decontaminate_sql()}) dc
  WHERE NOT dc.is_contaminated
),
fin AS (SELECT k2.doc_id FROM qkept k2 JOIN clean USING (doc_id))
SELECT 1::BIGINT AS stage_idx, 'raw' AS stage,
       count(*)::BIGINT AS n_docs FROM documents
UNION ALL SELECT 2, 'exact_dedup', count(*) FROM exact
UNION ALL SELECT 3, 'near_dup', count(*) FROM survivors
UNION ALL SELECT 4, 'quality', count(*) FROM qkept
UNION ALL SELECT 5, 'decontam', count(*) FROM fin
"""


def nfc_normalize_sql() -> str:
    """Twin of ``normalize_unicode`` over the ``decompose_fixture``
    corpus: chr(769)/chr(776) are the same combining marks the Spark
    fixture injects; DuckDB's nfc_normalize == Python unicodedata NFC."""
    return """
WITH deco AS (
  SELECT doc_id,
         replace(replace(text, 'e', 'e' || chr(769)),
                 'o', 'o' || chr(776)) AS raw
  FROM documents
)
SELECT doc_id,
       length(raw)::BIGINT AS n_chars_raw,
       length(nfc_normalize(raw))::BIGINT AS n_chars_nfc,
       md5(nfc_normalize(raw)) AS nfc_md5
FROM deco
"""


def bpe_pair_stats_sql(top_n: int) -> str:
    """Twin of ``bpe.pair_stats``: raw-token words (the shared
    ``_TOKENIZE`` pipeline, stopwords kept), character pairs inside
    each word plus the (last-char, '</w>') end pair, weighted by word
    frequency; deterministic top-N boundary (count DESC, lhs, rhs).
    Words are ASCII post-strip (both engines' \\w is ASCII), so
    ``substr`` character indexing agrees bit-for-bit."""
    tok = _TOKENIZE.format(text="text")
    return f"""
WITH words AS (
  SELECT w AS word FROM (SELECT {tok} AS w FROM documents)
  WHERE length(w) > 0
),
wc AS (SELECT word, count(*)::BIGINT AS cnt FROM words GROUP BY word),
inner_pairs AS (
  SELECT substr(word, i, 1) AS lhs, substr(word, i + 1, 1) AS rhs, cnt
  FROM (SELECT word, cnt, unnest(range(1, length(word))) AS i FROM wc)
),
eow_pairs AS (
  SELECT substr(word, length(word), 1) AS lhs, '</w>' AS rhs, cnt FROM wc
)
SELECT lhs, rhs, sum(cnt)::BIGINT AS pair_count
FROM (SELECT * FROM inner_pairs UNION ALL SELECT * FROM eow_pairs)
GROUP BY lhs, rhs
ORDER BY pair_count DESC, lhs, rhs
LIMIT {top_n}
"""


def _bpe_train_ctes(num_merges: int, min_count: int) -> str:
    """Unrolled twin of ``bpe.train_bpe`` — the iterative merge loop
    the r11/r12 entries declared "not SQL-expressible", expressed as
    ``num_merges`` rounds over a LONG-format symbol table
    ``w{{t}}(word, cnt, pos, sym)`` (never re-nested into lists, so no
    fold/accumulator is needed):

    - ``pc{{t}}``: adjacent-pair counts via ``lead()`` per word — the
      twin of ``bpe.pair_counts``.
    - ``best{{t}}``: the 1-row argmax under the engine's exact
      tie-break (count DESC, lhs, rhs) and ``min_count`` guard. An
      EMPTY best (early stop) makes the round a provable no-op: the
      scalar subqueries go NULL, no candidate matches, the table
      passes through unchanged — and emptiness is monotone, exactly
      the engine's ``break``.
    - greedy left-to-right non-overlap: matches of one rule can only
      be adjacent when lhs = rhs (a match at i and i+1 forces
      s[i+1] = rhs = lhs), so ``sel{{t}}`` keeps the odd-ranked
      candidates inside each gaps-and-islands run — exactly the
      ``merge_pair`` fold's behavior (unit-proven against the pure-
      Python reference in tests/test_bpe.py for same-symbol runs).
    - ``w{{t+1}}``: selected rows become ``lhs||rhs``, the consumed
      right neighbors drop, positions re-number densely.

    Multiply-referenced CTEs are MATERIALIZED — DuckDB otherwise
    inlines each reference and the 32-round chain explodes
    exponentially (the measured blocker behind the r11 assertion: the
    un-materialized form never finishes; materialized, 32 rounds run
    in ~1 s at sf0.01)."""
    tok = _TOKENIZE.format(text="text")
    parts = [
        f"""wc AS (
  SELECT word, count(*)::BIGINT AS cnt FROM (
    SELECT w AS word FROM (SELECT {tok} AS w FROM documents)
    WHERE length(w) > 0
  ) GROUP BY word
)""",
        """w0 AS (
  SELECT word, cnt, i AS pos, substr(word, i, 1) AS sym
  FROM (SELECT word, cnt, unnest(range(1, length(word)+1)) AS i FROM wc)
  UNION ALL
  SELECT word, cnt, length(word)+1 AS pos, '</w>' FROM wc
)""",
    ]
    for t in range(num_merges):
        parts.append(f"""pc{t} AS (
  SELECT sym AS lhs, nxt AS rhs, sum(cnt)::BIGINT AS pair_count
  FROM (SELECT cnt, sym, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
        FROM w{t})
  WHERE nxt IS NOT NULL GROUP BY 1, 2
),
best{t} AS MATERIALIZED (
  SELECT lhs, rhs, pair_count FROM pc{t}
  WHERE pair_count >= {min_count}
  ORDER BY pair_count DESC, lhs, rhs LIMIT 1
),
x{t} AS MATERIALIZED (
  SELECT word, cnt, pos, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM w{t}
),
cnd{t} AS (
  SELECT word, pos FROM x{t}
  WHERE sym = (SELECT lhs FROM best{t}) AND nxt = (SELECT rhs FROM best{t})
),
sel{t} AS MATERIALIZED (
  SELECT word, pos FROM (
    SELECT word, pos,
           row_number() OVER (PARTITION BY word, grp ORDER BY pos) AS k
    FROM (SELECT word, pos,
                 pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
          FROM cnd{t})
  ) WHERE k % 2 = 1
),
w{t + 1} AS MATERIALIZED (
  SELECT word, cnt,
         row_number() OVER (PARTITION BY word ORDER BY opos) AS pos, sym
  FROM (
    SELECT x.word, x.cnt, x.pos AS opos,
           CASE WHEN s.pos IS NOT NULL
                THEN x.sym || (SELECT rhs FROM best{t}) ELSE x.sym END AS sym
    FROM x{t} x
    LEFT JOIN sel{t} s ON s.word = x.word AND s.pos = x.pos
    LEFT JOIN sel{t} p ON p.word = x.word AND p.pos = x.pos - 1
    WHERE p.pos IS NULL
  )
)""")
    return ",\n".join(parts)


def bpe_vocab_sql(num_merges: int, min_count: int) -> str:
    """Twin of the ``bpe_vocab`` entry: the ordered merge list
    (rank, lhs, rhs, merged, pair_count) from the unrolled training
    chain — each round's 1-row ``best`` CTE IS that round's merge;
    early-stopped rounds contribute no row, so ranks stay the dense
    0..m-1 prefix the engine's loop-break produces."""
    union = "\nUNION ALL\n".join(
        f"SELECT {t} AS rank, lhs, rhs, lhs||rhs AS merged, pair_count "
        f"FROM best{t}"
        for t in range(num_merges)
    )
    return f"""
WITH {_bpe_train_ctes(num_merges, min_count)}
SELECT * FROM ({union}) ORDER BY rank
"""


def bpe_tokens_sql(num_merges: int, min_count: int) -> str:
    """Twin of the ``bpe_tokens`` entry (``bpe.encode_docs`` against
    the trained table): per-word final token count = rows per word in
    the settled ``w{{num_merges}}`` long table, joined to the per-doc
    word rollup over the same tokenizer; byte-fallback coalesce
    (length+1) mirrored even though a same-corpus join always hits."""
    tok = _TOKENIZE.format(text="text")
    return f"""
WITH {_bpe_train_ctes(num_merges, min_count)},
n_tok AS (
  SELECT word, count(*)::BIGINT AS n_tok
  FROM w{num_merges} GROUP BY word
),
per_word AS (
  SELECT doc_id, word, count(*)::BIGINT AS n FROM (
    SELECT doc_id, {tok} AS word FROM documents
  ) WHERE length(word) > 0
  GROUP BY doc_id, word
)
SELECT p.doc_id,
       sum(p.n)::BIGINT AS n_words,
       sum(p.n * coalesce(t.n_tok, length(p.word) + 1))::BIGINT
         AS n_bpe_tokens,
       round(sum(p.n * coalesce(t.n_tok, length(p.word) + 1))
             / sum(p.n), 6) AS avg_tokens_per_word
FROM per_word p LEFT JOIN n_tok t USING (word)
GROUP BY p.doc_id
"""


def lang_fertility_sql(num_merges: int, min_count: int) -> str:
    """Twin of ``bpe.lang_fertility``: the ``bpe_tokens`` per-doc
    chain rolled up by the corpus language column."""
    tok = _TOKENIZE.format(text="text")
    return f"""
WITH {_bpe_train_ctes(num_merges, min_count)},
n_tok AS (
  SELECT word, count(*)::BIGINT AS n_tok
  FROM w{num_merges} GROUP BY word
),
per_word AS (
  SELECT doc_id, word, count(*)::BIGINT AS n FROM (
    SELECT doc_id, {tok} AS word FROM documents
  ) WHERE length(word) > 0
  GROUP BY doc_id, word
),
per_doc AS (
  SELECT p.doc_id,
         sum(p.n)::BIGINT AS n_words,
         sum(p.n * coalesce(t.n_tok, length(p.word) + 1))::BIGINT
           AS n_bpe_tokens
  FROM per_word p LEFT JOIN n_tok t USING (word)
  GROUP BY p.doc_id
)
SELECT d.lang,
       count(*)::BIGINT AS n_docs,
       sum(pd.n_words)::BIGINT AS n_words,
       sum(pd.n_bpe_tokens)::BIGINT AS n_bpe_tokens,
       round(sum(pd.n_bpe_tokens) / sum(pd.n_words), 6) AS fertility
FROM per_doc pd JOIN documents d USING (doc_id)
GROUP BY d.lang
"""


def token_budget_select_sql(frac: float) -> str:
    """Twin of ``text_analytics.token_budget_select``: same 6dp-rounded
    quality score (``doc_quality_sql``), same whitespace token count as
    ``token_stats_sql``, prefix selection under (q_score DESC, doc_id)
    with the budget in exact integer arithmetic (``* num // 1000``) —
    a float ``total * 0.6`` floors differently across engines when the
    product lands on an integer."""
    from rag_database_spark.functions.text import SPLIT_RE

    num = round(frac * 1000)
    return f"""
WITH tok AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '{SPLIT_RE}'),
                         x -> length(x) > 0))::BIGINT AS n_tokens
  FROM documents
),
scored AS (
  SELECT dq.doc_id, dq.q_score, tok.n_tokens
  FROM ({doc_quality_sql()}) dq JOIN tok USING (doc_id)
),
run AS (
  SELECT doc_id, q_score, n_tokens,
         sum(n_tokens) OVER (ORDER BY q_score DESC, doc_id) AS cum,
         sum(n_tokens) OVER () AS total
  FROM scored
)
SELECT doc_id, q_score, n_tokens
FROM run WHERE cum <= total * {num} // 1000
"""


def contrastive_score_sql(alpha: float, in_lang: str) -> str:
    """Twin of ``text_analytics.contrastive_score``: the ``lm_score``
    machinery twice — base model over every document, in-domain model
    over the ``lang = in_lang`` slice (its own bigram counts, context
    totals, and vocabulary size) — with matched-bigram weighted means
    rounded at 6dp before the difference, exactly like the engine."""
    from rag_database_spark.functions.text import SPLIT_RE

    a = repr(alpha)
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '{SPLIT_RE}'),
                     x -> length(x) > 0) AS t
  FROM documents
),
tok_rows AS (
  SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok
  FROM toks
),
big AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM tok_rows a JOIN tok_rows b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
per AS (
  SELECT doc_id, w1, w2, count(*)::DOUBLE AS m FROM big GROUP BY 1, 2, 3
),
cnt AS (SELECT w1, w2, sum(m) AS c FROM per GROUP BY 1, 2),
ctx AS (SELECT w1, sum(c) AS cx FROM cnt GROUP BY 1),
vv AS (SELECT count(DISTINCT tok)::DOUBLE AS v FROM tok_rows),
in_ids AS (SELECT doc_id FROM documents WHERE lang = '{in_lang}'),
per_i AS (SELECT p.* FROM per p JOIN in_ids USING (doc_id)),
cnt_i AS (SELECT w1, w2, sum(m) AS c FROM per_i GROUP BY 1, 2),
ctx_i AS (SELECT w1, sum(c) AS cx FROM cnt_i GROUP BY 1),
vv_i AS (
  SELECT count(DISTINCT r.tok)::DOUBLE AS v
  FROM tok_rows r JOIN in_ids USING (doc_id)
),
rolled_b AS (
  SELECT p.doc_id, sum(p.m)::BIGINT AS n_base,
         round(sum(p.m * ln((c.c + {a}) / (x.cx + {a} * (SELECT v FROM vv))))
               / sum(p.m), 6) AS avg_logp_base
  FROM per p JOIN cnt c USING (w1, w2) JOIN ctx x USING (w1)
  GROUP BY p.doc_id
),
rolled_i AS (
  SELECT p.doc_id, sum(p.m)::BIGINT AS n_in,
         round(sum(p.m * ln((c.c + {a}) / (x.cx + {a} * (SELECT v FROM vv_i))))
               / sum(p.m), 6) AS avg_logp_in
  FROM per p JOIN cnt_i c USING (w1, w2) JOIN ctx_i x USING (w1)
  GROUP BY p.doc_id
),
tot AS (SELECT doc_id, sum(m)::BIGINT AS n_bigrams FROM per GROUP BY 1)
SELECT d.doc_id,
       coalesce(t.n_bigrams, 0)::BIGINT AS n_bigrams,
       round(coalesce(ri.n_in, 0)
             / greatest(coalesce(t.n_bigrams, 0), 1), 6) AS in_coverage,
       ri.avg_logp_in AS avg_logp_in,
       rb.avg_logp_base AS avg_logp_base,
       round(ri.avg_logp_in - rb.avg_logp_base, 6) AS ml_score
FROM documents d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN rolled_i ri USING (doc_id)
LEFT JOIN rolled_b rb USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Deterministic k-means + SemDeDup (operators/clustering.py)
# ---------------------------------------------------------------------------


def _kmeans_ctes(iters: int, dim: int, scale: int,
                 k_min: int | None = None,
                 k_target: int | None = None,
                 k_sql: str | None = None) -> str:
    """Unrolled Lloyd's twin of ``clustering.kmeans_fit``: quantized
    integer inputs make every centroid mean an exact-integer-sum /
    count (bit-identical across engines with no rounding), and the
    squared distance is the same left-associated term chain as the
    engine's ``F.aggregate`` fold, so assignments agree exactly
    (ties → lowest cid via ORDER BY (d, cid), the engine's
    ``array_position``-of-first-min).

    k is COUNT-DERIVED in SQL — ``kk`` replays
    ``clustering.kmeans_k_for`` with exact integer ceiling division
    (``greatest(k_min, (n + k_target - 1) // k_target)``), or an
    explicit ``k_sql`` aggregate expression over ``xq`` (the IVF
    sizing rule passes its own), so the oracle tracks the engine's
    adaptive-k contract at ANY sf without a per-sf literal (the same
    trick ``knn_graph_lsh_sql``'s ``np`` CTE uses for the plane
    count). Every other CTE is k-free: the assignment cross-join and
    the centroid-mean update are sized by whatever ``c0`` emits."""
    from rag_database_spark.operators.clustering import (
        KMEANS_K, KMEANS_TARGET_CLUSTER,
    )

    if k_min is None:
        k_min = KMEANS_K
    if k_target is None:
        k_target = KMEANS_TARGET_CLUSTER
    dist = " + ".join(
        f"(q.x[{i}]-c.c[{i}])*(q.x[{i}]-c.c[{i}])" for i in range(1, dim + 1)
    )
    mean = ", ".join(f"sum(x[{i}])/count(*)" for i in range(1, dim + 1))

    def assign(name: str, cent: str) -> str:
        # MATERIALIZED: every round CTE is referenced by the next
        # assign AND the next centroid update — inlined, the unrolled
        # chain re-plans everything below each reference (2^iters
        # blowup, the BPE-twin lesson)
        return f"""{name} AS MATERIALIZED (
  SELECT vec_id, x, cid FROM (
    SELECT vec_id, x, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM (SELECT q.vec_id, q.x, c.cid, {dist} AS d
          FROM xq q, {cent} c)
  ) WHERE rn = 1
)"""

    parts = [
        f"""xq AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], v -> round(v*{scale})) AS x
  FROM embeddings
)""",
        f"""kk AS (
  -- count-derived k: kmeans_k_for / ivf_k_for twin in exact
  -- integer arithmetic
  SELECT {k_sql or
          f'greatest({k_min}, (count(*) + {k_target - 1}) // {k_target})'}
         AS k
  FROM xq
)""",
        f"""c0 AS MATERIALIZED (
  SELECT rn - 1 AS cid, x AS c FROM (
    SELECT x, row_number() OVER (ORDER BY vec_id) AS rn FROM xq
  ) WHERE rn <= (SELECT k FROM kk)
)""",
    ]
    for t in range(1, iters + 1):
        parts.append(assign(f"a{t}", f"c{t - 1}"))
        parts.append(f"""c{t} AS MATERIALIZED (
  SELECT p.cid, CASE WHEN u.cid IS NULL THEN p.c ELSE u.c END AS c
  FROM c{t - 1} p LEFT JOIN (
    SELECT cid, [{mean}] AS c FROM a{t} GROUP BY cid
  ) u ON u.cid = p.cid
)""")
    parts.append(assign("af", f"c{iters}"))
    return ",\n".join(parts)


def kmeans_sql(iters: int, dim: int, scale: int) -> str:
    return f"""
WITH {_kmeans_ctes(iters, dim, scale)}
SELECT e.vec_id, a.cid AS cluster_id, e.label
FROM embeddings e JOIN af a ON a.vec_id = e.vec_id
"""


def semdedup_sql(threshold: float, iters: int, dim: int,
                 scale: int) -> str:
    """Twin of ``clustering.semdedup`` over the shared k-means CTEs:
    pairwise cosine only within a cluster, drop iff a LOWER-id
    cluster-mate sits at rounded cosine ≥ threshold."""
    return f"""
WITH {_kmeans_ctes(iters, dim, scale)},
pairs AS (
  SELECT a.vec_id AS id,
         round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                      eb.embedding::DOUBLE[]), 6) AS cs
  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id > b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
),
best AS (SELECT id, max(cs) AS max_sim_lower FROM pairs GROUP BY id)
SELECT a.vec_id, a.cid AS cluster_id, b.max_sim_lower,
       (b.max_sim_lower IS NULL OR b.max_sim_lower < {threshold}) AS keep
FROM af a LEFT JOIN best b ON b.id = a.vec_id
"""


def kmeans_outliers_sql(iters: int, dim: int, scale: int,
                        keep_num: int, keep_den: int) -> str:
    """Twin of ``clustering.centroid_outliers`` over the shared
    k-means CTEs: squared distance to the OWN cluster's final centroid
    (c{iters}, the settled centroids the final assignment used) via
    the same left-associated term chain, closest-first rank (ties →
    lowest id), and the integer CEIL keep rule
    (crank−1)·keep_den < cluster_n·keep_num."""
    dist = " + ".join(
        f"(a.x[{i}]-c.c[{i}])*(a.x[{i}]-c.c[{i}])" for i in range(1, dim + 1)
    )
    return f"""
WITH {_kmeans_ctes(iters, dim, scale)},
dd AS (
  SELECT a.vec_id, a.cid, {dist} AS d
  FROM af a JOIN c{iters} c ON c.cid = a.cid
),
rr AS (
  SELECT vec_id, cid, d,
         row_number() OVER (PARTITION BY cid ORDER BY d, vec_id) AS crank,
         count(*) OVER (PARTITION BY cid) AS cluster_n
  FROM dd
)
SELECT vec_id, cid AS cluster_id, round(d, 6) AS dist, crank, cluster_n,
       ((crank - 1) * {keep_den} < cluster_n * {keep_num}) AS keep
FROM rr
"""


def ann_ivf_topk_sql(
    limit: int,
    n_probe: int = 4,
    iters: int | None = None,
    dim: int = 64,
    scale: int | None = None,
) -> str:
    """Exact twin of the DETERMINISTIC IVF path (``similarity._ivf_fit
    method='det'`` + ``ivf_topk_indexed probe='quantized'``): the
    shared unrolled Lloyd's CTEs rebuild the engine's persisted index
    bit-for-bit (same quantized frame, same count-derived centroid
    count via the kk CTE with IVF geometry), the probe picks each
    query's ``n_probe`` nearest FINAL centroids under the identical
    squared-distance term chain (ties → lowest cid), and candidates
    are exactly the probed lists (``af`` = the engine's partitioned
    list assignment) rescored by 6dp cosine with the (score DESC, id)
    rank discipline every dense entry uses. This upgrades ann_ivf_topk
    from the rows-only check the MLlib build forced (float centroids
    no SQL engine can replay) to full hash certification."""
    from rag_database_spark.operators.clustering import (
        KMEANS_ITERS, KMEANS_SCALE,
    )
    from rag_database_spark.operators.similarity import (
        IVF_MIN_CENTROIDS, IVF_TARGET_LIST,
    )

    if iters is None:
        iters = KMEANS_ITERS
    if scale is None:
        scale = KMEANS_SCALE
    qdist = " + ".join(
        f"(qv.qx[{i}]-c.c[{i}])*(qv.qx[{i}]-c.c[{i}])"
        for i in range(1, dim + 1)
    )
    # kk twin of similarity.ivf_k_for: greatest(min, least(ceil(n /
    # target), ceil(sqrt(n)))) — the float sqrt is correctly rounded,
    # so its ceil agrees with the engine's isqrt at every n < 2^52
    k_sql = (
        f"greatest({IVF_MIN_CENTROIDS}, least("
        f"(count(*) + {IVF_TARGET_LIST - 1}) // {IVF_TARGET_LIST}, "
        f"CAST(ceil(sqrt(count(*)::DOUBLE)) AS BIGINT)))"
    )
    return f"""
WITH {_kmeans_ctes(iters, dim, scale, k_sql=k_sql)},
qv AS (
  SELECT q.query_id, e.embedding::DOUBLE[] AS qvec,
         list_transform(e.embedding::DOUBLE[], v -> round(v*{scale})) AS qx
  FROM {queries_values_sql()}
  JOIN embeddings e ON e.vec_id = q.query_vec_id
),
probe AS (
  SELECT query_id, cid FROM (
    SELECT qv.query_id, c.cid,
           row_number() OVER (
             PARTITION BY qv.query_id ORDER BY {qdist}, c.cid
           ) AS pr
    FROM qv CROSS JOIN c{iters} c
  ) WHERE pr <= {n_probe}
),
cand AS (
  SELECT p.query_id, a.vec_id AS id
  FROM probe p JOIN af a ON a.cid = p.cid
),
scored AS (
  SELECT cd.query_id, cd.id,
         list_cosine_similarity(qv.qvec, e.embedding::DOUBLE[]) AS score
  FROM cand cd
  JOIN qv USING (query_id)
  JOIN embeddings e ON e.vec_id = cd.id
)
SELECT query_id, id, round(score, 6) AS score,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, id)::BIGINT AS rank
FROM scored
QUALIFY rank <= {limit}
"""


def pq_topk_sql(
    limit: int,
    dim: int = 64,
    m: int | None = None,
    k: int | None = None,
    iters: int | None = None,
    scale: int | None = None,
) -> str:
    """Exact twin of the PQ path (``pq.pq_fit`` +
    ``pq_topk_indexed``): per subspace, the same unrolled quantized-
    frame Lloyd's chain as ``_kmeans_ctes`` — instantiated over the
    slice ``(embedding::DOUBLE[])[start:end]`` with suffixed CTE names
    — rebuilds codebook and codes bit-for-bit (K is a static FORMAT
    constant here: the code width is the compression contract, so no
    kk CTE); the ADC score joins each subspace's final assignment and
    settled centroid per corpus id and sums the M fold-twin distance
    chains in the engine's fixed left-to-right subspace order (never a
    GROUP BY SUM, whose re-association would split engines); rank =
    (adc ASC, id). Inner chain CTEs are MATERIALIZED — the BPE lesson:
    multiply-referenced round CTEs inline exponentially otherwise."""
    m, k, iters, scale = _pq_defaults(m, k, iters, scale)
    parts = _pq_chain_parts(dim, m, k, iters, scale)
    joins, adc_sql = _pq_adc_sql(dim, m, iters, anchor="a0.vec_id",
                                 skip_first_assign=True)
    return f"""
WITH {",".join(parts)},
qv AS (
  SELECT q.query_id,
         list_transform(e.embedding::DOUBLE[], v -> round(v*{scale})) AS qx
  FROM {queries_values_sql()}
  JOIN embeddings e ON e.vec_id = q.query_vec_id
),
scored AS (
  SELECT q.query_id, a0.vec_id AS id, {adc_sql} AS adc
  FROM af_s0 a0
  {joins}
  CROSS JOIN qv q
)
SELECT query_id, id, round(adc, 6) AS adc_dist,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY adc, id)::BIGINT AS rank
FROM scored
QUALIFY rank <= {limit}
"""


def _pq_defaults(m, k, iters, scale) -> tuple[int, int, int, int]:
    from rag_database_spark.operators.clustering import (
        KMEANS_ITERS, KMEANS_SCALE,
    )
    from rag_database_spark.operators.pq import PQ_K, PQ_M

    return (
        PQ_M if m is None else m,
        PQ_K if k is None else k,
        KMEANS_ITERS if iters is None else iters,
        KMEANS_SCALE if scale is None else scale,
    )


def _pq_chain_parts(dim: int, m: int, k: int, iters: int,
                    scale: int) -> list[str]:
    """The M per-subspace unrolled Lloyd's chains (CTE names suffixed
    ``_s{j}``) over ``(embedding::DOUBLE[])[lo:hi]`` slices — shared
    by the flat-PQ and IVF-PQ oracles."""
    from rag_database_spark.operators.pq import _sub_slices

    slices = _sub_slices(dim, m)
    sub = dim // m
    parts: list[str] = []
    for j, (start, _) in enumerate(slices):
        s = f"_s{j}"
        dist = " + ".join(
            f"(q.x[{i}]-c.c[{i}])*(q.x[{i}]-c.c[{i}])"
            for i in range(1, sub + 1)
        )
        mean = ", ".join(f"sum(x[{i}])/count(*)" for i in range(1, sub + 1))

        def assign(name: str, cent: str) -> str:
            return f"""{name} AS MATERIALIZED (
  SELECT vec_id, x, cid FROM (
    SELECT vec_id, x, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM (SELECT q.vec_id, q.x, c.cid, {dist} AS d
          FROM xq{s} q, {cent} c)
  ) WHERE rn = 1
)"""

        parts.append(f"""xq{s} AS MATERIALIZED (
  SELECT vec_id,
         list_transform((embedding::DOUBLE[])[{start}:{start + sub - 1}],
                        v -> round(v*{scale})) AS x
  FROM embeddings
)""")
        parts.append(f"""c0{s} AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, x AS c
  FROM (SELECT vec_id, x FROM xq{s} ORDER BY vec_id LIMIT {k})
)""")
        for t in range(1, iters + 1):
            parts.append(assign(f"a{t}{s}", f"c{t - 1}{s}"))
            parts.append(f"""c{t}{s} AS MATERIALIZED (
  SELECT p.cid, CASE WHEN u.cid IS NULL THEN p.c ELSE u.c END AS c
  FROM c{t - 1}{s} p LEFT JOIN (
    SELECT cid, [{mean}] AS c FROM a{t}{s} GROUP BY cid
  ) u ON u.cid = p.cid
)""")
        parts.append(assign(f"af{s}", f"c{iters}{s}"))
    return parts


def _pq_adc_sql(dim: int, m: int, iters: int, anchor: str,
                skip_first_assign: bool) -> tuple[str, str]:
    """(join clauses, ADC expression) against the ``_s{j}`` chains:
    per-subspace assignment joined on ``anchor``'s vec_id, settled
    centroid joined per assignment, terms summed in fixed subspace
    order. ``skip_first_assign`` = the caller's FROM already binds
    ``af_s0 a0``."""
    from rag_database_spark.operators.pq import _sub_slices

    slices = _sub_slices(dim, m)
    sub = dim // m
    joins, adc_terms = [], []
    for j, (start, _) in enumerate(slices):
        s = f"_s{j}"
        if j > 0 or not skip_first_assign:
            joins.append(f"JOIN af{s} a{j} ON a{j}.vec_id = {anchor}")
        joins.append(f"JOIN c{iters}{s} cb{j} ON cb{j}.cid = a{j}.cid")
        adc_terms.append(
            "("
            + " + ".join(
                f"(q.qx[{start + i}]-cb{j}.c[{i + 1}])"
                f"*(q.qx[{start + i}]-cb{j}.c[{i + 1}])"
                for i in range(sub)
            )
            + ")"
        )
    return "\n  ".join(joins), " + ".join(adc_terms)


_SEM_DIM = 8  # chunking._hash_embed_py default — one md5 digest


def semantic_chunks_sql(
    src_sql: str | None = None,
    threshold: float | None = None,
    skip_window: int = 0,
) -> str:
    """Exact twin of ``chunking.semantic_chunks`` under the default
    deterministic hash embedder — the sequential centroid walk the
    r3-r12 entries declared 'no tractable SQL twin', expressed as ONE
    RECURSIVE CTE: per step, each document's next sentence joins the
    open chunk iff its cosine to the running centroid ≥ threshold
    (SDPM ``skip_window`` > 0 additionally looks ahead via that many
    LEFT JOINs, bridging a gap when a near-future sentence would
    join). Exactness chain:

    - sentence split: RE2 has no lookbehind → sentinel rewrite (the
      ``sentence_chunks_sql`` idiom), then per-sentence strip/filter.
    - embedding: the md5 16-bit-slice projection is DYADIC (every
      token contribution is (h−32768)/32768), so token sums are exact
      in any order; ``(Σh/32768 − n)/n`` equals the engine's
      accumulate-then-divide bit for bit.
    - walk state: (chunk_idx, cnt, running component sums) — the
      engine recomputes its centroid as a left-associated sum over
      ascending members, which IS the incremental accumulation, so
      cosines agree exactly; ties and the zero-norm guard mirror
      ``chunking._cos``.
    """
    from rag_database_spark.functions.text import (
        MIN_TOKEN_LEN, PUNCT_RE, SPLIT_RE,
    )
    from rag_database_spark.operators.chunking import (
        SEMANTIC_THRESHOLD, section_fixtures_values_sql,
    )

    if src_sql is None:
        src_sql = f"SELECT doc_id, text FROM {section_fixtures_values_sql()}"
    th = repr(SEMANTIC_THRESHOLD if threshold is None else threshold)
    dim = _SEM_DIM
    boundary = "'([.!?])[ ' || chr(9) || chr(10) || ']+'"
    eml = ", ".join(
        f"coalesce(sum(('0x' || substr(h, {4 * i + 1}, 4))::BIGINT), 0)"
        f" AS v{i}"
        for i in range(dim)
    )
    ecols = ", ".join(
        f"CASE WHEN nt = 0 THEN 0.0 ELSE (v{i}/32768.0 - nt)/nt END AS e{i}"
        for i in range(dim)
    )

    def cos(pfx: str) -> str:
        dot = " + ".join(f"(w.s{i}/w.cnt)*({pfx}e{i})" for i in range(dim))
        na = " + ".join(
            f"(w.s{i}/w.cnt)*(w.s{i}/w.cnt)" for i in range(dim)
        )
        nb = " + ".join(f"({pfx}e{i})*({pfx}e{i})" for i in range(dim))
        return (
            f"CASE WHEN sqrt({na}) > 0 AND sqrt({nb}) > 0 "
            f"THEN ({dot}) / (sqrt({na}) * sqrt({nb})) ELSE 0.0 END"
        )

    joins_cond = f"{cos('e.')} >= {th}"
    look_joins = ""
    for lk in range(1, skip_window + 1):
        look_joins += (
            f"\n    LEFT JOIN semb l{lk} ON l{lk}.doc_id = w.doc_id "
            f"AND l{lk}.idx = w.idx + {1 + lk}"
        )
        joins_cond += f" OR coalesce({cos(f'l{lk}.')} >= {th}, FALSE)"
    scols_base = ", ".join(f"e{i} AS s{i}" for i in range(dim))
    e_pass = ", ".join(f"e.e{i} AS e{i}" for i in range(dim))
    s_pass = ", ".join(f"w.s{i} AS s{i}" for i in range(dim))
    scols_rec = ", ".join(
        f"CASE WHEN _j THEN s{i} + e{i} ELSE e{i} END AS s{i}"
        for i in range(dim)
    )
    return f"""
WITH RECURSIVE src AS ({src_sql}),
parts AS (
  SELECT doc_id,
         string_split(
           regexp_replace(text, {boundary}, '\\1' || chr(30), 'g'),
           chr(30)) AS ps
  FROM src
),
sraw AS (
  SELECT doc_id,
         unnest([{{'i': i, 's': trim(ps[i], ' ' || chr(9) || chr(10))}}
                 for i in range(1, len(ps) + 1)]) AS u
  FROM parts
),
sent AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY u.i) AS idx,
         u.s AS sentence
  FROM sraw WHERE length(u.s) > 0
),
stoks AS (
  SELECT doc_id, idx, t FROM (
    SELECT doc_id, idx,
           unnest(regexp_split_to_array(
             regexp_replace(lower(sentence), '{PUNCT_RE}', ' ', 'g'),
             '{SPLIT_RE}')) AS t
    FROM sent)
  WHERE length(t) >= {MIN_TOKEN_LEN} AND t NOT IN ({_STOPLIST})
),
sagg AS (
  SELECT doc_id, idx, count(*) AS nt, {eml}
  FROM (SELECT doc_id, idx, md5('0|' || t) AS h FROM stoks)
  GROUP BY doc_id, idx
),
semb AS (
  SELECT s.doc_id, s.idx, coalesce(a.nt, 0) AS nt, {ecols}
  FROM sent s LEFT JOIN sagg a USING (doc_id, idx)
),
walk AS (
  SELECT doc_id, idx, 0 AS chunk_idx, 1 AS cnt, {scols_base}
  FROM semb WHERE idx = 1
  UNION ALL
  SELECT doc_id, idx,
         CASE WHEN _j THEN chunk_idx ELSE chunk_idx + 1 END AS chunk_idx,
         CASE WHEN _j THEN cnt + 1 ELSE 1 END AS cnt,
         {scols_rec}
  FROM (
    SELECT w.doc_id, e.idx, w.chunk_idx, w.cnt, {s_pass}, {e_pass},
           ({joins_cond}) AS _j
    FROM walk w
    JOIN semb e ON e.doc_id = w.doc_id AND e.idx = w.idx + 1{look_joins}
  )
)
SELECT w.doc_id, w.chunk_idx::BIGINT AS chunk_index,
       string_agg(s.sentence, ' ' ORDER BY w.idx) AS chunk_text,
       count(*)::BIGINT AS n_sentences
FROM walk w JOIN sent s USING (doc_id, idx)
GROUP BY 1, 2
"""


def route_and_chunk_sql() -> str:
    """Twin of the ``route_and_chunk`` entry: each tier's chunker twin
    over its ``doc_id % 4`` slice of ``documents WHERE doc_id < 8``
    (the entry's deterministic tier fixture), unioned with the
    strategy tag — sdpm/semantic are the recursive walk (with/without
    lookahead), sentence/token WRAP the long-proven standalone
    builders."""
    from rag_database_spark.operators.chunking import SDPM_SKIP_WINDOW

    def src(mod: int) -> str:
        return (
            "SELECT doc_id, text FROM documents "
            f"WHERE doc_id < 8 AND doc_id % 4 = {mod}"
        )

    return f"""
SELECT doc_id, chunk_index, chunk_text, n_sentences,
       'sdpm' AS strategy
FROM ({semantic_chunks_sql(src(0), skip_window=SDPM_SKIP_WINDOW)})
UNION ALL
SELECT doc_id, chunk_index, chunk_text, n_sentences,
       'semantic' AS strategy
FROM ({semantic_chunks_sql(src(1))})
UNION ALL
SELECT doc_id, sentence_index::BIGINT AS chunk_index,
       sentence AS chunk_text, 1::BIGINT AS n_sentences,
       'sentence' AS strategy
FROM ({sentence_chunks_sql(src(2))})
UNION ALL
SELECT doc_id, chunk_index, chunk_text, NULL::BIGINT AS n_sentences,
       'token' AS strategy
FROM ({chunk_documents_sql()})
WHERE doc_id < 8 AND doc_id % 4 = 3 AND level = 'paragraph'
"""


def _mmr_parts(
    fetch: int,
    k: int | None = None,
    lam: float | None = None,
) -> tuple[str, str]:
    """Shared round CTEs of the MMR twin — returns (joined CTE parts,
    final rank-union SELECT) so compositions can embed the greedy
    rounds under their own WITH. Semantics:
    candidates = the shared dense top-``fetch`` (rel at 6dp, vector
    carried), then k greedy rounds — each round's pick is a per-query
    row_number over the UNROUNDED λ·rel − (1−λ)·max_sim with ties →
    lowest id (λ and its exact IEEE complement embedded as reprs, so
    both engines multiply by identical doubles), and the remaining
    rows fold the 6dp cosine to the pick into ``max_sim`` via a 2-ary
    greatest. Round CTEs are MATERIALIZED (each feeds two downstream
    references — the BPE inlining lesson). An exhausted query simply
    stops contributing rows, matching the engine's empty windows."""
    from rag_database_spark.operators.diversify import MMR_K, MMR_LAMBDA

    if k is None:
        k = MMR_K
    if lam is None:
        lam = MMR_LAMBDA
    l_sql, o_sql = repr(lam), repr(1.0 - lam)
    parts = [
        f"""cand AS MATERIALIZED (
  SELECT d.query_id, d.id, round(d.score, 6) AS rel,
         e.embedding::DOUBLE[] AS v
  FROM dense_ranked d JOIN embeddings e ON e.vec_id = d.id
  WHERE d.rank <= {fetch}
)""",
        "r0 AS (SELECT query_id, id, rel, v, 0.0 AS max_sim FROM cand)",
    ]
    for t in range(1, k + 1):
        parts.append(f"""sel{t} AS MATERIALIZED (
  SELECT query_id, id, rel, v,
         round({l_sql}*rel - {o_sql}*max_sim, 6) AS mmr
  FROM (
    SELECT query_id, id, rel, v, max_sim,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY {l_sql}*rel - {o_sql}*max_sim DESC, id
           ) AS rn
    FROM r{t - 1}
  ) WHERE rn = 1
)""")
        if t < k:
            parts.append(f"""r{t} AS MATERIALIZED (
  SELECT r.query_id, r.id, r.rel, r.v,
         greatest(r.max_sim,
                  round(CASE WHEN list_dot_product(r.v, r.v) > 0
                              AND list_dot_product(s.v, s.v) > 0
                        THEN list_cosine_similarity(r.v, s.v)
                        ELSE 0.0 END, 6)) AS max_sim
  FROM r{t - 1} r JOIN sel{t} s ON s.query_id = r.query_id
  WHERE r.id <> s.id
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT query_id, id, rel, mmr, {t}::BIGINT AS rank FROM sel{t}"
        for t in range(1, k + 1)
    )
    return ",".join(parts), union


def mmr_rerank_sql(
    fetch: int,
    k: int | None = None,
    lam: float | None = None,
) -> str:
    """Unrolled twin of ``diversify.mmr_rerank`` over the dense leg —
    see ``_mmr_parts`` for the round structure (shared with the
    ``rag_context_pack`` composition)."""
    parts, union = _mmr_parts(fetch, k, lam)
    return f"""
WITH {_dense_ctes(fetch)},
{parts}
{union}
"""


def rag_context_pack_sql(
    fetch: int,
    k: int | None = None,
    budget: int | None = None,
) -> str:
    """Twin of the end-to-end RAG serving composition: dense
    over-fetch → MMR diversify (the shared ``_mmr_parts`` rounds) →
    greedy token-budget context assembly (``packing.pack_context``).
    The running total is an explicit ROWS-frame prefix sum over the
    MMR rank; ``kept`` keeps rank 1 unconditionally."""
    from rag_database_spark.functions.text import SPLIT_RE
    from rag_database_spark.operators.packing import CONTEXT_BUDGET

    budget = budget or CONTEXT_BUDGET
    parts, union = _mmr_parts(fetch, k)
    return f"""
WITH {_dense_ctes(fetch)},
{parts},
mm AS (
{union}
),
tok AS (
  SELECT doc_id AS id,
         len(list_filter(string_split_regex(trim(text), '{SPLIT_RE}'),
                         x -> length(x) > 0))::BIGINT AS n_tokens
  FROM documents
),
seq AS (
  SELECT m.query_id, m.id, m.rank, t.n_tokens,
         sum(t.n_tokens) OVER (
           PARTITION BY m.query_id ORDER BY m.rank, m.id
           ROWS UNBOUNDED PRECEDING
         )::BIGINT AS cum_tokens
  FROM mm m JOIN tok t USING (id)
)
SELECT query_id, id, rank, n_tokens, cum_tokens,
       (cum_tokens <= {budget} OR rank = 1) AS kept
FROM seq
"""


def ivfpq_topk_sql(
    limit: int,
    n_probe: int = 4,
    dim: int = 64,
    m: int | None = None,
    k: int | None = None,
    iters: int | None = None,
    scale: int | None = None,
) -> str:
    """Exact twin of ``pq.ivfpq_topk`` over a ``write_ivfpq_index``
    artifact — the composed billion-scale layout: the COARSE layer is
    the count-derived IVF Lloyd's chain (``_kmeans_ctes`` with the
    ``ivf_k_for`` kk twin), the FINE layer is the M per-subspace PQ
    chains, the probe picks each query's n_probe nearest coarse
    centroids under the exact quantized fold (ties → lowest cid), and
    candidates = the probed coarse lists (``af``) ADC-scored through
    the subspace assignments. Composition of the two proven oracles;
    every join is on exact values, rank = (adc ASC, id)."""
    from rag_database_spark.operators.similarity import (
        IVF_MIN_CENTROIDS, IVF_TARGET_LIST,
    )

    m, k, iters, scale = _pq_defaults(m, k, iters, scale)
    coarse_k_sql = (
        f"greatest({IVF_MIN_CENTROIDS}, least("
        f"(count(*) + {IVF_TARGET_LIST - 1}) // {IVF_TARGET_LIST}, "
        f"CAST(ceil(sqrt(count(*)::DOUBLE)) AS BIGINT)))"
    )
    qdist = " + ".join(
        f"(qv.qx[{i}]-c.c[{i}])*(qv.qx[{i}]-c.c[{i}])"
        for i in range(1, dim + 1)
    )
    pq_parts = _pq_chain_parts(dim, m, k, iters, scale)
    joins, adc_sql = _pq_adc_sql(dim, m, iters, anchor="cd.vec_id",
                                 skip_first_assign=False)
    return f"""
WITH {_kmeans_ctes(iters, dim, scale, k_sql=coarse_k_sql)},
{",".join(pq_parts)},
qv AS (
  SELECT q.query_id,
         list_transform(e.embedding::DOUBLE[], v -> round(v*{scale})) AS qx
  FROM {queries_values_sql()}
  JOIN embeddings e ON e.vec_id = q.query_vec_id
),
probe AS (
  SELECT query_id, cid FROM (
    SELECT qv.query_id, c.cid,
           row_number() OVER (
             PARTITION BY qv.query_id ORDER BY {qdist}, c.cid
           ) AS pr
    FROM qv CROSS JOIN c{iters} c
  ) WHERE pr <= {n_probe}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probe p JOIN af a ON a.cid = p.cid
),
scored AS (
  SELECT q.query_id, cd.vec_id AS id, {adc_sql} AS adc
  FROM cand cd
  {joins}
  JOIN qv q ON q.query_id = cd.query_id
)
SELECT query_id, id, round(adc, 6) AS adc_dist,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY adc, id)::BIGINT AS rank
FROM scored
QUALIFY rank <= {limit}
"""


def perceptron_select_sql(rounds: int) -> str:
    """Unrolled twin of ``classifier.perceptron_train`` +
    ``perceptron_score``: the batch-perceptron update is pure int64
    arithmetic (exact, aggregation-order-free sums — the same
    determinism spine as the k-means CTEs), so every round unrolls as
    one aggregate over the shared feature CTE cross-joined with the
    previous 1-row weight CTE, and the final select scores each doc
    under the settled weights."""
    from rag_database_spark.operators.classifier import (
        FEATURES, feature_sql,
    )

    nf = len(FEATURES)

    def dotp(w: str) -> str:
        return " + ".join(f"{w}.w[{i + 1}]*f.f{i + 1}" for i in range(nf))

    parts = [
        f"feat AS MATERIALIZED ({feature_sql()})",
        "w0 AS (SELECT [" + ", ".join(["0::BIGINT"] * nf) + "] AS w)",
    ]
    for t in range(1, rounds + 1):
        sums = ",\n         ".join(
            f"sum(CASE WHEN f.y * ({dotp('p')}) <= 0"
            f" THEN f.y * f.f{i + 1} ELSE 0 END) AS d{i + 1}"
            for i in range(nf)
        )
        parts.append(
            f"g{t} AS (\n  SELECT {sums}\n  FROM feat f, w{t - 1} p\n)"
        )
        wlist = ", ".join(
            f"(p.w[{i + 1}] + coalesce(g.d{i + 1}, 0))::BIGINT"
            for i in range(nf)
        )
        parts.append(
            f"w{t} AS (SELECT [{wlist}] AS w FROM g{t} g, w{t - 1} p)"
        )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT f.id AS doc_id, f.y AS y_weak,
       ({dotp('p')})::BIGINT AS score,
       (({dotp('p')}) > 0) AS selected
FROM feat f, w{rounds} p
"""


def _dsir_ctes(in_lang: str, n_buckets: int, alpha: float) -> str:
    """Shared DSIR front end (toks → hashed buckets → 9dp importance
    weights) for the select and resample twins."""
    from rag_database_spark.functions.text import SPLIT_RE

    a = repr(float(alpha))
    ab = repr(float(alpha) * n_buckets)
    return f"""toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '{SPLIT_RE}'),
                     x -> length(x) > 0) AS t
  FROM documents
),
tok_rows AS (
  SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok
  FROM toks
),
big AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM tok_rows a JOIN tok_rows b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
perb AS (
  SELECT doc_id,
         ('0x' || substr(md5(w1 || ' ' || w2), 1, 15))::BIGINT
           % {n_buckets} AS bucket,
         count(*)::DOUBLE AS m
  FROM big GROUP BY 1, 2
),
raw_b AS (SELECT bucket, sum(m) AS r FROM perb GROUP BY 1),
tgt_b AS (
  SELECT bucket, sum(m) AS t
  FROM perb JOIN documents USING (doc_id)
  WHERE lang = '{in_lang}' GROUP BY 1
),
tot AS (SELECT (SELECT sum(r) FROM raw_b) AS tot_r,
               (SELECT coalesce(sum(t), 0) FROM tgt_b) AS tot_t),
w AS (
  SELECT bucket,
         round(ln((coalesce(t, 0) + {a}) / (tot_t + {ab}))
               - ln((r + {a}) / (tot_r + {ab})), 9) AS w
  FROM raw_b LEFT JOIN tgt_b USING (bucket), tot
)"""


def dsir_select_sql(in_lang: str, n_buckets: int, alpha: float,
                    top_n: int) -> str:
    """Twin of ``text_analytics.train_dsir`` + ``dsir_score`` + top-N:
    same tokenization as ``lm_score_sql``, same md5 feature hashing as
    ``minhash_signatures_sql``, integer bucket counts → bit-identical
    9dp weights, weighted-mean score rounded to 6dp, rank on the
    rounded score with doc_id tie-break."""
    return f"""
WITH {_dsir_ctes(in_lang, n_buckets, alpha)},
scored AS (
  SELECT doc_id, sum(m)::BIGINT AS n_bigrams,
         round(sum(m * w.w) / sum(m), 6) AS avg_llr
  FROM perb JOIN w USING (bucket) GROUP BY 1
)
SELECT row_number() OVER (ORDER BY s.avg_llr DESC, s.doc_id) AS rank,
       s.doc_id, d.lang, s.n_bigrams, s.avg_llr
FROM scored s JOIN documents d USING (doc_id)
ORDER BY rank LIMIT {top_n}
"""


def dsir_resample_sql(in_lang: str, n_buckets: int, alpha: float,
                      top_n: int, seed: int) -> str:
    """Twin of ``text_analytics.dsir_resample_keys`` + top-N: Gumbel
    top-k importance resampling — key = rounded TOTAL Σm·w plus
    −ln(−ln(((md5_60(seed:doc_id) >> 8) + 0.5) / 2^52)), one IEEE
    chain both engines replay bit-identically (top 52 bits: u is
    exactly representable and never rounds to 0 or 1)."""
    from rag_database_spark.operators.text_analytics import (
        DSIR_GUMBEL_DENOM, DSIR_GUMBEL_SHIFT,
    )

    denom = repr(DSIR_GUMBEL_DENOM)
    shift = DSIR_GUMBEL_SHIFT
    return f"""
WITH {_dsir_ctes(in_lang, n_buckets, alpha)},
scored AS (
  SELECT doc_id, sum(m)::BIGINT AS n_bigrams,
         round(sum(m * w.w), 6) AS llr_total
  FROM perb JOIN w USING (bucket) GROUP BY 1
),
keyed AS (
  SELECT d.doc_id, d.lang,
         coalesce(s.n_bigrams, 0)::BIGINT AS n_bigrams,
         coalesce(s.llr_total, 0.0) AS llr_total,
         round(coalesce(s.llr_total, 0.0)
               - ln(-ln(((('0x' || substr(md5('{seed}:'
                            || d.doc_id::VARCHAR), 1, 15))::BIGINT
                          >> {shift}) + 0.5) / {denom})), 6)
           AS gumbel_key
  FROM documents d LEFT JOIN scored s USING (doc_id)
)
SELECT row_number() OVER (ORDER BY gumbel_key DESC, doc_id) AS rank,
       doc_id, lang, n_bigrams, llr_total, gumbel_key
FROM keyed
ORDER BY rank LIMIT {top_n}
"""


def vector_ingest_gate_sql(mod: int) -> str:
    """Twin of ``similarity.best_cosine_match`` on the fixture split:
    vecs with vec_id % mod == 0 are the incoming batch, the rest the
    accepted corpus; per incoming vec, the best-cosine corpus match
    under (cosine DESC, vec_id ASC)."""
    return f"""
WITH best AS (
  SELECT id, match_id, best_cosine FROM (
    SELECT a.vec_id AS id, c.vec_id AS match_id,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]), 6)
             AS best_cosine,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                             c.embedding::DOUBLE[]) DESC,
                      c.vec_id
           ) AS rn
    FROM embeddings a JOIN embeddings c ON c.vec_id % {mod} <> 0
    WHERE a.vec_id % {mod} = 0
  ) WHERE rn = 1
)
SELECT e.vec_id, b.match_id, b.best_cosine
FROM embeddings e LEFT JOIN best b ON b.id = e.vec_id
WHERE e.vec_id % {mod} = 0
"""


def knn_graph_sql(k: int) -> str:
    """Twin of ``similarity.knn_graph``: per vector, its k best cosine
    neighbors (self excluded) under (cosine DESC, dst ASC). The cosine
    is quantized to PREFETCH_ROUND_DP decimals BEFORE the rank window
    (mirroring the engine's round_dp prefetch discipline) so the edge
    set at the rank-k boundary is identical across engines; the
    reported cos_sim then rounds the same 12dp value to 6dp, matching
    the Spark side's double rounding exactly."""
    from rag_database_spark.operators.similarity import PREFETCH_ROUND_DP

    return f"""
SELECT src, dst, round(q, 6) AS cos_sim, rank FROM (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         round(list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]),
               {PREFETCH_ROUND_DP}) AS q,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                 b.embedding::DOUBLE[]),
                          {PREFETCH_ROUND_DP}) DESC,
                    b.vec_id
         ) AS rank
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
) WHERE rank <= {k}
"""


def knn_graph_lsh_sql(
    k: int,
    dim: int = 64,
    n_tables: int = 4,
    seed: int = 42,
) -> str:
    """Exact twin of ``similarity.knn_graph_lsh`` with the ADAPTIVE
    plane count: the SQL emits the one canonical
    (n_tables × LSH_MAX_PLANES) plane table (the same seeded draw
    ``rp_blocks(max_planes=LSH_MAX_PLANES)`` prefixes) and derives the
    active plane count from count(embeddings) with the same formula as
    ``adaptive_n_planes`` — so the oracle tracks the engine at ANY sf
    without a per-sf literal. Identical sign buckets → identical
    candidate self-join → 12dp-quantized cosine per-source top-k
    (ties → lowest dst), mirroring the engine's PREFETCH_ROUND_DP
    rank discipline."""
    import numpy as np

    from rag_database_spark.operators.dedup import (
        LSH_MAX_PLANES, LSH_TARGET_OCCUPANCY,
    )
    from rag_database_spark.operators.similarity import PREFETCH_ROUND_DP

    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables, LSH_MAX_PLANES, dim))
    rows = ",\n    ".join(
        f"({t}, {p}, [{', '.join(repr(float(x)) for x in planes[t][p])}]::DOUBLE[])"
        for t in range(n_tables)
        for p in range(LSH_MAX_PLANES)
    )
    tgt = LSH_TARGET_OCCUPANCY
    return f"""
WITH planes(table_idx, plane_idx, pvec) AS (
  VALUES
    {rows}
),
np AS (
  -- adaptive_n_planes(count): floor 8, else ceil(log2(n / target)),
  -- clamped at LSH_MAX_PLANES like the engine
  SELECT least({LSH_MAX_PLANES},
               CASE WHEN count(*) <= {tgt} THEN 8
                    ELSE greatest(8, CAST(ceil(log2(count(*)::DOUBLE / {tgt}))
                                        AS INT)) END) AS n_planes
  FROM embeddings
),
sig AS MATERIALIZED (
  SELECT e.vec_id AS id, p.table_idx,
         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pvec) > 0
                  THEN 1::BIGINT << p.plane_idx ELSE 0 END) AS bucket
  FROM embeddings e CROSS JOIN planes p CROSS JOIN np
  WHERE p.plane_idx < np.n_planes
  GROUP BY e.vec_id, p.table_idx
),
cands AS (
  SELECT DISTINCT a.id AS src, b.id AS dst
  FROM sig a JOIN sig b USING (table_idx, bucket)
  WHERE a.id <> b.id
),
scored AS (
  SELECT c.src, c.dst,
         round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                      eb.embedding::DOUBLE[]),
               {PREFETCH_ROUND_DP}) AS score
  FROM cands c
  JOIN embeddings ea ON ea.vec_id = c.src
  JOIN embeddings eb ON eb.vec_id = c.dst
)
SELECT src, dst, round(score, 6) AS cos_sim, rank FROM (
  SELECT src, dst, score,
         row_number() OVER (
           PARTITION BY src ORDER BY score DESC, dst
         ) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def semantic_components_sql(threshold: float) -> str:
    """Twin of the semantic_components entry: recursive transitive
    closure over the embedding near-dup pair graph (same unrounded
    cosine threshold as embedding_near_dup_sql), component label =
    component-min vec_id, plus the component size."""
    return f"""
WITH RECURSIVE e0 AS MATERIALIZED (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                               b.embedding::DOUBLE[]) >= {threshold}
),
und AS MATERIALIZED (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
),
cl AS MATERIALIZED (
  SELECT e.vec_id,
         least(e.vec_id, coalesce(min(r.b), e.vec_id)) AS cluster_id
  FROM embeddings e LEFT JOIN reach r ON r.a = e.vec_id
  GROUP BY e.vec_id
),
cs AS (
  SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1
)
SELECT c.vec_id, c.cluster_id, cs.cluster_size
FROM cl c JOIN cs USING (cluster_id)
"""


def retention_sweep_sql(as_of: str, epoch: str, span_days: int,
                        stride: int, hold_mod: int) -> str:
    """Twin of the retention_sweep entry: same derived fixture policy,
    same hold > sweep > retain precedence."""
    off = f"((doc_id * {stride}) % {span_days})"
    due = f"(DATE '{epoch}' + INTERVAL ({off}) DAY)::DATE"
    return f"""
SELECT doc_id, source,
       {due} AS retention_until,
       (doc_id % {hold_mod} = 0) AS legal_hold,
       CASE
         WHEN doc_id % {hold_mod} = 0 THEN 'hold'
         WHEN {due} <= DATE '{as_of}' THEN 'sweep'
         ELSE 'retain'
       END AS action
FROM documents
"""
