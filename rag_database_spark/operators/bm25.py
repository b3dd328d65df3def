"""BM25 as DataFrame algebra (reference operator A3, src/storage/bm25_store.py).

The reference keeps parallel in-memory lists and rebuilds a ``BM25Okapi``
object on every add (bm25_store.py:134-188 — "good for < 1M documents").
The Spark formulation replaces that with three derived tables that scale
horizontally and update incrementally:

    postings(doc_id, term, tf)        — explode + groupBy (map-side combine)
    doclens(doc_id, dl)               — array size per doc, no shuffle
    termstats(term, df, idf)          — groupBy term

Scoring a *batch* of queries resolves the query side on the driver
(terms and per-query qtf), filters postings to the batch terms at the
scan, and joins doclens → per-(query, doc) sum. The only large shuffle is
the final groupBy(query_id, doc_id), proportional to candidate matches,
not the corpus.

IDF variant: Lucene/Elasticsearch BM25 — ``ln(1 + (N - df + .5)/(df + .5))``
— i.e. the formula the reference's Elasticsearch backend uses
(bm25_store.py:337-476). The pickle backend delegates to ``rank_bm25``'s
Okapi with an epsilon floor for negative IDFs; the Lucene form is strictly
positive so needs no floor, and we adopt it as the engine-defined scoring.
k1 = 1.5, b = 0.75 from the reference config (src/config.py:32-33).
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from rag_database_spark.functions.literal import isin, json_literal
from rag_database_spark.functions.text import tokenize

K1 = 1.5
B = 0.75


def build_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """postings(doc_id, term, tf). groupBy gives map-side partial
    aggregation; the shuffle key (doc_id, term) is high-cardinality and
    uniform, so no skew handling is needed."""
    tokens = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(F.col(text_col))).alias("term"),
    )
    return tokens.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))


def build_doclens(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """doclens(doc_id, dl) — computed as array size, shuffle-free. Includes
    zero-length docs (they still count toward N and avgdl)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokenize(F.col(text_col))).alias("dl"),
    )


def build_termstats(postings: DataFrame, n_docs_df: DataFrame) -> DataFrame:
    """termstats(term, df, idf). ``n_docs_df`` is a 1-row (n_docs) frame so
    the whole computation stays one lazy plan (no driver-side collect)."""
    df_counts = postings.groupBy("term").agg(F.count("*").alias("df"))
    return df_counts.crossJoin(F.broadcast(n_docs_df)).select(
        "term",
        "df",
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )


def corpus_stats(doclens: DataFrame) -> DataFrame:
    """1-row (n_docs, avgdl) frame, broadcast into the scoring join."""
    return doclens.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )


def qtf_by_term(rows) -> dict[str, dict]:
    """term → {query_id: qtf} from (query_id, terms) pairs. Query terms
    keep multiplicity (rank_bm25 iterates duplicate query tokens,
    bm25_store.py:217), and rows sharing a query_id add up, as a
    groupBy(query_id, term) count would."""
    qtf: dict[str, dict] = {}
    for qid, terms in rows:
        for t in terms or ():
            per_q = qtf.setdefault(t, {})
            per_q[qid] = per_q.get(qid, 0) + 1
    return qtf


def score_queries(
    queries: DataFrame,
    postings: DataFrame,
    doclens: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """BM25 score for every (query, matching doc) pair.

    Returns (query_id, doc_id, score). The query side is resolved on the
    driver at build time: one collect of the tokenized queries (the same
    ``tokenize`` expression the postings were built with), folded by
    ``qtf_by_term`` and scored by ``score_terms``."""
    rows = queries.select(
        query_id_col, tokenize(F.col(query_text_col)).alias("terms")
    ).collect()
    return score_terms(
        qtf_by_term(rows),
        postings,
        doclens,
        queries.schema[query_id_col].dataType,
        k1,
        b,
    )


def score_terms(
    qtf: dict[str, dict],
    postings: DataFrame,
    doclens: DataFrame,
    query_id_type: DataType = LongType(),
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """BM25 scores from a driver-resolved query side ``qtf``
    (term → {query_id: qtf}, see ``qtf_by_term``).

    Plan: one postings scan filtered by ``term IN (batch terms)`` — the
    filter reaches the Parquet scan, so the corpus-wide vocabulary is
    never aggregated. The per-term document frequency is a
    ``count over (partition by term)`` window on the matched stream
    (the only term-keyed exchange, query-term-bounded), idf is computed
    inline per row from it, and ``inline(map[term])`` expands each
    posting into its (query_id, qtf) rows from a literal map built on
    the driver — no query frame is scanned, shuffled or broadcast. The
    IN list and the map are each parsed on the JVM from one string
    (``functions.literal``), so building the plan takes a constant
    number of JVM calls at any batch size; a map lookup scans the
    batch's distinct terms. The
    1-row corpus stats frame broadcasts once carrying n_docs and avgdl;
    the only other shuffle is the final (query_id, doc_id) rollup. idf
    is the exact per-term expression ``build_termstats`` computes. The
    plan has no RDD leaves, so the entry-level prepared-plan cache may
    memoize it; every action still recomputes from the Parquet inputs."""
    if not qtf:
        spark = postings.sparkSession
        return spark.createDataFrame(
            [],
            StructType([
                StructField("query_id", query_id_type),
                StructField("doc_id", postings.schema["doc_id"].dataType),
                StructField("score", DoubleType()),
            ]),
        )
    terms = sorted(qtf)
    by_term = json_literal(
        {t: [{"query_id": q, "qtf": n} for q, n in qtf[t].items()] for t in terms},
        f"map<string, array<struct<query_id: {query_id_type.simpleString()}, "
        "qtf: bigint>>>",
    )
    stats = corpus_stats(doclens)
    wterm = Window.partitionBy("term")
    matched = (
        postings.filter(isin("term", terms))
        .withColumn("df", F.count(F.lit(1)).over(wterm))
        .select("doc_id", "tf", "df", F.inline(by_term[F.col("term")]))
        .join(doclens, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = (
        F.col("qtf")
        * idf
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return matched.groupBy("query_id", "doc_id").agg(
        F.sum(term_score).alias("score")
    )


def tfidf_keywords(
    postings: DataFrame, doclens: DataFrame, k: int = 3
) -> DataFrame:
    """Per-document keyword extraction: top-``k`` terms by tf-idf
    (smoothed idf ln((N+1)/(df+1)) + 1, ties → term ascending) over
    the PERSISTED postings artifact — no re-tokenization; the doc-level
    twin of the reference's query-side keyword surface (F1 tokenizer,
    bm25_store.py:38-100; search-term extraction, hybrid_search.py).

    Scale: df is one groupBy(term) with map-side partials (exchange-
    free over the bucketed index layout); the 1-row corpus count
    broadcasts; the rank window partitions by doc_id and is bounded by
    per-document vocabulary, never corpus size."""
    n_docs = doclens.agg(F.count("*").alias("n_docs"))
    dfreq = postings.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        postings.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)
                    )
                    + 1.0
                )
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "term",
            F.round("tfidf", 6).alias("tfidf"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def write_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """S7 (bm25_store.py:290-324 pickle persist → parquet tables): write
    the derived postings + doclens tables once; the query path then
    reads them instead of re-tokenizing the corpus per query batch
    (the reference rebuilds BM25Okapi on every add, :176-188 — the
    incremental-table form is the scale fix).

    See ``write_index_bucketed`` for the cluster-scale layout (postings
    bucketed by term → shuffle-free term joins); plain parquet keeps
    the local harness simple."""
    build_postings(docs, id_col, text_col).write.mode("overwrite").parquet(
        f"{path}/postings"
    )
    build_doclens(docs, id_col, text_col).write.mode("overwrite").parquet(
        f"{path}/doclens"
    )


def append_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incremental S7 maintenance: tokenizing ONLY the new documents
    and appending their postings/doclens rows yields the identical
    index to a full rebuild, because both derived tables are purely
    per-document (no cross-document state is stored — corpus stats
    N/avgdl/df are recomputed from the tables at query time). The
    reference instead rebuilds BM25Okapi over the whole corpus on
    every add (bm25_store.py:176-188); at 100 TB that's the difference
    between cost ∝ delta and cost ∝ corpus."""
    build_postings(new_docs, id_col, text_col).write.mode("append").parquet(
        f"{path}/postings"
    )
    build_doclens(new_docs, id_col, text_col).write.mode("append").parquet(
        f"{path}/doclens"
    )


def write_index_bucketed(
    docs: DataFrame,
    table_prefix: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Cluster-scale S7 layout: postings bucketed (and sorted) by term
    via ``bucketBy`` into the session catalog. Any join/aggregation
    keyed on ``term`` — the query-term semi-join, df stats — then reads
    co-located buckets with NO exchange on the postings side; at 100 TB
    that removes the biggest shuffle in the scoring plan. Doclens is
    bucketed by doc_id for the same reason on the rollup join."""
    spark = docs.sparkSession
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    for suffix in ("postings", "doclens"):
        name = f"{table_prefix}_{suffix}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        # a session-local catalog forgets tables across restarts while
        # the warehouse dir persists — clear the orphaned location
        if warehouse.startswith("file:"):
            warehouse_path = warehouse[len("file:"):]
        else:
            warehouse_path = warehouse
        orphan = Path(warehouse_path) / name.lower()
        if warehouse_path and orphan.exists():
            shutil.rmtree(orphan, ignore_errors=True)
    (
        build_postings(docs, id_col, text_col)
        .write.mode("overwrite")
        .bucketBy(n_buckets, "term")
        .sortBy("term")
        .saveAsTable(f"{table_prefix}_postings")
    )
    (
        build_doclens(docs, id_col, text_col)
        .write.mode("overwrite")
        .bucketBy(n_buckets, "doc_id")
        .saveAsTable(f"{table_prefix}_doclens")
    )


def read_index_bucketed(spark, table_prefix: str) -> tuple[DataFrame, DataFrame]:
    return (
        spark.table(f"{table_prefix}_postings"),
        spark.table(f"{table_prefix}_doclens"),
    )


def remove_from_index(
    spark,
    path: str,
    doc_ids,
    id_col: str = "doc_id",
) -> None:
    """Incremental S7 DELETE — the maintenance half ``append_index``
    lacked: appending the ids to a tombstone table under the index
    root makes ``read_index`` anti-join them out of BOTH derived
    tables, and because corpus stats (N, avgdl, df) are recomputed
    from the tables at query time, post-delete scores are IDENTICAL
    to a full rebuild over the surviving corpus (unit-pinned). The
    reference instead rebuilds BM25Okapi over the remaining documents
    on every delete (bm25_store.py:257-280) — cost ∝ corpus; the
    tombstone append is cost ∝ delta, the same asymmetry the add path
    fixed.

    Idempotent under replay: duplicate tombstone rows change nothing
    (anti-join semantics). Physical reclamation is a compaction
    concern — ``write_index`` over the filtered corpus rewrites the
    artifact and drops the tombstone dir with it; until then deletes
    are logical, the merge-on-read contract ``sources/acid.py``
    uses. (Shared primitive: ``sources.tables.append_tombstones`` —
    the IVF and IVF-PQ artifacts delete the same way.)"""
    from rag_database_spark.sources.tables import append_tombstones

    append_tombstones(spark, path, doc_ids, id_col)


def heal_index(spark, path: str) -> None:
    """Heal an index root left half-swapped by a crash inside
    ``compact_index`` (the ``dedup.heal_slices`` recovery contract):
    root present → clear residue staging/old; root missing + complete
    staging → roll FORWARD; root missing + only old → roll BACK. All
    through the root's Hadoop FileSystem.

    Completeness is judged by the compactor's explicit
    ``dedup.STAGING_SENTINEL`` file (written after BOTH staging
    writes return), falling back to the committer's per-subdir
    ``_SUCCESS`` markers for pre-sentinel staging residue — so a
    deployment that sets
    ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false`` still
    rolls completed compactions FORWARD instead of silently redoing
    them (r13 ADVICE #5)."""
    from rag_database_spark.operators.dedup import (
        STAGING_SENTINEL,
        _drop_staging_sentinel,
        _rename_or_raise,
    )

    jpath = spark._jvm.org.apache.hadoop.fs.Path
    path = path.rstrip("/")
    fs = jpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    root, staging, old = (
        jpath(path), jpath(path + "__staging"), jpath(path + "__old")
    )
    if fs.exists(root):
        for residue in (staging, old):
            if fs.exists(residue):
                fs.delete(residue, True)
        return
    complete = fs.exists(
        jpath(f"{path}__staging/{STAGING_SENTINEL}")
    ) or all(
        fs.exists(jpath(f"{path}__staging/{sub}/_SUCCESS"))
        for sub in ("postings", "doclens")
    )
    if fs.exists(staging) and complete:
        _rename_or_raise(fs, staging, root)
        if fs.exists(old):
            fs.delete(old, True)
        _drop_staging_sentinel(fs, jpath, path)
        return
    if fs.exists(old):
        _rename_or_raise(fs, old, root)
        if fs.exists(staging):
            fs.delete(staging, True)


def compact_index(spark, path: str) -> None:
    """Apply accumulated ``remove_from_index`` tombstones physically:
    rewrite the tombstone-filtered postings/doclens to a staging root
    and two-rename it in (crash between the renames heals forward or
    back on the next ``heal_index``/``compact_index`` call — the
    ``dedup.compact_slices`` swap contract). After the swap the
    tombstone dir is gone with the old root, so reads drop the
    anti-join until the next delete. Run when the tombstone set has
    grown enough that the merge-on-read filter is worth reclaiming —
    the same policy call as ACID-table compaction. Roll-forward after
    a crash is proven by the explicit ``dedup.STAGING_SENTINEL`` file
    written after both staging writes (see ``heal_index``) — it does
    not depend on the committer's ``marksuccessfuljobs`` setting."""
    from rag_database_spark.operators.dedup import (
        _drop_staging_sentinel,
        _rename_or_raise,
        _write_staging_sentinel,
    )

    heal_index(spark, path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    path = path.rstrip("/")
    fs = jpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath(path)):
        return
    postings, doclens = read_index(spark, path)
    staging = jpath(path + "__staging")
    if fs.exists(staging):
        fs.delete(staging, True)
    postings.write.mode("overwrite").parquet(f"{path}__staging/postings")
    doclens.write.mode("overwrite").parquet(f"{path}__staging/doclens")
    # completeness proof for heal_index, independent of the
    # committer's _SUCCESS markers — written only after both writes
    _write_staging_sentinel(fs, jpath, path + "__staging")
    old = jpath(path + "__old")
    if fs.exists(old):
        fs.delete(old, True)
    _rename_or_raise(fs, jpath(path), old)
    _rename_or_raise(fs, staging, jpath(path))
    fs.delete(old, True)
    _drop_staging_sentinel(fs, jpath, path)


def read_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens) from a ``write_index`` directory, with any
    ``remove_from_index`` tombstones anti-joined out of both tables
    (merge-on-read; the tombstone side is a distinct id list, tiny —
    AQE broadcasts it)."""
    from rag_database_spark.sources.tables import read_tombstones

    postings = spark.read.parquet(f"{path}/postings")
    doclens = spark.read.parquet(f"{path}/doclens")
    dead = read_tombstones(spark, path, "doc_id")
    if dead is not None:
        postings = postings.join(dead, "doc_id", "left_anti")
        doclens = doclens.join(dead, "doc_id", "left_anti")
    return postings, doclens


def topk(
    scored: DataFrame,
    k: int,
    partition_col: str = "query_id",
    score_col: str = "score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-query top-k: rank by (score DESC, id ASC) — the
    explicit tie-break SURVEY §7 requires (the reference relies on Python
    sort stability, hybrid_search.py:117-124)."""
    w = Window.partitionBy(partition_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
