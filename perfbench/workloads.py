"""The benchmark's workloads, driving the engine's public operators.

Each workload runs in one process on one Spark session, as a closed loop
with one client: the next op starts when the previous one has returned
its rows. Nothing goes through ``__spark_entry__``: its prepared-plan
memo and its ``.cache/`` artifacts never serve a timed result. Every op
gets fresh input (a never-seen query batch, or a fresh output directory).

- ``query_small``: batches of ``SMALL_BATCH`` queries through
  ``hybrid.hybrid_search3`` over the benchmark's own BM25 index and page
  multi-vectors. Fixed per-batch cost dominates (query-patch job, plan
  build, analysis, job and stage launch).
- ``ingest``: a fixed-size document set through quality report, chunking,
  BM25 index write, near-dup Jaccard pairs and star connected components,
  every output written as Parquet to a fresh directory.

An op's wall time runs from building its first frame to its rows being
collected (query) or its last Parquet write returning (ingest).
"""

from __future__ import annotations

import contextlib
import statistics
import sys
import time
import traceback
from pathlib import Path

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen
from spans import COUNTERS

from rag_database_spark import workload
from rag_database_spark.functions import quality
from rag_database_spark.functions.text import MIN_TOKEN_LEN, STOPWORDS
from rag_database_spark.operators import bm25, chunking, dedup, hybrid, similarity
from rag_database_spark.operators.fusion import DEFAULT_WEIGHTS, FETCH_MULTIPLIER, RRF_K
from rag_database_spark.sources.tables import load_table

N_DOCS = 5000
N_VECS = 2000
SMALL_BATCH = 8
INGEST_DOCS = 300
JACCARD_THRESHOLD = 0.8
LIMIT = workload.HYBRID_LIMIT
FETCH = FETCH_MULTIPLIER * LIMIT
SETUP_REPS = 3
# Untraced ops a run measures at least. The first op after the warm-up
# uses 10-40 % more CPU than the next (the JIT compiler is still busy),
# so every run measures the same number of ops. An ingest pass costs
# about two query batches, so it measures one, keeping a run near a minute.
QUERY_MIN_OPS = 2
INGEST_MIN_OPS = 1
QUERY_SCHEMA = "query_id long, query_text string, query_vec_id long"
QUERY_LEGS = ("bm25", "dense", "colpali")
# every span that wraps Spark work, in pipeline order
SPANS = (
    "workload.pages", "workload.query_patches", "bm25.write", "bm25.read",
    "bm25.leg", "dense.leg", "colpali.leg",
    "hybrid.build", "hybrid.plan", "hybrid.exec",
    "quality.exec", "chunking.exec", "dedup.jaccard", "dedup.cc",
)
COUNTS = {"bm25.write_bytes": "B", "chunking.chunks_out": "count", "dedup.pairs_out": "count"}


def du(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class Bench:
    """One workload run: set-up, the measured loop, checks and the
    numbers they produce."""

    def __init__(self, spark, tracer, proc, run_dir: Path, seed: int, seconds: float,
                 trace: bool):
        self.spark, self.tracer, self.proc, self.run_dir = spark, tracer, proc, run_dir
        self.rng = np.random.default_rng(seed)
        self.check_rng = np.random.default_rng([seed, 1])
        self.seconds, self.trace = seconds, trace
        self.tokenize = checks.make_tokenizer(STOPWORDS, MIN_TOKEN_LEN)
        self.setup_reps: list[float] = []
        self.warmup_s = 0.0
        self.op_s: list[float] = []  # untraced ops
        self.op_cpu_s: list[float] = []
        self.op_jit_s: list[float] = []
        self.peak_rss_mb = 0.0
        self.traced_op_s: list[float] = []
        self.attempted = self.failed = 0
        self.items = 0  # queries or docs completed in the measured ops
        self.write_amp = 0.0
        self.counts: dict[str, list[float]] = {}
        self.n_ops = 0

    # -- shared -----------------------------------------------------------
    def fresh_dir(self, name: str) -> Path:
        d = self.run_dir / name
        if d.exists() and any(d.iterdir()):
            raise RuntimeError(f"output directory {d} is not empty")
        d.mkdir(parents=True, exist_ok=True)
        return d

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(value)

    @contextlib.contextmanager
    def timed(self):
        """Wall time, CPU time and its JIT compiler part for the body, in
        a dict filled when it ends."""
        t = {}
        cpu0, jit0 = self.proc.cpu_s()
        t0 = time.perf_counter()
        yield t
        t["wall"] = time.perf_counter() - t0
        cpu1, jit1 = self.proc.cpu_s()
        t["cpu"], t["jit"] = cpu1 - cpu0, jit1 - jit0

    def measure(self, op, min_ops: int) -> None:
        """Run ``op(n, traced)`` until the measured ops add up to the
        run length and ``min_ops`` untraced ops have succeeded. A traced
        run alternates traced and untraced ops, so the tracing overhead
        is measured within one process."""
        spent = 0.0
        while spent < self.seconds or len(self.op_s) < min_ops:
            traced = self.trace and self.n_ops % 2 == 0
            self.tracer.enabled = traced
            n = self.n_ops
            self.n_ops += 1
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                errs, items, t = op(n, traced)
            except Exception:  # one failed op must not end the run
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
                if self.failed == 3 and len(self.op_s) < min_ops:
                    raise RuntimeError("three ops failed before the run could measure") from None
                spent += time.perf_counter() - t0
                continue
            spent += t["wall"]
            if traced:
                self.traced_op_s.append(t["wall"])
            else:
                self.op_s.append(t["wall"])
                self.op_cpu_s.append(t["cpu"])
                self.op_jit_s.append(t["jit"])
                self.items += items
            if errs:
                self.failed += 1
                print(f"op {n} failed its checks: {errs[:5]}", file=sys.stderr)
        self.tracer.enabled = self.trace

    def warmup(self, op) -> float:
        """One untraced, unmeasured op: the first run of each plan shape
        pays JIT and code generation, which users pay once per process.
        Returns its wall time."""
        self.tracer.enabled = False
        t0 = time.perf_counter()
        op()
        self.tracer.enabled = self.trace
        return time.perf_counter() - t0

    def setup(self, rep) -> None:
        """Set up ``SETUP_REPS`` times; ``setup_s`` takes the median rep."""
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            rep(i)
            self.setup_reps.append(time.perf_counter() - t0)

    def ready(self) -> None:
        """Set-up and warm-up are done. The peak RSS is read here, after
        a fixed amount of work: later it keeps creeping up with the
        run's op count."""
        self.peak_rss_mb = self.proc.peak_rss_mb()

    # -- query_small ------------------------------------------------------
    def query_small(self) -> None:
        docs = gen.documents(self.rng, N_DOCS)
        emb, unit = gen.embeddings(self.rng, N_VECS)
        texts = docs.column("text").to_pylist()
        text_bytes = sum(len(t.encode()) for t in texts)
        self.queries = gen.QueryGen(self.rng, texts, N_VECS, workload.QUERY_TOKENS)
        self.bm25_ref = checks.Bm25Ref(texts, self.tokenize, bm25.K1, bm25.B)
        self.unit = unit.astype(np.float64)
        self.unit /= np.linalg.norm(self.unit, axis=1, keepdims=True)
        self.checker = checks.QueryChecker(LIMIT, FETCH, DEFAULT_WEIGHTS, RRF_K)

        def rep(i):
            data = self.fresh_dir(f"setup{i}/data")
            gen.write_table(docs, data, "documents")
            gen.write_table(emb, data, "embeddings")
            self.docs = load_table(self.spark, str(data), "documents")
            self.emb = load_table(self.spark, str(data), "embeddings")
            index = self.fresh_dir(f"setup{i}/bm25")
            with self.tracer.span("bm25.write"):
                bm25.write_index(self.docs, str(index))
            index_bytes = du(index)
            self.count("bm25.write_bytes", index_bytes)
            self.write_amp = index_bytes / text_bytes
            with self.tracer.span("bm25.read"):
                self.postings, self.doclens = bm25.read_index(self.spark, str(index))
            with self.tracer.span("workload.pages"):
                self.pages = workload.multivector_pages(self.emb)
                self.chunk_pages = workload.chunk_page_map(self.emb)

        self.setup(rep)
        self.warmup_s = self.warmup(lambda: self.query_op(-1, False))
        self.ready()
        self.measure(self.query_op, QUERY_MIN_OPS)

    def query_patches(self, q):
        """The query multi-vectors, built as ``workload.query_patches_df``
        builds them for its fixed workload: the ``QUERY_TOKENS``
        embeddings from ``query_vec_id`` on, collected and folded."""
        e = self.emb
        joined = q.join(
            e,
            (e["vec_id"] >= q["query_vec_id"])
            & (e["vec_id"] < q["query_vec_id"] + workload.QUERY_TOKENS),
        ).select("query_id", "vec_id", "embedding")
        return workload._collect_patches(joined, "query_id").localCheckpoint()

    def query_op(self, n: int, traced: bool):
        rows = self.queries.batch(SMALL_BATCH)
        with self.timed() as t, self.tracer.span("op", op=n, spark=False):
            with self.tracer.span("workload.query_patches"):
                q = self.spark.createDataFrame(rows, QUERY_SCHEMA)
                qp = self.query_patches(q)
            with self.tracer.span("hybrid.build"):
                df = hybrid.hybrid_search3(
                    q, self.docs, self.emb, qp, self.pages, self.chunk_pages,
                    workload.DOC_PAGES, limit=LIMIT,
                    postings=self.postings, doclens=self.doclens,
                )
            with self.tracer.span("hybrid.plan"):
                df._jdf.queryExecution().executedPlan()
            with self.tracer.span("hybrid.exec"):
                out = df.collect()
        if n < 0:
            return [], 0, t
        by_q: dict[int, list] = {}
        for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
            by_q.setdefault(r["query_id"], []).append(r.asDict())
        qids = [r[0] for r in rows]
        errs = self.checker.structure(by_q, qids)
        # one sampled query: BM25 in pure Python, dense cosine in NumPy
        qid, text, vec_id = rows[int(self.check_rng.integers(len(rows)))]
        bounds = {
            "bm25": checks.rank_bounds(self.bm25_ref.scores(text), FETCH, False),
            "dense": checks.rank_bounds(checks.dense_scores(self.unit, vec_id), FETCH, False),
        }
        errs += self.checker.against_legs(qid, by_q.get(qid, []), bounds)
        if traced:
            errs += self.legs_alone(n, q, qp, qids, by_q)
        return errs, len(rows), t

    def legs_alone(self, n, q, qp, qids, by_q) -> list[str]:
        """Run each retrieval leg of ``hybrid_search3`` alone on the same
        batch (traced runs only), then check the fused output against
        the weighted RRF of the legs' own outputs."""
        legs = {}
        with self.tracer.span("legs", op=n, spark=False):
            with self.tracer.span("bm25.leg"):
                scored = bm25.score_queries(q, self.postings, self.doclens)
                legs["bm25"] = bm25.topk(scored, FETCH).select(
                    "query_id", "doc_id", "score").collect()
            with self.tracer.span("dense.leg"):
                qvecs = q.join(self.emb, q["query_vec_id"] == self.emb["vec_id"]).select(
                    "query_id", self.emb["embedding"].alias("qvec"))
                legs["dense"] = similarity.cosine_topk(
                    qvecs, self.emb, FETCH, id_col="vec_id", vec_col="embedding"
                ).select("query_id", "id", "score").collect()
            with self.tracer.span("colpali.leg"):
                # the leg returns ranks only; a score of -rank keeps its order exact
                legs["colpali"] = hybrid.colpali_leg(
                    qp, self.pages, self.chunk_pages, FETCH, workload.DOC_PAGES
                ).select("query_id", "id", (-F.col("rank")).cast("double").alias("score")).collect()
        scores = {leg: {qid: {} for qid in qids} for leg in QUERY_LEGS}
        for leg, rows in legs.items():
            for qid, i, s in rows:
                scores[leg][qid][i] = s
        errs = []
        for qid in qids:
            bounds = {leg: checks.rank_bounds(scores[leg][qid], FETCH, True) for leg in QUERY_LEGS}
            errs += self.checker.against_legs(qid, by_q.get(qid, []), bounds)
        return errs

    # -- ingest -----------------------------------------------------------
    def ingest(self) -> None:
        docs = gen.documents(self.rng, INGEST_DOCS)
        texts = docs.column("text").to_pylist()
        self.ingest_ids = docs.column("doc_id").to_pylist()
        self.text_bytes = sum(len(t.encode()) for t in texts)
        self.token_count = sum(len(self.tokenize(t)) for t in texts)

        def rep(i):
            data = self.fresh_dir(f"setup{i}/data")
            gen.write_table(docs, data, "documents")
            self.docs = load_table(self.spark, str(data), "documents")

        self.setup(rep)
        # the warm-up pass takes the measured documents, so every plan a
        # measured pass runs has run once at the same size
        self.warmup_s = self.warmup(
            lambda: self.ingest_pass(self.docs, self.fresh_dir("warmup"), -1))
        self.ready()
        self.measure(self.ingest_op, INGEST_MIN_OPS)

    def ingest_pass(self, d, out: Path, n: int) -> None:
        with self.tracer.span("op", op=n, spark=False):
            with self.tracer.span("quality.exec"):
                quality.quality_report(d).write.parquet(str(out / "quality"))
            with self.tracer.span("chunking.exec"):
                chunking.chunk_pipeline(d).write.parquet(str(out / "chunks"))
            with self.tracer.span("bm25.write"):
                bm25.write_index(d, str(out / "bm25"))
            with self.tracer.span("dedup.jaccard"):
                dedup.write_pair_index(
                    dedup.shingle_jaccard_pairs(d, JACCARD_THRESHOLD), str(out / "pairs"))
            with self.tracer.span("dedup.cc"):
                dedup.dedup_clusters_star(
                    dedup.read_pair_index(self.spark, str(out / "pairs")), d
                ).write.parquet(str(out / "clusters"))

    def ingest_op(self, n: int, traced: bool):
        out = self.fresh_dir(f"ingest{n}")
        with self.timed() as t:
            self.ingest_pass(self.docs, out, n)
        self.write_amp = du(out) / self.text_bytes
        pairs = pq.read_table(out / "pairs", columns=["id_a", "id_b"])
        labels = pq.read_table(out / "clusters", columns=["doc_id", "cluster_id"])
        tf_sum = pq.read_table(out / "bm25" / "postings", columns=["tf"]).column("tf")
        if traced:
            self.count("bm25.write_bytes", du(out / "bm25"))
            self.count("chunking.chunks_out", ds.dataset(out / "chunks").count_rows())
            self.count("dedup.pairs_out", pairs.num_rows)
        errs = checks.ingest(
            self.ingest_ids, self.token_count, int(np.sum(tf_sum.to_numpy())),
            list(zip(*labels.to_pydict().values())),
            list(zip(*pairs.to_pydict().values())),
        )
        return errs, len(self.ingest_ids), t

    # -- results ----------------------------------------------------------
    def end_to_end(self, start_s: float) -> dict[str, tuple[float, str]]:
        return {
            "setup_s": (start_s + statistics.median(self.setup_reps) + self.warmup_s, "s"),
            "op_cpu_s": (statistics.median(self.op_cpu_s), "s"),
            "write_amp": (self.write_amp, "B/B"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
        }

    def wall_clock(self, item: str) -> dict[str, tuple[float, str]]:
        """Op wall time and throughput. Printed, but not in
        ``BENCHMARK.json``: on a shared host they move with other
        tenants' load far more than ``op_cpu_s`` does."""
        unit = "q/s" if item == "queries_per_s" else "docs/s"
        return {
            "op_p50_s": (statistics.median(self.op_s), "s"),
            item: (self.items / sum(self.op_s), unit),
        }

    def per_layer(self, session_start_s: float) -> dict[str, tuple[float, str]]:
        """Median per span name over the traced ops (or set-up reps) that
        ran it; layers a workload never calls read 0."""
        spans: dict[str, list[dict]] = {}
        for s in self.tracer.spans:
            spans.setdefault(s["name"], []).append(s)

        def med(values):
            return statistics.median(values) if values else 0.0

        out = {"session.start_s": (session_start_s, "s")}
        for name in SPANS:
            out[f"{name}_s"] = (med([s["end"] - s["start"] for s in spans.get(name, [])]), "s")
            for c in COUNTERS:
                unit = "B" if c.endswith("bytes") else "count"
                out[f"{name}_{c}"] = (med([s[c] for s in spans.get(name, [])]), unit)
        by_op: dict[int, dict[str, float]] = {}
        for s in self.tracer.spans:
            by_op.setdefault(s["op"], {})[s["name"]] = s["end"] - s["start"]
        out["fusion.residual_s"] = (med([
            d["hybrid.exec"] - sum(d[f"{leg}.leg"] for leg in QUERY_LEGS)
            for d in by_op.values() if "hybrid.exec" in d and "bm25.leg" in d
        ]), "s")
        for name, unit in COUNTS.items():
            out[name] = (med(self.counts.get(name, [])), unit)
        out["trace.overhead_s"] = (med(self.traced_op_s) - med(self.op_s), "s")
        out["jvm.jit_cpu_s"] = (med(self.op_jit_s), "s")
        return out
