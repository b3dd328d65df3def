"""Prepared-plan cache semantics (__spark_entry__._prepared): pure lazy
entries reuse their analyzed DataFrame per (entry, corpus fingerprint);
eager/effectful entries rebuild every call; a session swap invalidates."""

from __future__ import annotations

import shutil
from pathlib import Path

import __spark_entry__ as entrymod
from rag_database_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_pure_lazy_entry_reuses_plan(spark):
    qs = entrymod.queries()
    a = qs["db_stats"](spark, SF_DIR)
    b = qs["db_stats"](spark, SF_DIR)
    assert a is b  # plan cache hit — compilation amortized
    # execution still produces full results on every call
    assert a.count() == b.count() > 0


def test_eager_entry_not_cached(spark):
    qs = entrymod.queries()
    # BFS entries materialize during build (localCheckpoint) — caching
    # them would skip real compute, so they must rebuild per call
    a = qs["graph_expand"](spark, SF_DIR)
    b = qs["graph_expand"](spark, SF_DIR)
    assert a is not b


def test_checkpoint_bearing_entries_rebuild_per_call(spark):
    """Entries whose builders eager-localCheckpoint a subtree must NOT
    be served from _PREPARED — the cached frame would hand every later
    invocation the warmup-materialized RDD blocks (result caching
    across bench passes). Representatives are chosen by plan shape:
    maxsim_topk reads the page multi-vector table that
    ``workload.multivector_pages`` checkpoints. Conversely, a pure-lazy
    entry (bm25_topk) is served from _PREPARED."""
    qs = entrymod.queries()
    fp = entrymod._source_fingerprint(SF_DIR)
    a = qs["maxsim_topk"](spark, SF_DIR)
    b = qs["maxsim_topk"](spark, SF_DIR)
    assert a is not b
    # the guard fires on the plan shape, not the name list
    assert entrymod._has_materialized_leaf(a)
    assert ("maxsim_topk", fp) not in entrymod._PREPARED

    a = qs["bm25_topk"](spark, SF_DIR)
    b = qs["bm25_topk"](spark, SF_DIR)
    assert a is b
    assert not entrymod._has_materialized_leaf(a)
    assert entrymod._PREPARED[("bm25_topk", fp)][1] is a


def test_prepared_cache_serves_only_pure_lazy_plans(spark):
    """Invariant form of the guard: nothing in _PREPARED may carry a
    LogicalRDD leaf, whatever future folds get added."""
    qs = entrymod.queries()
    # build a known pure-lazy entry so the cache is non-trivially
    # populated even when this test runs alone
    qs["db_stats"](spark, SF_DIR)
    for (name, _), (owner, df) in entrymod._PREPARED.items():
        if owner is not spark:
            continue
        assert not entrymod._has_materialized_leaf(df), name


def test_stale_session_invalidates(spark):
    key_fn = entrymod._source_fingerprint
    name = "db_stats"
    qs = entrymod.queries()
    df = qs[name](spark, SF_DIR)
    key = (name, key_fn(SF_DIR))
    assert entrymod._PREPARED[key][1] is df
    # simulate a replaced session: poison the cached owner
    entrymod._PREPARED[key] = (object(), df)
    rebuilt = qs[name](spark, SF_DIR)
    assert rebuilt is not df
    assert entrymod._PREPARED[key][0] is spark


def test_index_cache_stale_session_invalidates(spark):
    """r15 ADVICE: the artifact memos (_INDEX_CACHE et al.) carry the
    same (session, value) identity guard as _PREPARED — a hit owned by
    a stopped/replaced session must rebuild, never serve the dead
    frame."""
    pair = entrymod._bm25_index(spark, SF_DIR)
    fp = entrymod._bm25_index_key(SF_DIR)
    assert entrymod._INDEX_CACHE[fp] == (spark, pair)
    sentinel = ("dead", "frames")
    entrymod._INDEX_CACHE[fp] = (object(), sentinel)
    rebuilt = entrymod._bm25_index(spark, SF_DIR)
    assert rebuilt is not sentinel
    assert entrymod._INDEX_CACHE[fp][0] is spark


def test_curation_cache_stale_session_invalidates(spark):
    art = entrymod._curation_artifact(spark, SF_DIR)
    assert art.count() > 0
    (fp,) = [
        k for k, v in entrymod._CURATION_CACHE.items() if v[1] is art
    ]
    # the key must carry the logic-version hash (regex-bank edits
    # invalidate, not just the numeric constants)
    assert fp.endswith(f"-v{entrymod._curation_logic_version()}")
    entrymod._CURATION_CACHE[fp] = (object(), art)
    rebuilt = entrymod._curation_artifact(spark, SF_DIR)
    assert rebuilt is not art
    assert entrymod._CURATION_CACHE[fp][0] is spark


def test_half_written_bm25_index_rebuilds(spark, monkeypatch):
    """``bm25.write_index`` writes postings, then doclens: a kill between
    the two leaves postings/_SUCCESS beside incomplete doclens. The
    index probe must treat that directory as unbuilt and rebuild it."""
    key = "half-written-index-test"
    monkeypatch.setattr(entrymod, "_bm25_index_key", lambda sf_dir: key)
    cache_dir = (
        Path(entrymod.__file__).resolve().parent / ".cache" / "bm25_index" / key
    )
    writes = []
    write_index = entrymod.bm25_ops.write_index

    def counted(*args, **kwargs):
        writes.append(args[1])
        write_index(*args, **kwargs)

    monkeypatch.setattr(entrymod.bm25_ops, "write_index", counted)
    shutil.rmtree(cache_dir, ignore_errors=True)
    try:
        entrymod._bm25_index(spark, SF_DIR)
        assert len(writes) == 1
        (cache_dir / "doclens" / "_SUCCESS").unlink()
        entrymod._INDEX_CACHE.pop(key)
        _, doclens = entrymod._bm25_index(spark, SF_DIR)
        assert len(writes) == 2
        assert (cache_dir / "doclens" / "_SUCCESS").exists()
        n_docs = load_table(spark, SF_DIR, "documents").count()
        assert doclens.count() == n_docs
    finally:
        entrymod._INDEX_CACHE.pop(key, None)
        shutil.rmtree(cache_dir, ignore_errors=True)
