"""Memoization safety: the per-dataset caches (IVF/PQ codebooks, near-dup
pair table and components) must return results identical to a fresh
computation — a stale or mis-keyed cache would silently corrupt every
downstream query that rides it (q96/q102/q134/q135/q143/q144/q148).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_writer_spark import io as kio
from tests.conftest import SF_DIR


def test_codebook_cache_hits_and_matches(spark):
    from kinesis_writer_spark.operators.similarity import (
        _CODEBOOK_CACHE,
        ivf_train_centroids,
    )

    emb = kio.load(spark, SF_DIR, "embeddings")
    fresh = ivf_train_centroids(emb)  # no cache key: always trains
    key = "test-cache-key"
    c1 = ivf_train_centroids(emb, cache_key=key)
    c2 = ivf_train_centroids(emb, cache_key=key)
    assert c1 == fresh  # cached content identical to a fresh training run
    assert c2 is c1  # second call is a pure cache hit
    assert (key, 2, 4) in _CODEBOOK_CACHE  # default resolves to _KM_K=4 cells


def test_codebook_cache_concurrent(spark):
    """r13 verdict task #5 (singleton concurrency audit): _CODEBOOK_CACHE
    is process-wide and reachable from concurrent driver threads (parallel
    streaming queries' foreachBatch bodies). Concurrent trainings under one
    fresh cache_key must interleave safely: every caller gets the same
    deterministic codebook and the cache ends with exactly one entry —
    worst case is duplicate training (the check-insert runs under
    _IVF_CACHE_LOCK; Lloyd jobs themselves run outside it)."""
    import threading

    from kinesis_writer_spark.operators.similarity import (
        _CODEBOOK_CACHE,
        ivf_train_centroids,
    )

    emb = kio.load(spark, SF_DIR, "embeddings")
    key = "concurrent-cache-key"
    _CODEBOOK_CACHE.pop((key, 2, 4), None)
    results, errors = [None] * 4, []

    def train(i):
        try:
            results[i] = ivf_train_centroids(emb, cache_key=key)
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    threads = [threading.Thread(target=train, args=(i,)) for i in range(4)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not errors, errors
        assert all(r == results[0] for r in results)
        assert results[0] == ivf_train_centroids(emb)  # matches a fresh run
        assert (key, 2, 4) in _CODEBOOK_CACHE
    finally:
        _CODEBOOK_CACHE.pop((key, 2, 4), None)


def test_shared_sink_limiter_concurrent():
    """r13 singleton audit: the per-(stream, budget) limiter registry must
    hand every concurrent caller the SAME instance — two instances for one
    key means two independent token buckets, admitting up to 2x the
    configured budget."""
    import threading

    from kinesis_writer_spark.sources.kinesis_stream import (
        _SINK_LIMITERS,
        _shared_sink_limiter,
    )

    key = ("audit-stream", 123.0, 45.0, 1.0)
    _SINK_LIMITERS.pop(key, None)
    results = [None] * 8

    def get(i):
        results[i] = _shared_sink_limiter(*key)

    threads = [threading.Thread(target=get, args=(i,)) for i in range(8)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert all(r is results[0] and r is not None for r in results)
        # distinct budgets stay distinct limiters
        other = _shared_sink_limiter("audit-stream", 999.0, 45.0, 1.0)
        assert other is not results[0]
    finally:
        _SINK_LIMITERS.pop(key, None)
        _SINK_LIMITERS.pop(("audit-stream", 999.0, 45.0, 1.0), None)


def test_neardup_pairs_cache_concurrent(spark, monkeypatch):
    """r13 singleton audit: the near-dup pair memo holds localCheckpointed
    BLOCKS — a duplicate-insert race must not orphan a loser's blocks.
    Concurrent misses may each compute, but all callers get one shared
    entry and every losing frame is released."""
    import threading

    from kinesis_writer_spark.operators import dedup

    computes, releases = [], []

    def fake_q54(spark_, sf_dir_):
        computes.append(1)
        return spark.range(3).select(
            F.col("id").alias("doc_a"), (F.col("id") + 100).alias("doc_b")
        )

    real_release = dedup.release_checkpoint
    monkeypatch.setattr(dedup, "q54_simhash_neardup", fake_q54)
    monkeypatch.setattr(
        dedup, "release_checkpoint",
        lambda df: (releases.append(1), real_release(df))[1],
    )
    key = (spark.sparkContext.applicationId, "/audit/fake-sf")
    dedup._NEARDUP_PAIRS_CACHE.pop(key, None)
    results = [None] * 4

    def get(i):
        results[i] = dedup._neardup_pairs(spark, "/audit/fake-sf")

    threads = [threading.Thread(target=get, args=(i,)) for i in range(4)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert all(r is results[0] and r is not None for r in results)
        assert results[0].count() == 3
        # every duplicate computation (beyond the winning insert) released
        # its checkpoint blocks; none held by the cache
        assert len(releases) == len(computes) - 1, (computes, releases)
        assert dedup._NEARDUP_PAIRS_CACHE[key] is results[0]
    finally:
        entry = dedup._NEARDUP_PAIRS_CACHE.pop(key, None)
        if entry is not None:
            real_release(entry)


def test_pct_cache_concurrent(spark):
    """r13 singleton audit: the perceptron-weights memo has no lock by
    design (values are immutable int tuples, setdefault is GIL-atomic) —
    concurrent trainings must converge on ONE shared entry with the
    deterministic weights."""
    import threading

    from kinesis_writer_spark import registry

    registry._ensure_loaded()  # canonical operator import order (a direct
    # pipeline_ops_eval import first would hit the composed<->eval cycle)
    from kinesis_writer_spark.operators.pipeline_ops_eval import (
        _PCT_CACHE,
        _pct_train,
    )

    baseline = _PCT_CACHE.pop(SF_DIR, None) or _pct_train(spark, SF_DIR)
    _PCT_CACHE.pop(SF_DIR, None)
    results = [None] * 3

    def train(i):
        results[i] = _pct_train(spark, SF_DIR)

    threads = [threading.Thread(target=train, args=(i,)) for i in range(3)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert all(r is results[0] and r is not None for r in results)
        assert results[0] == baseline  # deterministic across racers
    finally:
        _PCT_CACHE.pop(SF_DIR, None)


def test_neardup_caches_match_fresh_computation(spark):
    from kinesis_writer_spark.operators.dedup import (
        _neardup_components,
        _neardup_pairs,
        connected_components,
        q54_simhash_neardup,
    )

    cached_pairs = {
        (r.doc_a, r.doc_b)
        for r in _neardup_pairs(spark, SF_DIR).collect()
    }
    fresh_pairs = {
        (r.doc_a, r.doc_b)
        for r in q54_simhash_neardup(spark, SF_DIR)
        .select("doc_a", "doc_b")
        .collect()
    }
    assert cached_pairs == fresh_pairs

    cached_comps = {
        r.node: r.comp for r in _neardup_components(spark, SF_DIR).collect()
    }
    fresh_comps = {
        r.node: r.comp
        for r in connected_components(
            q54_simhash_neardup(spark, SF_DIR).select("doc_a", "doc_b"),
            src="doc_a",
            dst="doc_b",
        ).collect()
    }
    assert cached_comps == fresh_comps


def test_clear_all_unpersists_dataframe_entries():
    """clear_all must release checkpoint/cache blocks held by memoized
    DataFrames before dropping the reference (ADVICE r6: orphaned blocks
    linger until driver GC, pressuring executors mid-bench)."""
    from kinesis_writer_spark import memo

    calls = {"n": 0}

    class FakeDF:
        def unpersist(self):
            calls["n"] += 1

    cache = memo.register({})
    try:
        cache["k"] = FakeDF()
        cache["plain"] = 42  # non-DataFrame values must not break clearing
        memo.clear_all()
        assert calls["n"] == 1 and not cache
    finally:
        memo._CACHES.remove(cache)


def test_clear_all_warns_once_when_unpersist_raises(monkeypatch, caplog):
    """A failing release is logged, not swallowed: one warning however many
    clears hit it, and every cache still empties."""
    import logging

    from kinesis_writer_spark import memo

    class BrokenDF:
        def unpersist(self):
            raise RuntimeError("release failed")

    monkeypatch.setattr(memo, "_unpersist_warned", False, raising=False)
    failing, other = memo.register({}), memo.register({})
    try:
        with caplog.at_level(logging.WARNING, logger=memo.__name__):
            for _ in range(2):
                failing["k"] = BrokenDF()
                other["plain"] = 42
                memo.clear_all()
                assert not failing and not other
        warnings = [r for r in caplog.records if "unpersist() failed" in r.getMessage()]
        assert len(warnings) == 1
    finally:
        memo._CACHES.remove(failing)
        memo._CACHES.remove(other)


def test_clear_all_frees_local_checkpoint_blocks(spark):
    """DataFrame.unpersist() is a no-op for localCheckpointed DataFrames
    (their blocks live in an internal RDD outside the CacheManager), so
    clear_all must release them through the plan's LogicalRDD — assert on
    the real persistent-RDD count, not on unpersist having been called."""
    from kinesis_writer_spark import memo

    sc = spark.sparkContext
    base = sc._jsc.getPersistentRDDs().size()
    cache = memo.register({})
    try:
        cache["ckpt"] = spark.range(10_000).localCheckpoint()
        assert sc._jsc.getPersistentRDDs().size() == base + 1
        memo.clear_all()
        assert not cache
        assert sc._jsc.getPersistentRDDs().size() == base
    finally:
        memo._CACHES.remove(cache)


def test_value_keyed_expr_cache_bounded(spark):
    """r14 verdict task #3: value-keyed construction-cache entries (keys
    embedding trained centroid/weight literals) must not grow without
    bound — retraining N codebooks keeps at most VALUE_KEYED_CAP trees."""
    from kinesis_writer_spark import exprcache
    from kinesis_writer_spark.operators.similarity import _km_best_struct

    exprcache._VALUE.clear()
    n = exprcache.VALUE_KEYED_CAP + 17
    for i in range(n):
        # a distinct "trained codebook" per iteration — distinct value keys
        rows = [(0, [i, i + 1]), (1, [i + 2, i + 3])]
        _km_best_struct(rows, "embedding")
    assert len(exprcache._VALUE) <= exprcache.VALUE_KEYED_CAP
    # the hot entry (most recent model) is still a hit: same object back
    rows = [(0, [n - 1, n]), (1, [n + 1, n + 2])]
    a = _km_best_struct(rows, "embedding")
    b = _km_best_struct(rows, "embedding")
    assert a is b


def test_expr_cache_constant_entries_unbounded(spark):
    from pyspark.sql import functions as F

    from kinesis_writer_spark import exprcache

    before = len(exprcache._CONST)
    for i in range(50):
        exprcache.cached_exprs(("t_const", i), lambda i=i: F.lit(i))
    assert len(exprcache._CONST) >= before + 50
    for i in range(50):
        del exprcache._CONST[("t_const", i)]


def test_expr_cache_invalidated_on_gateway_change(spark, monkeypatch):
    """r14 ADVICE #4: a restarted JVM gateway must invalidate every cached
    (py4j-handle-wrapping) Column so builders rebuild instead of failing
    with dead-object errors."""
    from pyspark.sql import functions as F

    from kinesis_writer_spark import exprcache

    a = exprcache.cached_exprs(("t_gen",), lambda: F.lit(1))
    assert exprcache.cached_exprs(("t_gen",), lambda: F.lit(1)) is a
    sentinel = object()  # a "new gateway" identity
    monkeypatch.setattr(exprcache, "_current_gen", lambda: sentinel)
    b = exprcache.cached_exprs(("t_gen",), lambda: F.lit(1))
    assert b is not a  # caches were cleared and the tree rebuilt
    monkeypatch.undo()
    exprcache._gen_token = None  # force re-sync with the real gateway
    exprcache.cached_exprs(("t_gen2",), lambda: F.lit(2))
