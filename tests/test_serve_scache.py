"""Scatter-tier result cache (round 5): repeated identical scatters
skip fan-out + merge.  Keyed by (query signature x per-shard commit
fingerprints); refresh() flushes (new-searcher semantics, same rule as
the node-tier queryResultCache); partial results are never cached."""

import time

import pytest
from pyspark.sql import functions as F

from katta_spark.corpus import synthetic_corpus, with_ingest_columns
from katta_spark.index import build_index
from katta_spark.index.serve import ShardedSearcher

BR = 256


@pytest.fixture(scope="module")
def two_shards(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("scache")
    full = with_ingest_columns(synthetic_corpus(spark, 600))
    a = full.filter(F.col("doc_id") < 256)
    b = full.filter(F.col("doc_id") >= 256).withColumn(
        "doc_id", F.col("doc_id") - 256
    )
    da, db = str(root / "shard_a"), str(root / "shard_b")
    build_index(spark, a, da, n_groups=2, block_range=BR)
    build_index(spark, b, db, n_groups=2, block_range=BR)
    return da, db


def test_scatter_cache_hits_rank_identical(two_shards):
    da, db = two_shards
    sh = ShardedSearcher([da, db])
    try:
        cold_topk = sh.topk(["import", "table"], k=8)
        cold_count = sh.count(["import"])
        cold_q = sh.query("(import OR table) AND scan", k=5)
        m0 = sh.metrics()
        assert m0["scache_hits"] == 0 and m0["scache_misses"] == 3
        assert sh.topk(["import", "table"], k=8) == cold_topk
        assert sh.count(["import"]) == cold_count
        assert sh.query("(import OR table) AND scan", k=5) == cold_q
        m1 = sh.metrics()
        assert m1["scache_hits"] == 3
        # a hit does not scatter
        assert m1["n_scatters"] == m0["n_scatters"]
        # different k / mode / offset are different keys
        assert sh.topk(["import", "table"], k=3) == cold_topk[:3]
        assert sh.metrics()["scache_misses"] == 4
    finally:
        sh.close()


def test_partial_results_never_cached(two_shards, shard_fault):
    da, db = two_shards
    sh = ShardedSearcher([da, db], complete=False)
    try:
        full = sh.count(["import"])
        sh2 = ShardedSearcher([da, db], timeout_ms=1500,
                              complete=False)
        try:
            shard_fault(sleep=5.0)
            partial = sh2.count(["import"])
            assert partial < full and sh2.shards_failed == [db]
            # the degraded answer was NOT cached: the retry
            # re-scatters (and with the slow shard gone, completes)
            shard_fault()
            sh2.timeout_ms = None
            assert sh2.count(["import"]) == full
            assert sh2.metrics()["scache_hits"] == 0
        finally:
            sh2.close()
    finally:
        sh.close()


def test_failures_are_per_call(two_shards, shard_fault):
    """Thread A runs budgeted counts that go partial on a slow
    shard_b while thread B runs full searches on the SAME handle.
    Each call reads its own scatter's failures: B's envelopes all say
    complete, and A's partial answer never enters the scatter cache."""
    import threading

    from katta_spark.index.serve import LocalSearcher

    da, db = two_shards
    full = sum(LocalSearcher(d).count(["import"]) for d in (da, db))
    sh = ShardedSearcher([da, db], complete=False)
    try:
        sh.search(["import"], k=5)  # start the pool
        shard_fault(sleep=0.4, method="count_raw")
        done = threading.Event()
        partials, envs = [], []

        def run_a():
            try:
                for _ in range(6):
                    try:
                        partials.append(sh.count(["import"],
                                                 timeout_ms=150))
                    except TimeoutError:
                        pass  # both shards queued past the budget
                    time.sleep(0.3)
            finally:
                done.set()

        def run_b():
            while not done.is_set():
                envs.append(sh.search(["import"], k=5))

        threads = [threading.Thread(target=run_a),
                   threading.Thread(target=run_b)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        assert envs and partials
        assert [e["shards_failed"] for e in envs if not e["complete"]] \
            == []
        assert all(p < full for p in partials)
        assert sh.metrics()["scache_hits"] == 0
        shard_fault()
        assert sh.count(["import"]) == full
    finally:
        sh.close()


def test_refresh_flushes_scatter_cache(two_shards, spark):
    from katta_spark.index.delete import delete_docs

    da, db = two_shards
    sh = ShardedSearcher([da, db])
    try:
        from katta_spark.index.serve import LocalSearcher

        before = sh.count(["import"])
        victim = int(LocalSearcher(db)._matched_ids(["import"])[0])
        delete_docs(spark, db, doc_ids=[victim])
        sh.refresh()
        after = sh.count(["import"])
        assert after < before
    finally:
        sh.close()
