"""Query deadlines, scatter retry, and partial results — the round-4
operational-hardening surfaces.

Reference contract: LuceneServer wraps every shard search in a
TimeLimitingCollector at 75% of the client budget
(LuceneServer.java:1555-1564, fraction :435-437; client budget
LuceneClient.java:182); NodeInteraction re-dispatches a failed
shard's work to another node (NodeInteraction.java:141-205); the
client returns partial results with the missing-shard set when the
budget expires (ClientResultReceiver.java:147-166,
ClientResult.isComplete / getMissingShards)."""

import os
import time

import pytest
from pyspark.sql import functions as F

from katta_spark.corpus import synthetic_corpus, with_ingest_columns
from katta_spark.index import build_index
from katta_spark.index.serve import (
    LocalSearcher,
    QueryTimeout,
    ShardedSearcher,
    _deadline_task,
)

BR = 256


@pytest.fixture(scope="module")
def two_shards(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("deadline")
    full = with_ingest_columns(synthetic_corpus(spark, 600))
    a = full.filter(F.col("doc_id") < 256)
    b = full.filter(F.col("doc_id") >= 256).withColumn(
        "doc_id", F.col("doc_id") - 256
    )
    da, db = str(root / "shard_a"), str(root / "shard_b")
    build_index(spark, a, da, n_groups=2, block_range=BR)
    build_index(spark, b, db, n_groups=2, block_range=BR)
    return da, db


# ---------------------------------------------------------------- kernel

def test_querytimeout_is_timeouterror():
    """ONE timeout exception surface: whether the worker kernel
    aborts first (QueryTimeout) or the parent's budget race wins
    (TimeoutError), a caller catching TimeoutError sees both."""
    assert issubclass(QueryTimeout, TimeoutError)


def test_kernel_deadline_raises(two_shards):
    da, _ = two_shards
    ls = LocalSearcher(da)
    # an already-expired budget aborts in the first kernel check
    with pytest.raises(TimeoutError):
        ls.topk(["import"], k=5, timeout_ms=0)
    with pytest.raises(QueryTimeout):
        ls.search(["import"], k=5, timeout_ms=0)
    with pytest.raises(QueryTimeout):
        ls.query("import OR table", k=5, timeout_ms=0)
    # deadline is cleared afterwards: the same handle answers
    # untimed queries and generous budgets identically
    want = ls.topk(["import"], k=5)
    assert ls.topk(["import"], k=5, timeout_ms=60_000) == want
    assert ls._deadline is None


def test_stored_field_surfaces_abort_on_budget(two_shards):
    """Round-5 non-kernel deadline coverage: the stored-field
    surfaces (facet / sorted_query / range facet / significant_terms)
    check the armed deadline between scan batches — the reference
    bounds EVERY collector, including facet/group calls
    (LuceneServer.java:1555-1564), not just scoring."""
    da, _ = two_shards
    ls = LocalSearcher(da, qcache_size=0)
    with pytest.raises(QueryTimeout):
        ls.facet(["import"], "lang", timeout_ms=0)
    with pytest.raises(QueryTimeout):
        ls.sorted_query(["import"], [("path", "asc")],
                        ["doc_id", "path"], 5, timeout_ms=0)
    with pytest.raises(QueryTimeout):
        ls.range_facet(["import"], "dl", 0.0, 1000.0, 100.0,
                       timeout_ms=0)
    with pytest.raises(QueryTimeout):
        ls.significant_terms(["import"], timeout_ms=0)
    # deadline cleared: untimed calls answer, budgets are generous
    assert ls.facet(["import"], "lang")
    assert ls.facet(["import"], "lang", timeout_ms=60_000) == \
        ls.facet(["import"], "lang")
    assert ls._deadline is None


def _under_worker_deadline(fn):
    """Run ``fn`` the way a scatter worker runs a call: through
    _deadline_task with an already-spent budget."""
    return _deadline_task((lambda _payload: fn(), None, 0))


def test_worker_deadline_covers_stored_surfaces(two_shards):
    """The scatter worker's deadline (armed by _deadline_task at 75%
    of the budget) aborts stored-field scans in-worker — a timed-out
    worker running a facet or sig_terms scan frees itself instead of
    staying wedged through the scan."""
    da, _ = two_shards
    ls = LocalSearcher(da, qcache_size=0)
    with pytest.raises(QueryTimeout):
        _under_worker_deadline(lambda: ls.facet(["import"], "lang"))
    with pytest.raises(QueryTimeout):
        _under_worker_deadline(lambda: ls.significant_terms(["import"]))
    with pytest.raises(QueryTimeout):
        _under_worker_deadline(lambda: ls.sorted_query(
            ["import"], [("path", "asc")], ["doc_id", "path"], 5))
    assert ls.facet(["import"], "lang")


def test_budget_never_leaks_across_threads(two_shards):
    """A query's deadline belongs to its call: two threads send
    budgeted queries (which may time out) and two send unbudgeted
    ones to ONE handle; the unbudgeted ones must never raise."""
    import sys
    import threading

    da, _ = two_shards
    ls = LocalSearcher(da, qcache_size=0)
    want = ls.topk(["import", "table"], k=5)
    errors: list[Exception] = []
    wrong: list = []

    def budgeted():
        for _ in range(150):
            try:
                ls.topk(["import", "table"], k=5, timeout_ms=0.5)
                ls.query("import OR table", k=5, timeout_ms=0.5)
            except QueryTimeout:
                pass

    def unbudgeted():
        for _ in range(150):
            try:
                got = ls.topk(["import", "table"], k=5)
                ls.query("import OR table", k=5)
            except Exception as e:  # noqa: BLE001 - any raise fails
                errors.append(e)
                continue
            if got != want:
                wrong.append(got)

    threads = [threading.Thread(target=f)
               for f in (budgeted, budgeted, unbudgeted, unbudgeted)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, f"{len(errors)} unbudgeted calls raised: {errors[0]!r}"
    assert not wrong


# --------------------------------------------------------------- scatter

def _count_calls(sh):
    """One count_raw dispatcher payload per shard."""
    return sh._calls("count_raw", ["import"], "or")


def test_scatter_timeout_partial_count(two_shards, shard_fault):
    da, db = two_shards
    sh = ShardedSearcher([da, db], timeout_ms=700, complete=False)
    try:
        exact_a = LocalSearcher(da).count(["import"])
        shard_fault(sleep=3.0)
        t0 = time.monotonic()
        got = sum(n for _, n in sh._scatter(_count_calls(sh))[0])
        took = time.monotonic() - t0
        # returned within ~the budget, not after the slow shard
        assert took < 2.5
        assert got == exact_a
        assert sh.shards_failed == [db]
    finally:
        sh.close()


def test_scatter_timeout_complete_raises(two_shards, shard_fault):
    da, db = two_shards
    sh = ShardedSearcher([da, db], timeout_ms=500, complete=True)
    try:
        shard_fault(sleep=3.0)
        with pytest.raises(TimeoutError, match="shard"):
            sh._scatter(_count_calls(sh))
    finally:
        sh.close()


def test_search_envelope_reports_missing_shards(two_shards, shard_fault):
    da, db = two_shards
    sh = ShardedSearcher([da, db], complete=False)
    try:
        # full run first: completeness fields on the happy path
        env = sh.search(["import"], k=5)
        assert env["shards_total"] == 2
        assert env["shards_failed"] == [] and env["complete"] is True
        n_full = env["num_found"]
        # per-query budget; shard_b's call hangs past it
        shard_fault(sleep=3.0, method="_search_page")
        env = sh.search(["import"], k=5, timeout_ms=700)
        assert env["complete"] is False
        assert env["shards_failed"] == [db]
        assert env["shards_total"] == 2
        assert 0 < env["num_found"] < n_full
        assert len(env["hits"]) > 0
    finally:
        sh.close()


def test_untimed_scatter_unchanged(two_shards):
    """No budget, no failures: scatter results identical to the
    per-shard truth (the pre-round-4 exact contract)."""
    da, db = two_shards
    sh = ShardedSearcher([da, db])
    try:
        assert sh.count(["import"]) == (
            LocalSearcher(da).count(["import"])
            + LocalSearcher(db).count(["import"])
        )
        env = sh.search(["import"], k=3)
        assert env["complete"] is True and env["shards_failed"] == []
    finally:
        sh.close()


# ----------------------------------------------------------------- retry

_KILL_SENTINEL = "/tmp/katta_kill_once_sentinel"


def test_scatter_retries_dead_worker_once(two_shards, shard_fault):
    """A SIGKILLed pool worker (BrokenProcessPool) gets the shard's
    call re-dispatched once to a fresh pool — exact results, no
    partial, complete=True never trips."""
    da, db = two_shards
    if os.path.exists(_KILL_SENTINEL):
        os.unlink(_KILL_SENTINEL)
    sh = ShardedSearcher([da, db], complete=True)
    try:
        shard_fault(kill_once=_KILL_SENTINEL)
        got = sum(n for _, n in sh._scatter(_count_calls(sh))[0])
        want = (LocalSearcher(da).count(["import"])
                + LocalSearcher(db).count(["import"]))
        assert got == want
        assert sh.shards_failed == []
    finally:
        sh.close()
        if os.path.exists(_KILL_SENTINEL):
            os.unlink(_KILL_SENTINEL)


def test_sharded_query_budget_spans_both_rounds(two_shards, shard_fault):
    """The two-round Lucene-string scatter shares ONE client budget;
    a shard that misses the df exchange is excluded from evaluation
    too (consistent idf), and under complete=False the answer is the
    surviving shard's exact ranking."""
    da, db = two_shards
    # scache off: the repeated identical query must RE-SCATTER here
    # (a cache hit would — correctly, but not what this test pins —
    # serve the full cached result instead of the partial)
    sh = ShardedSearcher([da, db], complete=False, scache_size=0)
    try:
        want_full = sh.query("(import OR table) AND scan", k=5)
        assert sh.shards_failed == []
        shard_fault(sleep=3.0, method="_query_terms")
        t0 = time.monotonic()
        got = sh.query("(import OR table) AND scan", k=5,
                       timeout_ms=700)
        assert time.monotonic() - t0 < 2.5
        assert sh.shards_failed == [db]
        # shard_a occupies offset 0, so its namespaced ids equal its
        # local ids: the partial answer is shard_a's exact ranking
        # under shard_a-local idf
        only_a = LocalSearcher(da, qcache_size=0)
        want = only_a.query("(import OR table) AND scan", k=5)
        assert [d for d, _ in got] == [d for d, _ in want]
        assert got != want_full or len(want_full) == len(want)
    finally:
        sh.close()


def test_sharded_refresh_preserves_policy(two_shards):
    """refresh() re-opens shards but must keep the handle's budget
    and partial-result policy."""
    da, db = two_shards
    sh = ShardedSearcher([da, db], timeout_ms=1234, complete=False)
    try:
        sh.count(["import"])
        sh.refresh()
        assert sh.timeout_ms == 1234 and sh.complete is False
        assert sh.count(["import"]) > 0
    finally:
        sh.close()


def test_metrics_surfaces(two_shards, shard_fault):
    """node_metrics / metrics counters: cache stats move, scatter
    counters count, failures recorded — the client-side view of the
    reference's node metrics registry."""
    da, db = two_shards
    ls = LocalSearcher(da)
    ls.topk(["import"], k=3)
    ls.topk(["import"], k=3)
    m = ls.node_metrics()
    assert m["qcache_hits"] == 1 and m["qcache_misses"] == 1
    assert m["qcache_hit_rate"] == 0.5 and m["qcache_entries"] == 1
    assert m["n_docs"] > 0 and m["tombstones"] == 0

    sh = ShardedSearcher([da, db], timeout_ms=700, complete=False)
    try:
        sh.count(["import"])
        shard_fault(sleep=3.0)
        sh._scatter(_count_calls(sh))
        sm = sh.metrics()
        assert sm["n_scatters"] == 2
        assert sm["n_shard_failures"] == 1
        assert sm["last_shards_failed"] == [db]
        assert len(sm["per_shard"]) == 2
    finally:
        sh.close()


def test_all_shards_failed_raises_even_tolerant(two_shards, shard_fault):
    """Zero surviving shards has no meaningful partial result: even
    complete=False raises a clear TimeoutError (Solr shards.tolerant
    behaves the same) instead of pushing an empty list into every
    merge surface's concat."""
    da, db = two_shards
    sh = ShardedSearcher([da, db], complete=False)
    try:
        shard_fault(shard="", sleep=3.0)
        with pytest.raises(TimeoutError, match="all shards"):
            sh._scatter(_count_calls(sh), timeout_ms=400)
        assert sorted(sh.shards_failed) == sorted([da, db])
    finally:
        sh.close()


def test_stored_field_scatter_worker_not_wedged(two_shards, shard_fault):
    """Cascade test for a STORED-FIELD scatter: the slow worker blows
    the budget; its armed deadline aborts the facet call's stored
    read in-worker (QueryTimeout) instead of running the scan to
    completion, so the SAME pool serves the next scatter with full
    results — no queue backs up behind a wedged scan."""
    da, db = two_shards
    sh = ShardedSearcher([da, db], timeout_ms=300, complete=False)
    try:
        payloads = sh._calls("_facet_counts", ["import"], "lang", "or")
        shard_fault(sleep=0.7)
        t0 = time.monotonic()
        sh._scatter(payloads)
        assert time.monotonic() - t0 < 2.0
        assert sh.shards_failed == [db]
        pool = sh._pool
        time.sleep(0.8)  # let worker b finish its in-worker abort
        shard_fault()
        got, _ = sh._scatter(payloads)
        assert sh.shards_failed == [] and len(got) == 2
        assert sh._pool is pool, "pool was torn down"
    finally:
        sh.close()


def test_task_exception_keeps_pool_and_raises_original(two_shards,
                                                     shard_fault):
    """A deterministic call error must NOT tear down the healthy
    pool (the workers' warm shard caches survive) and must surface
    the ORIGINAL exception under complete=True; under complete=False
    the shard is dropped without a retry."""
    da, db = two_shards
    sh = ShardedSearcher([da, db], complete=True)
    try:
        sh.count(["import"])  # build the pool
        pool_before = sh._pool
        shard_fault(error="no such field: bogus")
        with pytest.raises(ValueError, match="bogus"):
            sh._scatter(_count_calls(sh))
        # the failing shard is marked even on the complete=True
        # call-exception raise path, consistent with timeout/broken
        assert sh.shards_failed == [db]
        assert sh.metrics()["n_shard_failures"] == 1
        assert sh._pool is pool_before, "healthy pool was torn down"
        # pool still serves queries
        shard_fault()
        assert sh.count(["import"]) > 0

        sh.complete = False
        shard_fault(error="no such field: bogus")
        got, _ = sh._scatter(_count_calls(sh))
        assert len(got) == 1 and sh.shards_failed == [db]
        assert sh._pool is pool_before
    finally:
        sh.close()
