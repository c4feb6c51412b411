"""Many threads on ONE handle — a Katta node and its client serve
concurrent users.  Four threads share a LocalSearcher and four share a
ShardedSearcher, all at once, each sending a shuffled mix of top-k,
count, Lucene-string query, facet and field-sorted requests.  Every
top-k and count answer must equal the pure-Python BM25 oracle; every
other answer must equal the single-threaded one.  The ``evict`` run
shrinks the resident-cache budget to a few KB, so every answer is
read through eviction."""

import random
import sys
import threading
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from katta_spark.corpus import synthetic_corpus, with_ingest_columns
from katta_spark.index import build_index, serve
from katta_spark.index.serve import LocalSearcher, ShardedSearcher

from tests.oracle import PyBM25

N, SPLIT, BR = 600, 256, 256
THREADS, ROUNDS = 4, 3
#: a short interpreter switch interval multiplies the interleavings a
#: thread-safety defect needs to show within a short run
SWITCH_S = 1e-4

TOPK = [(["import"], "or", 10, 0), (["import", "table"], "or", 8, 4),
        (["scan", "merge"], "and", 10, 0),
        (["parse", "request", "return"], "or", 12, 2)]
COUNT = [(["import"], "or"), (["scan", "merge"], "and"),
         (["import", "return"], "or")]
QUERY = ["(import OR table) AND scan", "import -table", "scan OR merg*"]
FACET = [(["import"], "or"), (["scan", "merge"], "and")]
SORTED = [(["table"], "or"), (["import", "return"], "or")]
SORT_COLS = [("lang", "asc"), ("dl", "desc")]
#: resident-cache budget of the ``evict`` run — far below one row group
EVICT_BUDGET = 4096


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """Two shards and the union index.  Shard A holds exactly one
    block of ids, so B's block-aligned offset is SPLIT and the
    namespaced ids equal the corpus ids: the union index and the
    oracle use them unchanged."""
    root = tmp_path_factory.mktemp("threads")
    full = with_ingest_columns(synthetic_corpus(spark, N))
    a = full.filter(F.col("doc_id") < SPLIT)
    b = full.filter(F.col("doc_id") >= SPLIT).withColumn(
        "doc_id", F.col("doc_id") - SPLIT
    )
    da, db, du = (str(root / x) for x in ("a", "b", "u"))
    build_index(spark, a, da, n_groups=2, block_range=BR)
    build_index(spark, b, db, n_groups=2, block_range=BR)
    build_index(spark, full, du, n_groups=2, block_range=BR)
    rows = full.select("doc_id", "content").toPandas()
    oracle = PyBM25([(int(r.doc_id), r.content)
                     for r in rows.itertuples(index=False)])
    return da, db, du, oracle


def _requests():
    reqs = [("topk", x) for x in TOPK] + [("count", x) for x in COUNT]
    reqs += [("query", x) for x in QUERY] + [("facet", x) for x in FACET]
    return reqs + [("sorted", x) for x in SORTED]


def _call(h, kind, x):
    if kind == "topk":
        terms, mode, k, offset = x
        return h.topk(terms, k=k, mode=mode, offset=offset)
    if kind == "count":
        return h.count(x[0], mode=x[1])
    if kind == "query":
        return h.query(x, k=10)
    if kind == "facet":
        return h.facet(x[0], "lang", n=10, mode=x[1])
    return h.sorted_query(x[0], SORT_COLS, ["doc_id", "lang", "dl"], 10,
                          mode=x[1]).values.tolist()


def _check(oracle, kind, x, got, single):
    """None when ``got`` is right, else a description of the miss."""
    if kind == "topk":
        terms, mode, k, offset = x
        want = oracle.topk(terms, k=k, mode=mode, offset=offset)
        if [d for d, _ in got] != [d for d, _ in want] or any(
                abs(g - w) > 1e-9 for (_, g), (_, w) in zip(got, want)):
            return f"topk {x}: {got} != oracle {want}"
    elif kind == "count":
        want = len(oracle.matches(x[0], x[1]))
        if got != want:
            return f"count {x}: {got} != oracle {want}"
    elif got != single[(kind, str(x))]:
        return f"{kind} {x}: {got} != single-threaded answer"
    return None


@pytest.mark.parametrize("cache", [0, 256, "evict"])
def test_threads_share_one_handle(indexes, cache, monkeypatch):
    da, db, du, oracle = indexes
    evict = cache == "evict"
    if evict:
        # set before any handle or scatter pool exists: the forked
        # workers inherit the budget too
        monkeypatch.setattr(serve, "_RESIDENT_BUDGET", EVICT_BUDGET)
        cache = 0
    local = LocalSearcher(du, qcache_size=cache)
    sharded = ShardedSearcher([da, db], scache_size=cache)
    ref_local = LocalSearcher(du, qcache_size=0)
    ref_sharded = ShardedSearcher([da, db], scache_size=0)
    try:
        single = {h: {(kind, str(x)): _call(r, kind, x)
                      for kind, x in _requests()
                      if kind not in ("topk", "count")}
                  for h, r in ((local, ref_local),
                               (sharded, ref_sharded))}
        misses: list[str] = []
        errors: list[Exception] = []
        resident: list[int] = []
        loads0 = local.node_metrics()["rowgroup_misses"]

        def client(h, seed):
            reqs = _requests() * ROUNDS
            random.Random(seed).shuffle(reqs)
            for kind, x in reqs:
                try:
                    bad = _check(oracle, kind, x, _call(h, kind, x),
                                 single[h])
                except Exception as e:  # noqa: BLE001 - reported below
                    errors.append(e)
                    continue
                if bad:
                    misses.append(bad)
                resident.append(local.node_metrics()["resident_bytes"])

        threads = [threading.Thread(target=client, args=(h, i))
                   for i, h in enumerate([local] * THREADS
                                         + [sharded] * THREADS)]
        switch = sys.getswitchinterval()
        sys.setswitchinterval(SWITCH_S)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
        finally:
            sys.setswitchinterval(switch)
        assert not any(t.is_alive() for t in threads)
        assert not errors, repr(errors[0])
        assert not misses, misses[:3]
        if evict:
            # every access trims to the budget, so the cache never
            # holds more than it (let alone budget + one row group)
            assert max(resident) <= EVICT_BUDGET
            # and the run re-read row groups it had evicted: more
            # loads than the union index has row groups
            n_rgs = sum(pq.ParquetFile(f).num_row_groups
                        for sub in ("postings", "terms")
                        for f in Path(du, sub).rglob("*.parquet"))
            loads = local.node_metrics()["rowgroup_misses"] - loads0
            assert loads > n_rgs, (loads, n_rgs)
    finally:
        sharded.close()
        ref_sharded.close()
