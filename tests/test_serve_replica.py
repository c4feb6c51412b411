"""Replica-aware scatter failover — the round-5 availability surface.

Reference contract: indexes carry a replication level
(katta-core/.../protocol/metadata/IndexMetaData.java; replica
distribution master/DefaultDistributionPolicy.java:69-147); a failed
node interaction re-dispatches the shard's work to a DIFFERENT
replica node before declaring the shard failed
(katta-client/.../client/NodeInteraction.java:141-205), and failed
nodes leave the shard's rotation
(ShuffleNodeSelectionPolicy.java:25-40).  Here a replica is an
alternate byte-identical index directory; a worker-death, an
unreadable/corrupt copy, or an in-budget timeout fails over to it,
and a replica that answers is promoted for subsequent queries."""

import shutil

import pytest
from pyspark.sql import functions as F

from katta_spark.corpus import synthetic_corpus, with_ingest_columns
from katta_spark.index import build_index
from katta_spark.index.serve import (
    LocalSearcher,
    ShardedSearcher,
    _is_infra_failure,
)

BR = 256


@pytest.fixture()
def shard_pair(spark, tmp_path):
    """Two shards + a byte-identical replica copy of shard_b.

    Function-scoped: the tests destroy shard dirs."""
    full = with_ingest_columns(synthetic_corpus(spark, 600))
    a = full.filter(F.col("doc_id") < 256)
    b = full.filter(F.col("doc_id") >= 256).withColumn(
        "doc_id", F.col("doc_id") - 256
    )
    da, db = str(tmp_path / "shard_a"), str(tmp_path / "shard_b")
    build_index(spark, a, da, n_groups=2, block_range=BR)
    build_index(spark, b, db, n_groups=2, block_range=BR)
    rb = str(tmp_path / "shard_b_replica")
    shutil.copytree(db, rb)
    return da, db, rb


def test_infra_failure_classifier():
    import pyarrow as pa

    from katta_spark.index.serve import QueryTimeout

    assert _is_infra_failure(FileNotFoundError("gone"))
    assert _is_infra_failure(OSError("io"))
    assert _is_infra_failure(pa.ArrowInvalid("corrupt"))
    # deterministic / timeout classes are NOT replica-eligible
    assert not _is_infra_failure(ValueError("bad query"))
    assert not _is_infra_failure(KeyError("field"))
    assert not _is_infra_failure(TimeoutError("budget"))
    assert not _is_infra_failure(QueryTimeout("kernel"))


def test_failover_on_removed_shard_rank_identical(shard_pair):
    """Remove a shard dir MID-SESSION: every query surface keeps
    answering, rank-identical, through the replica — shards_failed
    stays empty and the failover is counted."""
    da, db, rb = shard_pair
    sh = ShardedSearcher([da, db], replicas={db: [rb]}, scache_size=0)
    try:
        want_topk = sh.topk(["import", "table"], k=8)
        want_count = sh.count(["import"])
        want_q = sh.query("(import OR table) AND scan", k=5)
        shutil.rmtree(db)
        assert sh.count(["import"]) == want_count
        assert sh.shards_failed == []
        m = sh.metrics()
        assert m["n_replica_failovers"] >= 1
        assert m["n_shard_failures"] == 0
        # promotion: the replica now serves directly
        assert sh.shards[1].index_dir == rb
        fo_after_first = sh.metrics()["n_replica_failovers"]
        assert sh.topk(["import", "table"], k=8) == want_topk
        assert sh.query("(import OR table) AND scan", k=5) == want_q
        # promoted: no further failovers were needed
        assert sh.metrics()["n_replica_failovers"] == fo_after_first
        env = sh.search(["import"], k=3)
        assert env["complete"] is True and env["shards_failed"] == []
    finally:
        sh.close()


def test_failover_on_corrupt_posting_file(shard_pair):
    """A corrupt (truncated) parquet in one copy is an infra failure:
    the scatter retries the replica, results stay exact."""
    da, db, rb = shard_pair
    sh = ShardedSearcher([da, db], replicas={db: [rb]}, scache_size=0)
    try:
        want = sh.topk(["import", "table"], k=8)
        # truncate every postings parquet part in shard_b
        from pathlib import Path

        parts = list(Path(db).glob("postings/**/*.parquet"))
        assert parts
        for p in parts:
            p.write_bytes(p.read_bytes()[: 64])
        sh.refresh()  # drop worker + parent caches of the old files
        assert sh.topk(["import", "table"], k=8) == want
        assert sh.shards_failed == []
        assert sh.metrics()["n_replica_failovers"] >= 1
    finally:
        sh.close()


def test_exhausted_replicas_fail(shard_pair):
    """Both copies gone: the shard fails exactly as without replicas
    — partial merge under complete=False, raise under complete=True."""
    da, db, rb = shard_pair
    sh = ShardedSearcher([da, db], replicas={db: [rb]},
                         complete=False, scache_size=0)
    try:
        only_a = LocalSearcher(da).count(["import"])
        shutil.rmtree(db)
        shutil.rmtree(rb)
        assert sh.count(["import"]) == only_a
        assert sh.shards_failed == [db]
        assert sh.metrics()["n_shard_failures"] == 1
    finally:
        sh.close()
    # with every copy gone, even OPENING the sharded handle raises
    # (robust open walks the rotation and exhausts it)
    with pytest.raises(OSError):
        ShardedSearcher([da, db], replicas={db: [rb]}, complete=True)


def test_inline_single_shard_failover(shard_pair):
    """The single-payload inline path (no pool) is replica-aware
    too."""
    da, db, rb = shard_pair
    sh = ShardedSearcher([db], replicas={db: [rb]}, scache_size=0)
    try:
        want = sh.count(["import"])
        shutil.rmtree(db)
        assert sh.count(["import"]) == want
        assert sh.metrics()["n_replica_failovers"] >= 1
        assert sh.shards[0].index_dir == rb
    finally:
        sh.close()


def test_deterministic_error_never_fails_over(shard_pair, shard_fault):
    """A bad-query (ValueError) call failure must NOT consume a
    replica: it raises as before with the rotation intact."""
    da, db, rb = shard_pair

    sh = ShardedSearcher([da, db], replicas={db: [rb]}, complete=True)
    try:
        sh.count(["import"])  # build pool
        shard_fault(error="no such field: bogus")
        with pytest.raises(ValueError, match="bogus"):
            sh._scatter(sh._calls("count_raw", ["import"], "or"))
        assert sh.metrics()["n_replica_failovers"] == 0
        assert sh.replicas == {db: [rb]}
    finally:
        sh.close()


def test_parent_side_reads_failover(shard_pair):
    """suggest/fetch/the df exchange read shard files from the CLIENT
    process — they fail over and promote like the scatter path."""
    da, db, rb = shard_pair
    sh = ShardedSearcher([da, db], replicas={db: [rb]}, scache_size=0)
    try:
        want_sug = sh.suggest("im", n=5)
        hit = sh.topk(["import"], k=1)[0][0]
        want_fetch = sh.fetch([hit], ["path"]).to_dict("records")
        shutil.rmtree(db)
        assert sh.suggest("im", n=5) == want_sug
        assert sh.fetch([hit], ["path"]).to_dict("records") == want_fetch
        assert sh.metrics()["n_replica_failovers"] >= 1
    finally:
        sh.close()


def test_refresh_preserves_replicas_and_promotion(shard_pair):
    da, db, rb = shard_pair
    sh = ShardedSearcher([da, db], replicas={db: [rb]}, scache_size=0)
    try:
        want = sh.count(["import"])
        shutil.rmtree(db)
        assert sh.count(["import"]) == want
        fo = sh.metrics()["n_replica_failovers"]
        sh.refresh()
        # the promoted replica survives the reopen; counters kept
        assert sh.shards[1].index_dir == rb
        assert sh.metrics()["n_replica_failovers"] == fo
        assert sh.count(["import"]) == want
    finally:
        sh.close()
