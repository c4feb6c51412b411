import os
import shutil
import signal
import sys
import time
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from katta_spark.corpus import synthetic_corpus, with_ingest_columns  # noqa: E402
from katta_spark.index import build_index, PhysicalIndex  # noqa: E402
from katta_spark.index import serve  # noqa: E402
from katta_spark.index.serve import _shard_call as _real_shard_call  # noqa: E402
from katta_spark.session import get_spark  # noqa: E402

N_DOCS = 2000
BLOCK_RANGE = 256
N_GROUPS = 3


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="katta_tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(spark):
    return synthetic_corpus(spark, N_DOCS)


@pytest.fixture(scope="session")
def docs(spark, corpus):
    """Corpus + engine-derived doc_id / content_sha256, materialized."""
    d = with_ingest_columns(corpus)
    d.cache().count()
    return d


@pytest.fixture(scope="session")
def pandas_docs(docs):
    return docs.select("doc_id", "repo", "path", "commit", "lang",
                       "content", "content_sha256").toPandas()


@pytest.fixture(scope="session")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("katta") / "idx")
    shutil.rmtree(d, ignore_errors=True)
    build_index(spark, corpus, d, n_groups=N_GROUPS, block_range=BLOCK_RANGE)
    return d


@pytest.fixture(scope="session")
def pindex(spark, index_dir):
    return PhysicalIndex(spark, index_dir)


class ShardFault:
    """A slow, failing or dying shard for scatter tests.  Stands in
    for ``serve._shard_call``: a call that reaches a shard whose dir
    contains ``shard`` (and names ``method``, when given) first
    SIGKILLs its worker once per ``kill_once`` sentinel file, sleeps
    ``sleep`` seconds, or raises ``ValueError(error)``; every call
    then dispatches for real (``shard=None``: a pure pass-through).
    A module-level class, so instances pickle into the forked scatter
    workers."""

    def __init__(self, shard: str | None = "shard_b", sleep: float = 0.0,
                 error: str | None = None, kill_once: str | None = None,
                 method: str | None = None):
        self.shard, self.sleep, self.error = shard, sleep, error
        self.kill_once, self.method = kill_once, method

    def __call__(self, payload):
        d, _off, method, _args, _view = payload
        if (self.shard is not None and self.shard in d
                and self.method in (None, method)):
            if self.kill_once and not os.path.exists(self.kill_once):
                with open(self.kill_once, "w") as f:
                    f.write("1")
                os.kill(os.getpid(), signal.SIGKILL)
            time.sleep(self.sleep)
            if self.error:
                raise ValueError(self.error)
        return _real_shard_call(payload)


@pytest.fixture
def shard_fault(monkeypatch):
    """``shard_fault(**kw)`` routes every scatter call through a
    ``ShardFault(**kw)``; ``shard_fault()`` clears the fault with a
    pass-through ShardFault rather than the real function: a pool
    worker forked while a fault was installed keeps it as its module
    global, and the real function pickles by that name."""
    def install(**kw):
        monkeypatch.setattr(serve, "_shard_call",
                            ShardFault(**kw) if kw else ShardFault(None))
    return install
