"""Node-tier block-max WAND under tombstones: the deleted docs are the
oracle's own top hits, so a scorer that let them into its heap would
either return them or prune live docs against their scores.  The
node's top-k must equal the oracle ranking over the live docs (stats
unchanged before expunge, Lucene's deleted-docs semantics)."""

import pytest

from katta_spark.corpus import synthetic_corpus, with_ingest_columns
from katta_spark.index import build_index, delete_docs
from katta_spark.index.serve import LocalSearcher

from tests.oracle import PyBM25

QUERIES = [
    (["parse", "request"], "or", None),
    (["parse", "request"], "and", None),
    (["import", "parse", "request"], "or", 2),
]


def _oracle_rank(oracle: PyBM25, terms, mode, min_match):
    """Every doc hitting enough distinct terms, score desc / doc_id asc."""
    ts = sorted(set(terms))
    need = len(ts) if mode == "and" else (min_match or 1)
    hits = [d for d, c in oracle.tf.items()
            if sum(t in c for t in ts) >= need]
    return sorted(((d, oracle.score(d, ts)) for d in hits),
                  key=lambda x: (-x[1], x[0]))


@pytest.fixture(scope="module")
def tomb_node(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tomb_wand") / "idx")
    corpus = with_ingest_columns(synthetic_corpus(spark, 600))
    build_index(spark, corpus, d, n_groups=1, block_range=64)
    pdf = corpus.select("doc_id", "content").toPandas()
    oracle = PyBM25(
        [(int(r.doc_id), r.content) for r in pdf.itertuples(index=False)]
    )
    dead = set()
    for terms, mode, mm in QUERIES:
        dead.update(doc for doc, _ in _oracle_rank(oracle, terms, mode, mm)[:4])
    delete_docs(spark, d, sorted(dead))
    srv = LocalSearcher(d, qcache_size=0)
    assert srv.node_metrics()["tombstones"] == len(dead)
    return srv, oracle, dead


@pytest.mark.parametrize("offset", [0, 3])
@pytest.mark.parametrize("k", [1, 5])
@pytest.mark.parametrize("terms,mode,min_match", QUERIES)
def test_node_wand_under_tombstones(tomb_node, terms, mode, min_match, k,
                                    offset):
    srv, oracle, dead = tomb_node
    live = [x for x in _oracle_rank(oracle, terms, mode, min_match)
            if x[0] not in dead]
    want = live[offset:offset + k]
    got = srv.topk(terms, k=k, mode=mode, min_match=min_match,
                   offset=offset)
    assert [doc for doc, _ in got] == [doc for doc, _ in want]
    for (_, s), (_, w) in zip(got, want):
        assert s == pytest.approx(w, abs=1e-9)
