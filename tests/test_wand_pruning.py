"""Proof that block-max WAND actually prunes: kernel-level unit tests
(pure pandas, no Spark) counting the blocks the scorer decodes on
data engineered so most blocks cannot beat the running top-k.  Each
case runs through both callers of ``codec.score_blocks``: the Spark
tier's mapInPandas kernel and the node tier's ``LocalSearcher.topk``."""

import numpy as np
import pandas as pd

from katta_spark.index import codec
from katta_spark.index import search as S
from katta_spark.index.serve import LocalSearcher


def _block_row(term, block_id, doc_offsets, tfs, dls, block_range):
    doc_ids = np.array(sorted(doc_offsets), dtype=np.int64) + block_id * block_range
    g, t, d = codec.encode_block(
        doc_ids, np.array(tfs), np.array(dls), block_id, block_range
    )
    return {
        "term": term, "block_id": block_id, "df": 10,
        "max_tf": int(max(tfs)), "min_dl": int(min(dls)),
        "doc_gaps": g, "tfs": t, "dls": d,
    }


def _count_decodes(monkeypatch) -> list[int]:
    """Block ids of the posting rows the scorer decodes, one entry per
    block per decode call, in decode order."""
    decoded = []
    orig = codec.score_postings

    def counting(rows, idx, *args):
        decoded.extend(int(x) for x in np.unique(rows["block_id"][idx]))
        return orig(rows, idx, *args)

    monkeypatch.setattr(codec, "score_postings", counting)
    return decoded


def _spark_wand(pdf, n_docs, avgdl, k1, b, k, n_terms, mode, block_range):
    kern = S.make_wand_kernel(
        n_docs, avgdl=avgdl, k1=k1, b=b, k=k, n_terms=n_terms,
        mode=mode, block_range=block_range,
    )
    return pd.concat(list(kern(iter([pdf]))))


def _node_wand(pdf, n_docs, avgdl, k1, b, k, n_terms, mode, block_range):
    """The same rows through LocalSearcher.topk: a handle whose posting
    read returns ``pdf`` (already (block_id, term) ordered)."""
    srv = object.__new__(LocalSearcher)
    srv.stats = {"n_docs": n_docs, "avgdl": avgdl, "k1": k1, "b": b,
                 "block_range": block_range}
    srv._qcache, srv._tomb = None, None
    rows = {c: pdf[c].to_numpy() for c in pdf.columns}
    srv._blocks = lambda terms: rows
    terms = sorted(set(pdf["term"]))
    assert len(terms) == n_terms
    return pd.DataFrame(srv.topk(terms, k=k, mode=mode),
                        columns=["doc_id", "score"])


def _weak_blocks(wand, monkeypatch):
    br = 64
    rows = [_block_row("t", 0, range(10), [50] * 10, [10] * 10, br)]
    for b in range(1, 100):
        rows.append(_block_row("t", b, range(10), [1] * 10, [1000] * 10, br))
    pdf = pd.DataFrame(rows)

    decoded = _count_decodes(monkeypatch)
    out = wand(pdf, 1000.0, avgdl=100.0, k1=1.2, b=0.75, k=5, n_terms=1,
               mode="or", block_range=br)
    assert len(out) == 5
    assert set(out["doc_id"]) == set(range(5))  # top-5 from block 0
    assert 0 in decoded
    assert len(decoded) < 5, f"decoded {len(decoded)} of 100 blocks"


def test_wand_skips_weak_blocks(monkeypatch):
    """100 blocks: block 0 holds high-tf postings (top-k lives there),
    the other 99 hold tf=1 postings that can't reach the heap floor.
    The kernel must decode block 0 plus at most a handful before the
    threshold locks in — never all 100."""
    _weak_blocks(_spark_wand, monkeypatch)


def test_node_wand_skips_weak_blocks(monkeypatch):
    _weak_blocks(_node_wand, monkeypatch)


def _and_missing_term(wand, monkeypatch):
    br = 64
    rows = [
        _block_row("a", 0, range(5), [3] * 5, [10] * 5, br),
        _block_row("b", 0, range(5), [3] * 5, [10] * 5, br),
    ]
    for blk in range(1, 50):
        rows.append(_block_row("a", blk, range(5), [3] * 5, [10] * 5, br))
    pdf = pd.DataFrame(rows).sort_values(["block_id", "term"])

    decoded = _count_decodes(monkeypatch)
    out = wand(pdf, 1000.0, avgdl=10.0, k1=1.2, b=0.75, k=10,
               n_terms=2, mode="and", block_range=br)
    assert decoded == [0]  # only the block where both terms exist
    assert set(out["doc_id"]) == set(range(5))


def test_wand_and_mode_skips_missing_term_blocks(monkeypatch):
    """AND over two terms: doc ranges where one term is absent are
    skipped without decoding (conjunction pruning)."""
    _and_missing_term(_spark_wand, monkeypatch)


def test_node_wand_and_mode_skips_missing_term_blocks(monkeypatch):
    _and_missing_term(_node_wand, monkeypatch)


def _tied_bound(wand):
    br = 64
    rows = [
        _block_row("t", 0, range(3), [5, 5, 5], [10, 10, 10], br),
        _block_row("t", 1, range(3), [5, 5, 5], [10, 10, 10], br),
    ]
    pdf = pd.DataFrame(rows)
    out = wand(pdf, 1000.0, avgdl=10.0, k1=1.2, b=0.75, k=6, n_terms=1,
               mode="or", block_range=br)
    # all six identical-scored docs survive, ordered by doc_id
    assert list(out["doc_id"]) == [0, 1, 2, 64, 65, 66]


def test_wand_never_skips_on_tied_upper_bound():
    """Safety: a later block whose upper bound EQUALS the heap floor
    is still decoded (a tied doc with smaller... larger doc_id can't
    win, but an equal-scored doc must not be silently dropped when
    the heap isn't genuinely full of better docs)."""
    _tied_bound(_spark_wand)


def test_node_wand_never_skips_on_tied_upper_bound():
    _tied_bound(_node_wand)
