"""Query engine over the physical index: block-max WAND top-k,
exhaustive scoring, count / group / facet / range-facet / sorted
pagination / fetch — the full query surface of the reference served
from compressed posting blocks.

Physical plan shape for top-k (the Spark re-expression of Katta's
scatter/per-shard-search/merge, LuceneServer.java:802-839 +
SearchCall:1509-1552 + Hits.sortCollection Hits.java:201-210):

1. postings scan filtered ``term IN qterms`` — pushed to parquet, so
   term-sorted files are pruned by footer min/max (only the
   files/row-groups containing the query's terms are read; the
   analogue of Katta touching only the shards of the index, improved:
   Katta scans ALL shards per query, Client.java:672-703).
2. one shuffle on ``block_id`` — because blocks are doc-range
   aligned, this co-locates every query term's postings for the same
   doc range, so per-doc scores are computed EXACTLY within one task
   (global df/idf comes from the broadcast term catalog, restoring
   LuceneServer.java:76-82).
3. per-partition block-max WAND kernel (Arrow-batched mapInPandas
   around codec.score_blocks, the scorer the node tier runs too):
   visit doc-range groups in waves, highest upper bound
   sum(idf_t * tfnorm(max_tf_t, min_dl_t)) first, and stop once the
   bounds left can't beat the current k-th score — Katta/Lucene's
   TopScoreDocCollector with BMW pruning on top.
4. driver-side TakeOrderedAndProject merge with the exact reference
   tie-break: score desc, doc_id asc (Hit.compareTo, Hit.java:126-139).
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from katta_spark.index import codec

SCORED_SCHEMA = "doc_id long, score double, nt int"

Filters = dict[str, object] | None


@dataclass
class SearchResponse:
    """Result envelope parity with the reference's QueryResponse
    (katta-core/.../lib/lucene/QueryResponse.java:27-192): the hit
    slice plus numFound / maxScore / qTime."""

    hits: DataFrame
    num_found: int
    max_score: float | None
    qtime_ms: int


def _iter_block_groups(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Yield rows grouped by block_id, preserving sorted partition
    order across Arrow batch boundaries."""
    pending: pd.DataFrame | None = None
    for pdf in batches:
        if pdf.empty:
            continue
        if pending is not None:
            pdf = pd.concat([pending, pdf], ignore_index=True)
        ids = pdf["block_id"].to_numpy()
        bounds = np.nonzero(ids[1:] != ids[:-1])[0] + 1
        start = 0
        for b in bounds:
            yield pdf.iloc[start:b]
            start = b
        pending = pdf.iloc[start:]
    if pending is not None and len(pending):
        yield pending


def _partition_rows(batches: Iterator[pd.DataFrame]) -> dict[str, np.ndarray]:
    """One partition's posting rows as numpy columns, in their
    (block_id, term) order — the input of :func:`codec.score_blocks`."""
    frames = [p for p in batches if len(p)]
    if not frames:
        return {"block_id": np.empty(0, np.int64),
                "term": np.empty(0, object)}
    pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 \
        else frames[0]
    return {c: pdf[c].to_numpy() for c in pdf.columns}


def make_wand_kernel(n_docs: float, avgdl: float, k1: float, b: float,
                     k: int, n_terms: int, mode: str, block_range: int,
                     min_match: int | None = None,
                     after: tuple[float, int] | None = None):
    """Per-partition block-max WAND top-k kernel for mapInPandas — a
    wrapper of :func:`codec.score_blocks` (bound-ordered waves, skip
    rule, keep-mask and merge are documented there).

    ``min_match`` (Solr dismax mm): a doc must match at least that
    many distinct query terms; "and" is the special case
    min_match == n_terms.  A block-range group with fewer distinct
    terms present is skipped outright — the same structural skip as
    AND, generalized.

    ``after`` = (score, doc_id) is a search-after cursor (Lucene
    IndexSearcher.searchAfter): only hits strictly after the cursor
    in (score desc, doc_id asc) order enter the heap, so deep
    pagination keeps the heap at k instead of offset+k and never
    re-sorts the skipped prefix.  The cursor does NOT weaken block-max
    pruning — the skip threshold still comes from the page's own kth
    score, which is sound because pruned blocks cannot contribute any
    hit above it."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, scores = codec.score_blocks(
            _partition_rows(batches), n_docs, avgdl, k1, b, block_range,
            k=k, n_terms=n_terms, mode=mode, min_match=min_match,
            after=after)
        yield pd.DataFrame(
            {"doc_id": ids, "score": scores,
             "nt": np.full(ids.size, n_terms, dtype=np.int32)}
        )

    return kernel


def _window_match(pos_lists: list[np.ndarray], slop: int) -> bool:
    """Ordered-within-window proximity: positions p_1 < ... < p_m,
    one from each list in order, with span p_m - p_1 <= (m-1)+slop.
    Greedy smallest-next chaining is span-optimal per start."""
    limit = len(pos_lists) - 1 + slop
    for p1 in pos_lists[0]:
        prev = p1
        ok = True
        for pl in pos_lists[1:]:
            k = int(np.searchsorted(pl, prev + 1))
            if k == len(pl):
                ok = False
                break
            prev = pl[k]
        if ok and prev - p1 <= limit:
            return True
    return False


def _unordered_window_match(pos_lists: list[np.ndarray], slop: int) -> bool:
    """Unordered proximity (Lucene SpanNear inOrder=false): one
    position per list, any order, span max-min <= (m-1)+slop.
    Classic minimum-window pointer sweep — O(total positions)."""
    limit = len(pos_lists) - 1 + slop
    idx = [0] * len(pos_lists)
    while True:
        cur = [int(pl[i]) for pl, i in zip(pos_lists, idx)]
        if max(cur) - min(cur) <= limit:
            return True
        lo = min(range(len(cur)), key=lambda j: cur[j])
        idx[lo] += 1
        if idx[lo] >= len(pos_lists[lo]):
            return False


def _decode_positional_group(g: pd.DataFrame, bid: int,
                             block_range: int) -> dict[str, tuple]:
    """Decode one doc-range group's positional postings into
    ``term -> (doc_ids, tfs, dls, position_lists, df)``.  Boundary
    blocks — a (term, block_id) spanning commits (see
    index/compact.py) — are merged doc-id-sorted."""
    acc: dict[str, list] = {}
    for row in g.itertuples(index=False):
        ids, tfs, dls = codec.decode_block(
            row.doc_gaps, row.tfs, row.dls, bid, block_range
        )
        lens, flat = codec.decode_positions(row.pos_lens, row.pos_deltas)
        poss = np.split(flat, np.cumsum(lens)[:-1])
        acc.setdefault(row.term, []).append(
            (ids, tfs, dls, poss, float(row.df))
        )
    per_term: dict[str, tuple] = {}
    for t, runs in acc.items():
        if len(runs) == 1:
            per_term[t] = runs[0]
            continue
        ids = np.concatenate([r[0] for r in runs])
        order = np.argsort(ids, kind="mergesort")
        per_term[t] = (
            ids[order],
            np.concatenate([r[1] for r in runs])[order],
            np.concatenate([r[2] for r in runs])[order],
            [[p for r in runs for p in r[3]][i] for i in order],
            runs[0][4],
        )
    return per_term


def _doc_positions(per_term: dict[str, tuple], t: str,
                   d: int) -> np.ndarray | None:
    """Position list of term ``t`` in doc ``d``, or None if absent."""
    entry = per_term.get(t)
    if entry is None:
        return None
    ids_t = entry[0]
    j = int(np.searchsorted(ids_t, d))
    if j < ids_t.size and ids_t[j] == d:
        return entry[3][j]
    return None


def make_phrase_kernel(phrase: list[str], n_docs: float, avgdl: float,
                       k1: float, b: float, block_range: int,
                       slop: int = 0, ordered: bool = True):
    """Positional phrase kernel: per doc-range group, decode the
    phrase terms' postings + position lists, verify consecutive
    positions (the Lucene .pos proximity merge: cand = pos(t0);
    cand = intersect(cand+1, pos(t_i)) ...) — or, with ``slop``,
    ordered-within-window proximity — and emit the BM25 sum of
    the constituent terms for every verified doc.  Runs entirely on
    the pruned postings scan — no docs-table access at all."""
    uterms = sorted(set(phrase))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for g in _iter_block_groups(batches):
            bid = int(g["block_id"].iloc[0])
            per_term = _decode_positional_group(g, bid, block_range)
            if any(t not in per_term for t in uterms):
                continue
            # candidate docs: present in every phrase term's postings
            cand_ids = per_term[uterms[0]][0]
            for t in uterms[1:]:
                cand_ids = np.intersect1d(
                    cand_ids, per_term[t][0], assume_unique=True
                )
            if not cand_ids.size:
                continue
            matched, scores = [], []
            for d in cand_ids:
                if not ordered:
                    plists = []
                    for t in uterms:
                        ids_t, _, _, poss_t, _ = per_term[t]
                        plists.append(
                            poss_t[int(np.searchsorted(ids_t, d))]
                        )
                    if not _unordered_window_match(plists, slop):
                        continue
                elif slop > 0:
                    plists = []
                    for t in phrase:
                        ids_t, _, _, poss_t, _ = per_term[t]
                        plists.append(
                            poss_t[int(np.searchsorted(ids_t, d))]
                        )
                    if not _window_match(plists, slop):
                        continue
                else:
                    ok = True
                    cand = None
                    for t in phrase:
                        ids_t, _, _, poss_t, _ = per_term[t]
                        j = int(np.searchsorted(ids_t, d))
                        p = poss_t[j]
                        cand = p if cand is None else np.intersect1d(
                            cand + 1, p, assume_unique=True
                        )
                        if not cand.size:
                            ok = False
                            break
                    if not ok:
                        continue
                s = 0.0
                for t in uterms:  # sorted order: rank-identity
                    ids_t, tfs_t, dls_t, _, df_t = per_term[t]
                    j = int(np.searchsorted(ids_t, d))
                    s += codec.bm25_idf(df_t, n_docs) * codec.bm25_tfnorm(
                        tfs_t[j : j + 1], dls_t[j : j + 1], avgdl, k1, b
                    )[0]
                matched.append(d)
                scores.append(s)
            if matched:
                yield pd.DataFrame(
                    {"doc_id": np.asarray(matched, dtype=np.int64),
                     "score": np.asarray(scores, dtype=np.float64),
                     "nt": np.full(len(matched), len(uterms), dtype=np.int32)}
                )
        yield pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"),
             "score": pd.Series(dtype="float64"),
             "nt": pd.Series(dtype="int32")}
        )

    return kernel


def make_multi_phrase_kernel(slots: list[list[str]], n_docs: float,
                             avgdl: float, k1: float, b: float,
                             block_range: int):
    """Lucene MultiPhraseQuery kernel: position slot ``i`` of the
    phrase accepts ANY of ``slots[i]`` (synonym phrases — the shape
    query-time synonym expansion produces;
    org.apache.lucene.search.MultiPhraseQuery).  Verification chains
    ``cand = intersect(cand + 1, union(slot term positions))`` — the
    .pos proximity merge of :func:`make_phrase_kernel` with a
    positional UNION per slot.  Score = BM25 sum over every query
    alternative present in the doc (terms absent from the doc
    contribute 0), which mirrors 1:1 to ``sum WHERE term IN
    all_terms`` in the SQL oracle.  Runs entirely on the pruned
    positional postings scan — no docs-table access."""
    all_terms = sorted({t for s in slots for t in s})

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for g in _iter_block_groups(batches):
            bid = int(g["block_id"].iloc[0])
            per_term = _decode_positional_group(g, bid, block_range)
            # candidate docs: >=1 alternative of EVERY slot present
            cand_ids = None
            dead = False
            for s in slots:
                present = [per_term[t][0] for t in s if t in per_term]
                if not present:
                    dead = True
                    break
                ids = present[0]
                for arr in present[1:]:
                    ids = np.union1d(ids, arr)
                cand_ids = ids if cand_ids is None else np.intersect1d(
                    cand_ids, ids, assume_unique=True
                )
                if not cand_ids.size:
                    dead = True
                    break
            if dead or cand_ids is None or not cand_ids.size:
                continue
            matched, scores = [], []
            for d in cand_ids:
                candp = None
                ok = True
                for s in slots:
                    ps = [
                        p
                        for p in (_doc_positions(per_term, t, d) for t in s)
                        if p is not None
                    ]
                    if not ps:
                        ok = False
                        break
                    pos = ps[0]
                    for extra in ps[1:]:
                        pos = np.union1d(pos, extra)
                    candp = pos if candp is None else np.intersect1d(
                        candp + 1, pos, assume_unique=True
                    )
                    if not candp.size:
                        ok = False
                        break
                if not ok:
                    continue
                sc = 0.0
                for t in all_terms:  # sorted order: rank-identity
                    entry = per_term.get(t)
                    if entry is None:
                        continue
                    ids_t, tfs_t, dls_t, _, df_t = entry
                    j = int(np.searchsorted(ids_t, d))
                    if j >= ids_t.size or ids_t[j] != d:
                        continue
                    sc += codec.bm25_idf(df_t, n_docs) * codec.bm25_tfnorm(
                        tfs_t[j : j + 1], dls_t[j : j + 1], avgdl, k1, b
                    )[0]
                matched.append(d)
                scores.append(sc)
            if matched:
                yield pd.DataFrame(
                    {"doc_id": np.asarray(matched, dtype=np.int64),
                     "score": np.asarray(scores, dtype=np.float64),
                     "nt": np.full(len(matched), len(slots), dtype=np.int32)}
                )
        yield pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"),
             "score": pd.Series(dtype="float64"),
             "nt": pd.Series(dtype="int32")}
        )

    return kernel


def make_span_first_kernel(term: str, end: int, n_docs: float,
                           avgdl: float, k1: float, b: float,
                           block_range: int):
    """SpanFirstQuery kernel (Lucene SpanFirstQuery(term, end)): docs
    whose FIRST occurrence of ``term`` is before analyzed position
    ``end`` (0-based, i.e. within the first ``end`` tokens), scored
    single-term BM25.  Runs on the pruned positional postings scan —
    position lists are delta-encoded ascending, so the first position
    of each posting is one gather, no per-position loop."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for g in _iter_block_groups(batches):
            bid = int(g["block_id"].iloc[0])
            for row in g.itertuples(index=False):
                ids, tfs, dls = codec.decode_block(
                    row.doc_gaps, row.tfs, row.dls, bid, block_range
                )
                lens, flat = codec.decode_positions(
                    row.pos_lens, row.pos_deltas
                )
                if not len(lens):
                    continue
                starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                firsts = flat[starts]
                mask = firsts < end
                if not mask.any():
                    continue
                s = codec.bm25_idf(float(row.df), n_docs) * codec.bm25_tfnorm(
                    tfs[mask], dls[mask], avgdl, k1, b
                )
                yield pd.DataFrame(
                    {"doc_id": ids[mask].astype(np.int64),
                     "score": s.astype(np.float64),
                     "nt": np.ones(int(mask.sum()), dtype=np.int32)}
                )
        yield pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"),
             "score": pd.Series(dtype="float64"),
             "nt": pd.Series(dtype="int32")}
        )

    return kernel


def make_span_within_kernel(little: str, big1: str, big2: str,
                            width: int, n_docs: float, avgdl: float,
                            k1: float, b: float, block_range: int):
    """SpanWithinQuery kernel (Lucene SpanWithinQuery(big, little)
    with big = SpanNear([big1, big2], ordered, width)): a position
    ``q`` of ``little`` is CONTAINED when some pair (p1, p2) with
    ``toks[p1]=big1``, ``toks[p2]=big2``, ``p1 <= q <= p2`` and
    ``p2 - p1 <= width`` covers it (any-pair containment — a
    documented, SQL-mirrorable simplification of Lucene's
    minimal-interval enumeration; any-pair is a superset of minimal
    spans).  Doc score = single-term BM25 on ``little`` with tf =
    contained-position count.

    Vectorized containment: for each q only the LARGEST p1 <= q
    needs checking (its right window is widest and its left bound is
    the most permissive among candidates), so the test is two
    searchsorted passes — no per-position Python loop."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for g in _iter_block_groups(batches):
            bid = int(g["block_id"].iloc[0])
            acc: dict[str, list] = {}
            for row in g.itertuples(index=False):
                ids, tfs, dls = codec.decode_block(
                    row.doc_gaps, row.tfs, row.dls, bid, block_range
                )
                lens, flat = codec.decode_positions(
                    row.pos_lens, row.pos_deltas
                )
                poss = np.split(flat, np.cumsum(lens)[:-1])
                acc.setdefault(row.term, []).append(
                    (ids, dls, poss, float(row.df))
                )
            if little not in acc or big1 not in acc or big2 not in acc:
                continue
            per: dict[str, tuple] = {}
            for t, runs in acc.items():
                if len(runs) == 1:
                    per[t] = runs[0]
                    continue
                ids = np.concatenate([r[0] for r in runs])
                order = np.argsort(ids, kind="mergesort")
                allp = [p for r in runs for p in r[2]]
                per[t] = (
                    ids[order],
                    np.concatenate([r[1] for r in runs])[order],
                    [allp[i] for i in order],
                    runs[0][3],
                )
            lit_ids, lit_dls, lit_pos, lit_df = per[little]
            b1_ids, _, b1_pos, _ = per[big1]
            b2_ids, _, b2_pos, _ = per[big2]
            matched, survs, dlout = [], [], []
            for j, d in enumerate(lit_ids):
                j1 = int(np.searchsorted(b1_ids, d))
                j2 = int(np.searchsorted(b2_ids, d))
                if (
                    j1 >= len(b1_ids) or b1_ids[j1] != d
                    or j2 >= len(b2_ids) or b2_ids[j2] != d
                ):
                    continue
                q = lit_pos[j]
                p1s, p2s = b1_pos[j1], b2_pos[j2]
                # largest p1 <= q per q
                i1 = np.searchsorted(p1s, q, side="right") - 1
                ok = i1 >= 0
                p1 = p1s[np.clip(i1, 0, None)]
                ok &= p1 >= q - width
                # some p2 in [q, p1 + width]
                lo = np.searchsorted(p2s, q, side="left")
                has_p2 = lo < len(p2s)
                p2v = p2s[np.clip(lo, None, len(p2s) - 1)]
                ok &= has_p2 & (p2v <= p1 + width)
                n_surv = int(ok.sum())
                if n_surv:
                    matched.append(int(d))
                    survs.append(n_surv)
                    dlout.append(lit_dls[j])
            if matched:
                s = codec.bm25_idf(lit_df, n_docs) * codec.bm25_tfnorm(
                    np.asarray(survs, dtype=np.float64),
                    np.asarray(dlout, dtype=np.float64), avgdl, k1, b
                )
                yield pd.DataFrame(
                    {"doc_id": np.asarray(matched, dtype=np.int64),
                     "score": s.astype(np.float64),
                     "nt": np.ones(len(matched), dtype=np.int32)}
                )
        yield pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"),
             "score": pd.Series(dtype="float64"),
             "nt": pd.Series(dtype="int32")}
        )

    return kernel


def make_span_not_kernel(include: str, exclude: str, pre: int, post: int,
                         n_docs: float, avgdl: float, k1: float, b: float,
                         block_range: int):
    """SpanNotQuery kernel (Lucene SpanNotQuery(include, exclude,
    pre, post)): positions ``p`` of ``include`` survive unless some
    position ``q`` of ``exclude`` falls in ``[p-pre, p+post]``.  A doc
    matches when any position survives; its score is single-term BM25
    with tf replaced by the SURVIVING-span count — Lucene's span
    scoring, where freq is the number of matching spans, with idf/df
    taken from the included term (SpanWeight builds its scorer from
    the include term's stats).  Runs on the pruned positional scan;
    per doc the exclusion test is one vectorized searchsorted over
    the exclude positions, no per-position Python loop."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for g in _iter_block_groups(batches):
            bid = int(g["block_id"].iloc[0])
            acc: dict[str, list] = {}
            for row in g.itertuples(index=False):
                ids, tfs, dls = codec.decode_block(
                    row.doc_gaps, row.tfs, row.dls, bid, block_range
                )
                lens, flat = codec.decode_positions(
                    row.pos_lens, row.pos_deltas
                )
                poss = np.split(flat, np.cumsum(lens)[:-1])
                acc.setdefault(row.term, []).append(
                    (ids, dls, poss, float(row.df))
                )
            if include not in acc:
                continue
            per: dict[str, tuple] = {}
            for t, runs in acc.items():
                if len(runs) == 1:
                    per[t] = runs[0]
                    continue
                ids = np.concatenate([r[0] for r in runs])
                order = np.argsort(ids, kind="mergesort")
                allp = [p for r in runs for p in r[2]]
                per[t] = (
                    ids[order],
                    np.concatenate([r[1] for r in runs])[order],
                    [allp[i] for i in order],
                    runs[0][3],
                )
            inc_ids, inc_dls, inc_pos, inc_df = per[include]
            exc = per.get(exclude)
            matched, survs, dlout = [], [], []
            for j, d in enumerate(inc_ids):
                p = inc_pos[j]
                if exc is not None:
                    je = int(np.searchsorted(exc[0], d))
                    if je < len(exc[0]) and exc[0][je] == d:
                        q = exc[2][je]
                        # survive iff no q in [p-pre, p+post]:
                        # searchsorted window emptiness, vectorized
                        lo = np.searchsorted(q, p - pre, side="left")
                        hi = np.searchsorted(q, p + post, side="right")
                        p = p[lo == hi]
                if p.size:
                    matched.append(int(d))
                    survs.append(p.size)
                    dlout.append(inc_dls[j])
            if matched:
                s = codec.bm25_idf(inc_df, n_docs) * codec.bm25_tfnorm(
                    np.asarray(survs, dtype=np.float64),
                    np.asarray(dlout, dtype=np.float64), avgdl, k1, b
                )
                yield pd.DataFrame(
                    {"doc_id": np.asarray(matched, dtype=np.int64),
                     "score": s.astype(np.float64),
                     "nt": np.ones(len(matched), dtype=np.int32)}
                )
        yield pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"),
             "score": pd.Series(dtype="float64"),
             "nt": pd.Series(dtype="int32")}
        )

    return kernel


def make_multi_kernel(qmap: list[tuple[str, list[str], str]],
                      n_docs: float, avgdl: float, k1: float, b: float,
                      k: int, block_range: int):
    """Batched top-k kernel: MANY queries against ONE pruned postings
    scan.  ``qmap`` = (qid, sorted unique terms, mode) per query; each
    query runs :func:`codec.score_blocks` over its own terms' rows of
    the partition, with its own block-max WAND threshold.  The Spark
    re-expression of Katta's client firing N concurrent searches: one
    job, one scan, one shuffle instead of N."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = _partition_rows(batches)
        frames = []
        for qid, terms, mode in qmap:
            sel = np.isin(rows["term"], terms)
            ids, scores = codec.score_blocks(
                {c: v[sel] for c, v in rows.items()}, n_docs, avgdl, k1, b,
                block_range, k=k, n_terms=len(terms), mode=mode)
            frames.append(pd.DataFrame(
                {"qid": np.full(ids.size, qid, dtype=object),
                 "doc_id": ids, "score": scores}))
        yield pd.concat(frames, ignore_index=True) if frames else \
            pd.DataFrame({"qid": np.empty(0, object),
                          "doc_id": np.empty(0, np.int64),
                          "score": np.empty(0, np.float64)})

    return kernel


def make_clause_kernel(n_docs: float, avgdl: float, k1: float, b: float,
                       block_range: int):
    """Per-partition kernel emitting PER-CLAUSE scores
    (doc_id, term, score) — one output row per posting, no per-doc
    summation (:func:`codec.score_postings`).  Feeds combiners whose
    algebra is not a plain sum (DisjunctionMax: max + tie*(sum-max));
    the combine itself runs as a JVM hash aggregation on the kernel
    output."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = _partition_rows(batches)
        ids, scores, counts = codec.score_postings(
            rows, np.arange(len(rows["block_id"])), n_docs, avgdl, k1, b,
            block_range)
        yield pd.DataFrame({"doc_id": ids,
                            "term": np.repeat(rows["term"], counts),
                            "score": scores})

    return kernel


def strip_stops(stats: dict, qterms: list[str]) -> list[str]:
    """Query-side analyzer-chain symmetry (Lucene's query
    analyzer = index analyzer): stopwords the index dropped at
    build time are removed from queries too — an AND containing a
    stopword degrades to the conjunction of the remaining terms —
    and token filters (ascii_fold / stem_plural) transform query
    terms exactly as they transformed index tokens.  Chain order
    matches the build: fold -> stop -> stem.  (Fold applies
    per-TERM here; accented text inside a raw q string still
    tokenizes ASCII-only — pass pre-folded terms or fold the
    string before parse for that case.)  Module-level so BOTH query
    tiers — PhysicalIndex (cluster) and serve.LocalSearcher (node) —
    rewrite queries identically."""
    filters = stats.get("token_filters") or []
    if "ascii_fold" in filters:
        from katta_spark.tokenizer import py_fold_text

        qterms = [py_fold_text(t).lower() for t in qterms]
    stops = stats.get("stopwords") or []
    if stops:
        s = set(stops)
        qterms = [t for t in qterms if t not in s]
    if "stem_plural" in filters:
        from katta_spark.tokenizer import py_stem_token

        qterms = [py_stem_token(t) for t in qterms]
    return list(qterms)


def make_bool_kernel(terms: list[str], spec: tuple, n_docs: float,
                     avgdl: float, k1: float, b: float,
                     block_range: int):
    """Fused boolean-tree kernel: evaluates an ARBITRARY nested
    must/should/must_not tree (luceval.fuse_spec) inside one pruned
    postings scan — no per-clause joins.  Sound because posting
    blocks are doc-range partitions: a kernel group holds every query
    term's postings for its doc range, so per-doc term membership and
    per-term BM25 are both complete locally (the same property the
    AND mode's in-kernel nt filter and multi_topk's shared kernel
    already rely on).  Scores mirror the join path: a leaf group
    OR-sums its members' BM25 (sorted-term accumulation), a bool sums
    matching scoring clauses, must_not never scores, boosts multiply,
    ConstScore replaces the child's scores with the constant."""
    idx_of = {t: i for i, t in enumerate(terms)}

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for g in _iter_block_groups(batches):
            bid = int(g["block_id"].iloc[0])
            per: dict[int, tuple[np.ndarray, np.ndarray]] = {}
            for row in g.sort_values("term", kind="mergesort").itertuples(
                    index=False):
                ids, tfs, dls = codec.decode_block(
                    row.doc_gaps, row.tfs, row.dls, bid, block_range
                )
                idf = codec.bm25_idf(float(row.df), n_docs)
                sc = idf * codec.bm25_tfnorm(tfs, dls, avgdl, k1, b)
                ti = idx_of[row.term]
                if ti in per:  # same term across commit partitions
                    pi, ps = per[ti]
                    per[ti] = (np.concatenate([pi, ids]),
                               np.concatenate([ps, sc]))
                else:
                    per[ti] = (ids, sc)
            uni = np.unique(np.concatenate([v[0] for v in per.values()]))
            n = uni.size
            dense: dict[int, tuple[np.ndarray, np.ndarray]] = {}
            for ti, (ids, sc) in per.items():
                m = np.zeros(n, dtype=bool)
                v = np.zeros(n, dtype=np.float64)
                pos = np.searchsorted(uni, ids)
                m[pos] = True
                np.add.at(v, pos, sc)
                dense[ti] = (m, v)
            zeros_m = np.zeros(n, dtype=bool)
            zeros_v = np.zeros(n, dtype=np.float64)

            def ev(s: tuple) -> tuple[np.ndarray, np.ndarray]:
                kind = s[0]
                if kind == "leaf":
                    mask, vec = zeros_m, None
                    for ti in sorted(s[1], key=lambda i: terms[i]):
                        tm, tv = dense.get(ti, (zeros_m, zeros_v))
                        mask = mask | tm
                        vec = tv.copy() if vec is None else vec + tv
                    if vec is None:
                        vec = zeros_v.copy()
                    if s[2] != 1.0:
                        vec = vec * s[2]
                    return mask, vec
                if kind == "const":
                    cm, _ = ev(s[1])
                    return cm, np.where(cm, float(s[2]), 0.0)
                _, must, should, nots, boost = s
                mask, vec = None, zeros_v.copy()
                for c in must:
                    cm, cv = ev(c)
                    mask = cm if mask is None else mask & cm
                    vec = vec + cv
                if should:
                    sm = zeros_m
                    for c in should:
                        cm, cv = ev(c)
                        sm = sm | cm
                        vec = vec + cv
                    if mask is None:
                        mask = sm
                if mask is None:  # pure-negative subtree: *:* base,
                    mask = np.ones(n, dtype=bool)  # constant score 1.0
                    vec = np.ones(n, dtype=np.float64)
                for c in nots:
                    cm, _ = ev(c)
                    mask = mask & ~cm
                vec = np.where(mask, vec, 0.0)
                if boost != 1.0:
                    vec = vec * boost
                return mask, vec

            mask, score = ev(spec)
            yield pd.DataFrame(
                {"doc_id": uni[mask], "score": score[mask]}
            )
        yield pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"),
             "score": pd.Series(dtype="float64")}
        )

    return kernel


def make_exhaustive_kernel(n_docs: float, avgdl: float,
                           k1: float, b: float, block_range: int):
    """Decode-and-score-everything kernel: emits (doc_id, score, nt)
    for every matching doc (:func:`codec.score_blocks` without k) —
    feeds count/group/facet/sorted/filtered paths where WAND's
    threshold pruning would be unsound."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, scores, nt = codec.score_blocks(
            _partition_rows(batches), n_docs, avgdl, k1, b, block_range)
        yield pd.DataFrame(
            {"doc_id": ids, "score": scores, "nt": nt.astype(np.int32)}
        )

    return kernel


class PhysicalIndex:
    """Handle over a built index directory (the analogue of a Katta
    client bound to one index: shard discovery + global doc-freq
    catalog + query fan-out).

    Like Katta's searchers, a handle is bound to the index state at
    open time: after a new commit or rebuild rewrites ``terms/``,
    re-open a fresh ``PhysicalIndex`` (Katta's reopen-on-update,
    katta-core/.../lib/lucene/LuceneServer.java:362-369); a stale
    handle may reference replaced files.

    ``commits`` opens a SNAPSHOT: only the named commit partitions are
    read (Iceberg-style time travel over the ``commit=`` layout; the
    analogue of searching the shard set of an older index version,
    Client.java index-version pinning).  Partition pruning keeps the
    scan to those commits' files; the term catalog (global df/cf) is
    re-derived lazily from the pruned posting blocks so IDF reflects
    the snapshot, and n_docs/avgdl come from the manifest's per-group
    (n, sdl) lineage — no Spark job at open.  Snapshot reads see each
    commit exactly as written: tombstones added later do NOT apply."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 commits: list[str] | None = None):
        from katta_spark.index.delete import load_tombstones

        self.spark = spark
        self.index_dir = index_dir
        root = Path(index_dir)
        self.stats = json.loads((root / "stats.json").read_text())
        self.docs = spark.read.option("basePath", str(root / "docs")).parquet(
            str(root / "docs" / "commit=*")
        )
        self.postings = spark.read.option(
            "basePath", str(root / "postings")
        ).parquet(str(root / "postings" / "commit=*" / "group=*"))
        self.terms = spark.read.parquet(str(root / "terms"))
        if commits is not None:
            self._snapshot(commits)
            self.tombstones = None
            return
        # Lucene-style deleted-docs bitset: tombstoned docs vanish
        # from every result immediately; stats/df shift only at
        # expunge (see index.delete)
        self.tombstones = load_tombstones(spark, index_dir)
        if self.tombstones is not None:
            self.docs = self.docs.join(
                F.broadcast(self.tombstones), "doc_id", "left_anti"
            )

    def _snapshot(self, commits: list[str]) -> None:
        """Restrict the handle to ``commits`` (partition-pruned) and
        rebuild snapshot-consistent stats + term catalog."""
        from katta_spark.index.build import load_manifest

        want = sorted(set(commits))
        known = set(self.stats.get("commits") or [])
        missing = [c for c in want if c not in known]
        if missing:
            raise ValueError(
                f"unknown commit(s) {missing}; index has {sorted(known)}"
            )
        cond = F.col("commit").isin(want)  # partition filter -> pruning
        self.docs = self.docs.filter(cond)
        self.postings = self.postings.filter(cond)
        # exact snapshot df/cf: every block row's n counts the docs of
        # that (commit, term, block) slice, so a sum over the pruned
        # blocks is the catalog of exactly these commits.  Lazy: the
        # agg fuses into each query plan (its input is already pruned
        # to the query's terms by _qblocks' pushed filter).
        self.terms = self.postings.groupBy("term").agg(
            F.sum("n").alias("df"), F.sum("cf").alias("cf")
        )
        rows = [m for m in load_manifest(self.index_dir)
                if m.get("status") == "done" and m.get("commit") in set(want)]
        if rows and all("sdl_group" in m for m in rows):
            n = sum(int(m["n_docs_group"]) for m in rows)
            sdl = sum(int(m["sdl_group"]) for m in rows)
        else:  # pre-sdl_group manifest: one column-pruned agg job
            r = self.docs.agg(
                F.count(F.lit(1)), F.coalesce(F.sum("dl"), F.lit(0))
            ).first()
            n, sdl = int(r[0]), int(r[1])
        self.stats = dict(
            self.stats, n_docs=n, avgdl=(sdl / n if n else 0.0), commits=want
        )

    # ---------------------------------------------------------- plumbing

    def _strip_stops(self, qterms: list[str]) -> list[str]:
        return strip_stops(self.stats, qterms)

    def _qblocks(self, qterms: list[str] | Column,
                 positions: bool = False,
                 block_filter: DataFrame | None = None) -> DataFrame:
        """Posting blocks of the query terms, shuffled once on
        block_id (doc-range co-partitioning) and ordered for the
        streaming group iterator.  Column-pruned before the exchange
        (the scan then reads only the 8 needed columns, parquet
        ReadSchema) and hash-partitioned: WAND needs block order only
        WITHIN a partition (partitions keep independent thresholds),
        so the range-partitioner's extra sampling job buys nothing.

        ``qterms`` may be a Column predicate over ``term`` instead of
        a list (wildcard/prefix queries): an ``isin`` or a
        ``startsWith`` both push to the parquet scan as DataFilters,
        so only the matching terms' row groups are read."""
        cond = (
            qterms
            if isinstance(qterms, Column)
            else F.col("term").isin(list(qterms))
        )
        cols = ["term", "block_id", "max_tf", "min_dl",
                "doc_gaps", "tfs", "dls"]
        if positions:
            # position bytes live in their own parquet columns: only
            # phrase verification ever reads them (column pruning)
            cols += ["pos_lens", "pos_deltas"]
        blocks = self.postings.filter(cond).select(*cols)
        # global df attached via broadcast join (the getDocFreqs()
        # exchange as part of the SAME job — no driver collect)
        cat = self.terms.filter(cond).select("term", "df")
        blocks = blocks.join(F.broadcast(cat), "term")
        if block_filter is not None:
            # caller-supplied candidate-block cut (phrase AND
            # pruning) — applied BEFORE the repartition so the
            # kernel's within-partition (block_id, term) order
            # contract is untouched
            blocks = blocks.join(block_filter, "block_id", "left_semi")
        # repartition WITHOUT an explicit count: AQE coalesces the
        # exchange to the actual shuffle bytes (a needle query's few
        # blocks run as a couple of tasks, ~25% off the job floor)
        # and fans out to full parallelism on hot terms at scale —
        # an explicit N would pin both cases to the same width
        return blocks.repartition("block_id").sortWithinPartitions(
            "block_id", "term"
        )

    def scored_docs(self, qterms: list[str], mode: str = "or",
                    min_match: int | None = None) -> DataFrame:
        """(doc_id, score) for every matching doc — exhaustive path.
        A term absent from the index simply matches no block rows, so
        OR degrades gracefully and AND returns empty via the
        nt == n_terms filter — no driver-side existence check.
        ``min_match`` keeps docs matching at least that many distinct
        query terms (Solr dismax mm; "and" == all of them)."""
        terms = sorted(set(self._strip_stops(qterms)))
        kern = make_exhaustive_kernel(
            float(self.stats["n_docs"]), self.stats["avgdl"],
            self.stats["k1"], self.stats["b"], self.stats["block_range"],
        )
        out = self._qblocks(terms).mapInPandas(kern, SCORED_SCHEMA)
        if mode == "and" and len(terms) > 1:
            out = out.filter(F.col("nt") == len(terms))
        elif min_match is not None and min_match > 1:
            out = out.filter(F.col("nt") >= int(min_match))
        if self.tombstones is not None:
            out = out.join(F.broadcast(self.tombstones), "doc_id", "left_anti")
        return out.select("doc_id", "score")

    def scored_docs_pred(self, term_cond: Column) -> DataFrame:
        """(doc_id, score) where score sums BM25 over every index term
        matching ``term_cond`` — the multi-term (wildcard/prefix)
        expansion path.  One pruned postings scan; the expansion set
        never materializes on the driver (Lucene's MultiTermQuery
        rewrite, done as a predicate instead of a term enumeration)."""
        kern = make_exhaustive_kernel(
            float(self.stats["n_docs"]), self.stats["avgdl"],
            self.stats["k1"], self.stats["b"], self.stats["block_range"],
        )
        out = self._qblocks(term_cond).mapInPandas(kern, SCORED_SCHEMA)
        if self.tombstones is not None:
            out = out.join(F.broadcast(self.tombstones), "doc_id", "left_anti")
        return out.select("doc_id", "score")

    def scored_docs_expanded(self, term_pred: Column) -> DataFrame:
        """(doc_id, score) summing BM25 over every index term matching
        a predicate parquet CANNOT push down (edit distance, arbitrary
        SQL over the term string).  Unlike :meth:`scored_docs_pred`
        (which filters the postings scan directly and relies on
        DataFilters pruning), the predicate here is evaluated on the
        TERM CATALOG — one row per distinct term, orders of magnitude
        smaller than the postings — and the matched term set is
        broadcast into the postings scan as an equi-join (Lucene's
        FuzzyQuery term-dictionary expansion re-expressed as a catalog
        broadcast join; no driver-side term enumeration)."""
        return self._scored_from_catalog(
            self.terms.filter(term_pred).select("term", "df")
        )

    def _scored_from_catalog(self, cat: DataFrame) -> DataFrame:
        """(doc_id, score) for an in-plan (term, df) catalog slice —
        the shared tail of every expansion path (fuzzy, MoreLikeThis):
        broadcast the slice into the postings scan, decode, sum."""
        cols = ["term", "block_id", "max_tf", "min_dl",
                "doc_gaps", "tfs", "dls"]
        blocks = self.postings.select(*cols).join(F.broadcast(cat), "term")
        # AQE-coalescible exchange — see _qblocks
        blocks = blocks.repartition("block_id").sortWithinPartitions(
            "block_id", "term"
        )
        kern = make_exhaustive_kernel(
            float(self.stats["n_docs"]), self.stats["avgdl"],
            self.stats["k1"], self.stats["b"], self.stats["block_range"],
        )
        out = blocks.mapInPandas(kern, SCORED_SCHEMA)
        if self.tombstones is not None:
            out = out.join(F.broadcast(self.tombstones), "doc_id", "left_anti")
        return out.select("doc_id", "score")

    def bool_scored(self, terms: list[str], spec: tuple) -> DataFrame:
        """(doc_id, score) for a fused boolean tree
        (luceval.fuse_spec): ONE pruned postings scan over all the
        tree's terms + one block_id exchange, the whole must/should/
        must_not nest evaluated as numpy masks inside the kernel —
        the N-scans-plus-joins plan of the general evaluator
        collapsed to the same shape as a flat query (the reference
        evaluates a BooleanQuery in one IndexSearcher pass the same
        way)."""
        kern = make_bool_kernel(
            list(terms), spec, float(self.stats["n_docs"]),
            self.stats["avgdl"], self.stats["k1"], self.stats["b"],
            self.stats["block_range"],
        )
        out = self._qblocks(sorted(set(terms))).mapInPandas(
            kern, "doc_id long, score double"
        )
        if self.tombstones is not None:
            out = out.join(F.broadcast(self.tombstones), "doc_id",
                           "left_anti")
        return out

    def matched_docs(self, qterms: list[str], mode: str = "or",
                     filters: Filters = None) -> DataFrame:
        """(doc_id) of every live matching doc — the non-scoring
        match set the stored-field surfaces (facet / field sort /
        range facet / stats / grouping) build on.  Bitset fast path:
        when the layout carries ``id_bits``, membership comes from
        the per-(term, block) doc-id bitsets inside an Arrow kernel —
        the scan reads ONE ~block_range/8-byte column per block row
        and never varint-decodes tfs/dls; tombstones ride the same
        block-keyed shuffle via a cogroup (the structure of the count
        fast path).  Pre-bitset layouts keep the decode path — same
        rows (tested)."""
        terms = sorted(set(self._strip_stops(qterms)))
        if self.stats.get("id_bits"):
            from katta_spark.index.codec import bit_matched_frame

            br = int(self.stats["block_range"])
            n_terms, md = len(terms), mode
            bl = self.postings.filter(F.col("term").isin(terms)).select(
                "term", "block_id", "id_bits"
            )
            if self.tombstones is None:
                def _ids(_key, pdf):
                    return pd.DataFrame(
                        {"doc_id": bit_matched_frame(pdf, n_terms, md,
                                                     None, br)}
                    )

                docs = bl.groupBy("block_id").applyInPandas(
                    _ids, "doc_id long"
                )
            else:
                def _ids2(_key, pdf, tpdf):
                    if not len(pdf):
                        return pd.DataFrame(
                            {"doc_id": np.empty(0, np.int64)}
                        )
                    tomb = (np.unique(tpdf["doc_id"].to_numpy())
                            if len(tpdf) else None)
                    return pd.DataFrame(
                        {"doc_id": bit_matched_frame(pdf, n_terms, md,
                                                     tomb, br)}
                    )

                tg = self.tombstones.select(
                    "doc_id",
                    (F.col("doc_id") / F.lit(br)).cast("long")
                    .alias("block_id"),
                ).groupBy("block_id")
                docs = bl.groupBy("block_id").cogroup(tg).applyInPandas(
                    _ids2, "doc_id long"
                )
        else:
            docs = self.scored_docs(terms, mode).select("doc_id")
        fd = self._filter_docs(filters)
        if fd is not None:
            docs = docs.join(fd, "doc_id", "left_semi")
        return docs

    def _filter_docs(self, filters: Filters) -> DataFrame | None:
        if not filters:
            return None
        cond = None
        for col, val in filters.items():
            c = F.col(col) == F.lit(val)
            cond = c if cond is None else (cond & c)
        return self.docs.filter(cond).select("doc_id")

    # ------------------------------------------------------------ top-k

    def topk(self, qterms: list[str], k: int = 10, mode: str = "or",
             filters: Filters = None, offset: int = 0,
             use_wand: bool = True, min_match: int | None = None,
             after: tuple[float, int] | None = None) -> DataFrame:
        """BM25 top-k (doc_id, score), tie-break score desc / doc_id
        asc, sliced [offset, offset+k).  WAND pruning is used when no
        non-scoring filter is present (a filter makes heap thresholds
        unsound); results are identical either way (tested).

        ``min_match`` — Solr dismax mm: docs must match at least that
        many distinct query terms ("or" with a floor).

        ``after`` — search-after cursor (score, doc_id) of the last
        hit of the previous page (Lucene searchAfter / Solr
        cursorMark).  Unlike ``offset`` — whose merge materializes and
        sorts offset+k rows per page, O(depth) per page at 100 TB —
        the cursor path keeps every per-partition heap at k and
        filters vectorized inside the kernel, so page 1000 costs the
        same as page 1.  Scores are float64-deterministic across runs
        and parallelism (row-order accumulation in
        codec.score_blocks), so a cursor taken from one page slices
        the next exactly."""
        terms = sorted(set(self._strip_stops(qterms)))
        if self.tombstones is not None:
            use_wand = False  # pruned heap could retain deleted docs
        if filters or not use_wand:
            scored = self.scored_docs(terms, mode, min_match=min_match)
            fd = self._filter_docs(filters)
            if fd is not None:
                scored = scored.join(fd, "doc_id", "left_semi")
            if after is not None:
                s0, d0 = after
                scored = scored.filter(
                    (F.col("score") < F.lit(float(s0)))
                    | ((F.col("score") == F.lit(float(s0)))
                       & (F.col("doc_id") > F.lit(int(d0))))
                )
            ranked = scored
        else:
            kern = make_wand_kernel(
                float(self.stats["n_docs"]), self.stats["avgdl"],
                self.stats["k1"], self.stats["b"],
                offset + k, len(terms), mode, self.stats["block_range"],
                min_match=min_match, after=after,
            )
            ranked = self._qblocks(terms).mapInPandas(kern, SCORED_SCHEMA).select(
                "doc_id", "score"
            )
        out = ranked.orderBy(F.desc("score"), F.asc("doc_id"))
        if offset:
            out = out.offset(offset)
        return out.limit(k).select("doc_id", "score")

    def common_terms_topk(self, qterms: list[str], k: int = 10,
                          max_df_frac: float = 0.1,
                          filters: Filters = None) -> DataFrame:
        """Lucene ``CommonTermsQuery`` (lowFreqOccur=SHOULD): query
        terms are split by document frequency at ``max_df_frac``
        (fraction of N, or an absolute df when >= 1).  LOW-frequency
        terms drive matching — a doc must contain at least one — and
        HIGH-frequency terms only contribute to the scores of docs
        already matched, so a stop-word-ish term never floods the
        result set with its posting list.  If every term is
        high-frequency, the high group becomes required (Lucene's
        fallback), i.e. plain OR.

        Plan: the low/high split is IN-PLAN — a window over the
        <= |q|-row catalog slice computes the any-low fallback flag,
        no driver collect.  Candidates come from a postings scan
        pruned to the required terms only (the cheap, short posting
        lists); the scoring scan over all query terms is semi-joined
        to the candidates.  Score = BM25 sum over every query term
        present in the doc, identical tie-break to :meth:`topk`."""
        from pyspark.sql import Window

        terms = sorted(set(self._strip_stops(qterms)))
        cutoff = float(max_df_frac)
        if cutoff < 1.0:
            cutoff = cutoff * float(self.stats["n_docs"])
        qcat = (
            self.terms.filter(F.col("term").isin(terms))
            .select("term", "df")
            .withColumn("_low", F.col("df").cast("double") <= F.lit(cutoff))
        )
        w = Window.partitionBy()  # <= |q| rows — single tiny partition
        required = qcat.withColumn(
            "_any_low", F.max(F.col("_low").cast("int")).over(w)
        ).filter(F.col("_low") | (F.col("_any_low") == 0)).select("term", "df")
        cand = self._scored_from_catalog(required).select("doc_id")
        scored = self.scored_docs(terms, "or").join(
            cand, "doc_id", "left_semi"
        )
        fd = self._filter_docs(filters)
        if fd is not None:
            scored = scored.join(fd, "doc_id", "left_semi")
        return (
            scored.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", "score")
        )

    def multi_topk(self, queries_map: dict[str, list[str]], k: int = 10,
                   mode: str = "or") -> DataFrame:
        """(qid, doc_id, score) — BM25 top-k for MANY queries in ONE
        job: one postings scan pruned to the union of all queries'
        terms, one block_id shuffle, per-query block-max WAND inside
        the shared kernel, then a per-qid window merge.  The reference
        client answers N concurrent searches with N scatter-gathers
        (Client.java:562-649); batching them into one scan is the
        Spark-native equivalent.  Tie-break per query: score desc,
        doc_id asc (Hit.compareTo parity, like :meth:`topk`)."""
        from pyspark.sql import Window

        qmap = [
            (qid, sorted(set(self._strip_stops(terms))), mode)
            for qid, terms in sorted(queries_map.items())
        ]
        if self.tombstones is not None:
            # pruned per-query heaps could retain deleted docs; fall
            # back to the exact per-query path and union (still one
            # driver call, N jobs — correctness first)
            out = None
            for qid, terms, m in qmap:
                d = self.topk(terms, k=k, mode=m).select(
                    F.lit(qid).alias("qid"), "doc_id", "score"
                )
                out = d if out is None else out.unionByName(d)
            return out
        all_terms = sorted({t for _, terms, _ in qmap for t in terms})
        kern = make_multi_kernel(
            qmap, float(self.stats["n_docs"]), self.stats["avgdl"],
            self.stats["k1"], self.stats["b"], k,
            self.stats["block_range"],
        )
        cand = self._qblocks(all_terms).mapInPandas(
            kern, "qid string, doc_id long, score double"
        )
        w = Window.partitionBy("qid").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            cand.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= k)
            .select("qid", "doc_id", "score")
            .orderBy("qid", F.desc("score"), F.asc("doc_id"))
        )

    def join_topk(self, qterms: list[str], from_field: str, to_field: str,
                  inner_terms: list[str], k: int = 10, mode: str = "or",
                  inner_mode: str = "or") -> DataFrame:
        """Solr join qparser (``fq={!join from=f to=t}q``): BM25 top-k
        for ``qterms`` restricted to docs whose ``to_field`` value
        appears among the ``from_field`` values of docs matching
        ``inner_terms``.  The join clause is a non-scoring FILTER
        (Solr JoinQParserPlugin semantics — constant score, reachable
        through the reference's SolrQuery pass-through,
        LuceneClient.java:255-276).

        Scale shape: the inner match is a pruned postings scan; its
        from-values are distinct-aggregated (small — bounded by the
        field's cardinality) and semi-joined into the stored-docs scan
        (AQE broadcasts the value set), producing the allowed doc set
        that semi-joins the scored side.  No extra corpus pass, no
        driver-side value collection."""
        inner = self.matched_docs(inner_terms, inner_mode)
        vals = (
            self.docs.join(inner, "doc_id", "left_semi")
            .select(F.col(from_field).alias("_jval"))
            .distinct()
        )
        allowed = self.docs.join(
            vals, F.col(to_field) == F.col("_jval"), "left_semi"
        ).select("doc_id")
        scored = self.scored_docs(qterms, mode)
        return (
            scored.join(allowed, "doc_id", "left_semi")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", "score")
        )

    # ------------------------------------------- aggregate query surface

    def count(self, qterms: list[str], mode: str = "or",
              filters: Filters = None) -> DataFrame:
        terms = sorted(set(self._strip_stops(qterms)))
        if len(terms) == 1 and not filters and self.tombstones is None:
            # fast path: a single term's hit count IS its global df —
            # read it from the catalog, decode nothing (Katta's
            # count() reads totalHits without materializing hits,
            # lib/lucene/LuceneServer.java:768-773)
            return self.terms.filter(F.col("term") == terms[0]).agg(
                F.coalesce(F.sum("df"), F.lit(0)).alias("n_hits")
            )
        if not filters and self.stats.get("id_bits"):
            # bitset path: per-(term, block) doc-id bitsets are
            # unioned/intersected per block inside an Arrow kernel —
            # the scan reads ~block_range/8 bytes per block (ReadSchema
            # = term, block_id, id_bits) and NEVER varint-decodes
            # tfs/dls/positions just to count.  The shuffle moves only
            # bitset rows (<=512 B each), grouped on block_id; with
            # tombstones the per-block deleted ids ride the same
            # shuffle via a cogroup — no driver-side set anywhere.
            from katta_spark.index.codec import bit_count_frame

            br = int(self.stats["block_range"])
            n_terms, md = len(terms), mode
            bl = self.postings.filter(F.col("term").isin(terms)).select(
                "term", "block_id", "id_bits"
            )
            if self.tombstones is None:
                def _cnt(_key, pdf):
                    return pd.DataFrame(
                        {"n_hits": [bit_count_frame(pdf, n_terms, md,
                                                    None, br)]}
                    )

                per_block = bl.groupBy("block_id").applyInPandas(
                    _cnt, "n_hits long"
                )
            else:
                def _cnt2(_key, pdf, tpdf):
                    if not len(pdf):
                        return pd.DataFrame({"n_hits": [0]})
                    tomb = (np.unique(tpdf["doc_id"].to_numpy())
                            if len(tpdf) else None)
                    return pd.DataFrame(
                        {"n_hits": [bit_count_frame(pdf, n_terms, md,
                                                    tomb, br)]}
                    )

                tg = self.tombstones.select(
                    "doc_id",
                    (F.col("doc_id") / F.lit(br)).cast("long")
                    .alias("block_id"),
                ).groupBy("block_id")
                per_block = bl.groupBy("block_id").cogroup(tg).applyInPandas(
                    _cnt2, "n_hits long"
                )
            return per_block.agg(
                F.coalesce(F.sum("n_hits"), F.lit(0)).alias("n_hits")
            )
        return self.matched_docs(terms, mode, filters).agg(
            F.count(F.lit(1)).alias("n_hits")
        )

    def group_values(self, qterms: list[str], field: str, mode: str = "or",
                     filters: Filters = None) -> DataFrame:
        m = self.matched_docs(qterms, mode, filters)
        return self.docs.join(m, "doc_id", "left_semi").select(field).distinct()

    def facet(self, qterms: list[str], field: str, n: int = 10,
              mode: str = "or", filters: Filters = None,
              missing: bool = False, sort: str = "count",
              prefix: str | None = None, mincount: int = 0) -> DataFrame:
        """Value facet (Solr facet.field).  ``sort``: "count" (count
        desc, value asc — Solr default) or "index" (value asc —
        facet.sort=index).  ``missing=True`` adds the NULL bucket
        (Solr facet.missing), reported last within its sort position
        (nulls last); by default missing values are excluded, Solr's
        behavior.  ``prefix`` keeps only buckets whose value starts
        with it (Solr facet.prefix — applied BEFORE the aggregate, so
        it prunes the shuffle, not just the output; the NULL bucket
        never survives a prefix, as in Solr).  ``mincount`` drops
        buckets below that count (Solr facet.mincount)."""
        m = self.matched_docs(qterms, mode, filters)
        scope = self.docs.join(m, "doc_id", "left_semi")
        if prefix is not None:
            scope = scope.filter(F.col(field).startswith(prefix))
        agg = scope.groupBy(field).agg(F.count(F.lit(1)).alias("cnt"))
        if not missing:
            agg = agg.filter(F.col(field).isNotNull())
        if mincount > 0:
            agg = agg.filter(F.col("cnt") >= F.lit(int(mincount)))
        order = (
            [F.asc_nulls_last(field)]
            if sort == "index"
            else [F.desc("cnt"), F.asc_nulls_last(field)]
        )
        return agg.orderBy(*order).limit(n)

    def rare_terms(self, qterms: list[str], field: str,
                   max_count: int = 1, n: int = 10, mode: str = "or",
                   filters: Filters = None) -> DataFrame:
        """ES ``rare_terms`` aggregation: the LONG TAIL of a field —
        buckets among the matched docs with ``cnt <= max_count``,
        ordered count asc then value (the inverse of facet's
        most-common-first).  ES approximates this with a CuckooFilter
        to avoid a full agg per shard; on Spark the exact distributed
        hash agg IS the scale path (same single shuffle as facet —
        map-side partials shrink common buckets before they move), so
        the exact answer costs no more than the sketch."""
        m = self.matched_docs(qterms, mode, filters)
        return (
            self.docs.join(m, "doc_id", "left_semi")
            .filter(F.col(field).isNotNull())
            .groupBy(field)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") <= F.lit(int(max_count)))
            .orderBy(F.asc("cnt"), F.asc(field))
            .limit(n)
        )

    def range_facet(self, qterms: list[str], field: str, start: float,
                    end: float, gap: float, min_count: int = 1,
                    mode: str = "or", filters: Filters = None) -> DataFrame:
        m = self.matched_docs(qterms, mode, filters)
        v = F.col(field).cast("double")
        bucket = F.floor((v - F.lit(float(start))) / F.lit(float(gap)))
        return (
            self.docs.join(m, "doc_id", "left_semi")
            .filter((v >= F.lit(float(start))) & (v < F.lit(float(end))))
            .select(
                (F.lit(float(start)) + bucket * F.lit(float(gap))).alias(
                    "bucket_start"
                )
            )
            .groupBy("bucket_start")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= min_count)
            .orderBy("bucket_start")
        )

    def interval_facet(self, qterms: list[str], field: str,
                       intervals: list[tuple], mode: str = "or",
                       filters: Filters = None) -> DataFrame:
        """Solr ``facet.interval``: arbitrary — possibly overlapping —
        intervals over a numeric field; a matching doc counts in EVERY
        interval that contains it (unlike :meth:`range_facet`'s
        disjoint gap buckets).  ``intervals`` is a list of
        ``(label, lo, hi, lo_incl, hi_incl)`` mirroring Solr's
        ``[lo,hi)`` / ``(lo,hi]`` bracket syntax.

        Plan shape: the per-interval counts are conditional sums inside
        ONE global aggregate (map-side partial agg over the matched
        scan, a single reduce row), and the unpivot to (label, cnt)
        rows is a ``stack`` over that one row — no per-label pass, no
        extra shuffle, however many intervals are asked for.
        """
        m = self.matched_docs(qterms, mode, filters)
        v = F.col(field).cast("double")
        aggs = []
        for i, (label, lo, hi, lo_incl, hi_incl) in enumerate(intervals):
            c = (v >= F.lit(float(lo))) if lo_incl else (v > F.lit(float(lo)))
            c = c & ((v <= F.lit(float(hi))) if hi_incl else (v < F.lit(float(hi))))
            aggs.append(
                F.coalesce(F.sum(F.when(c, F.lit(1)).cast("long")), F.lit(0))
                .alias(f"_i{i}")
            )
        row = self.docs.join(m, "doc_id", "left_semi").agg(*aggs)
        stack = ", ".join(
            "'" + lbl.replace("'", "\\'") + f"', _i{i}"
            for i, (lbl, *_rest) in enumerate(intervals)
        )
        return row.selectExpr(
            f"stack({len(intervals)}, {stack}) AS (label, cnt)"
        ).orderBy("label")

    def range_facet_other(self, qterms: list[str], field: str,
                          start: float, end: float, mode: str = "or",
                          filters: Filters = None) -> DataFrame:
        """Solr ``facet.range.other=all``: one row of (before, between,
        after) counts — matches below ``start``, inside ``[start,
        end)``, and at/above ``end``.  ONE conditional aggregate over
        the matched scan (same plan family as :meth:`interval_facet`).
        """
        m = self.matched_docs(qterms, mode, filters)
        v = F.col(field).cast("double")

        def cnt(cond: Column, name: str) -> Column:
            return F.coalesce(
                F.sum(F.when(cond, F.lit(1)).cast("long")), F.lit(0)
            ).alias(name)

        lo, hi = F.lit(float(start)), F.lit(float(end))
        return self.docs.join(m, "doc_id", "left_semi").agg(
            cnt(v < lo, "before"),
            cnt((v >= lo) & (v < hi), "between"),
            cnt(v >= hi, "after"),
        )

    def facet_stats(self, qterms: list[str], facet_field: str,
                    stat_field: str, mode: str = "or",
                    filters: Filters = None) -> DataFrame:
        """Solr StatsComponent with ``stats.facet``: the
        :meth:`field_stats` summary computed per value of
        ``facet_field`` — one hash aggregation keyed on the facet
        value (partial agg map-side; shuffle O(distinct facet
        values))."""
        m = self.matched_docs(qterms, mode, filters)
        v = F.col(stat_field).cast("double")
        return (
            self.docs.join(m, "doc_id", "left_semi")
            .groupBy(facet_field)
            .agg(
                F.count(v).alias("n"),
                F.min(v).alias("min_v"),
                F.max(v).alias("max_v"),
                F.round(F.sum(v), 6).alias("sum_v"),
                F.round(F.avg(v), 6).alias("mean_v"),
            )
            .orderBy(facet_field)
        )

    def pivot_facet(self, qterms: list[str], field1: str, field2: str,
                    n1: int = 5, n2: int = 3, mode: str = "or",
                    filters: Filters = None) -> DataFrame:
        """Two-level pivot facet (Solr facet.pivot, flattened):
        (field1, parent_cnt, field2, cnt) for the top ``n1`` values of
        ``field1`` by match count and, within each, the top ``n2``
        values of ``field2``.  ONE groupBy over the matched docs (a
        single shuffle keyed on the value pair); both rank windows and
        the parent totals run over the already-aggregated pair counts
        — cardinality |field1|x|field2|, tiny next to the corpus — so
        the plan at 100 TB is scan + one agg shuffle + window over
        kilobytes.  Ties break value-ascending like :meth:`facet`."""
        from pyspark.sql import Window

        m = self.matched_docs(qterms, mode, filters)
        pairs = (
            self.docs.join(m, "doc_id", "left_semi")
            .groupBy(field1, field2)
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        wp = Window.partitionBy(field1)
        pairs = pairs.withColumn("parent_cnt", F.sum("cnt").over(wp))
        wr2 = Window.partitionBy(field1).orderBy(
            F.desc("cnt"), F.asc(field2)
        )
        # top-n1 parents by total: orderBy+limit (TakeOrdered — no
        # global single-partition window)
        parents = (
            pairs.groupBy(field1)
            .agg(F.sum("cnt").alias("_pc"))
            .orderBy(F.desc("_pc"), F.asc(field1))
            .limit(n1)
            .select(field1)
        )
        return (
            pairs.join(F.broadcast(parents), field1, "left_semi")
            .withColumn("_cr", F.row_number().over(wr2))
            .filter(F.col("_cr") <= n2)
            .select(field1, "parent_cnt", field2, "cnt")
            .orderBy(
                F.desc("parent_cnt"), F.asc(field1),
                F.desc("cnt"), F.asc(field2),
            )
        )

    def facet_queries(self, queries_map: dict[str, list[str]],
                      mode: str = "or",
                      filters: Filters = None) -> DataFrame:
        """(facet_q, cnt) — Solr facet.query: hit counts of arbitrary
        sub-queries returned together.  The per-label matched sets
        union lazily into ONE action (one job, label-pruned scans);
        each count is an aggregation, never a materialized doc list
        on the driver."""
        out = None
        for label, terms in sorted(queries_map.items()):
            m = self.matched_docs(terms, mode, filters).select(
                F.lit(label).alias("facet_q"), "doc_id"
            )
            out = m if out is None else out.unionByName(m)
        counts = out.groupBy("facet_q").agg(F.count(F.lit(1)).alias("cnt"))
        # Solr reports 0 for a non-matching facet.query — a literal
        # label frame (bounded: one row per standing query) keeps the
        # zero rows that the union cannot produce
        labels = self.spark.createDataFrame(
            [(label,) for label in sorted(queries_map)], "facet_q string"
        )
        return (
            labels.join(counts, "facet_q", "left")
            .select(
                "facet_q",
                F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            )
            .orderBy("facet_q")
        )

    def adjacency_matrix(self, queries_map: dict[str, list[str]],
                         mode: str = "or",
                         filters: Filters = None) -> DataFrame:
        """(key1, key2, cnt) — the ES ``adjacency_matrix``
        aggregation: hit counts of every named filter and of every
        pairwise intersection.  ``key1 == key2`` rows are the
        per-filter counts; ``key1 < key2`` rows the intersections;
        empty intersections are omitted (ES semantics).

        Plan: per-label matched sets (term-pruned postings scans,
        already distinct on doc_id) union into ONE labeled table; a
        self equi-join on doc_id (shuffle O(sum of match sizes) —
        never all-pairs over docs, the label alphabet is tiny) feeds
        one pair hash agg."""
        m = None
        for label, terms in sorted(queries_map.items()):
            s = self.matched_docs(terms, mode, filters).select(
                F.lit(label).alias("_k"), "doc_id"
            )
            m = s if m is None else m.unionByName(s)
        a = m.select(F.col("_k").alias("key1"), "doc_id")
        b = m.select(F.col("_k").alias("key2"), "doc_id")
        return (
            a.join(b, "doc_id")
            .filter(F.col("key1") <= F.col("key2"))
            .groupBy("key1", "key2")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("key1", "key2")
        )

    def group_score_topk(self, qterms: list[str], group_field: str,
                         score_mode: str = "sum", k: int = 10,
                         mode: str = "or",
                         filters: Filters = None) -> DataFrame:
        """(group value, n_hits, score) — parent-level ranking with a
        child score aggregate: Lucene ToParentBlockJoinQuery / ES
        ``has_child`` ``score_mode`` semantics, with the group field
        standing in for the parent id (``max`` reproduces field
        collapse's group ORDER; ``sum``/``avg``/``min`` are the other
        ES modes).  Top-``k`` groups by (score desc, group asc).

        Plan shape: one scored pass + the narrow docs join + ONE
        group-keyed hash agg + TakeOrderedAndProject — group
        cardinality bounds the shuffle, and the per-hit score is
        rounded to 6dp BEFORE the aggregate so the sum's
        accumulation order can't flip ranks across engines."""
        aggs = {
            "sum": F.sum, "max": F.max, "min": F.min, "avg": F.avg,
        }
        if score_mode not in aggs:
            raise ValueError(f"unknown score_mode {score_mode!r}")
        scored = self.scored_docs(sorted(set(qterms)), mode)
        fd = self._filter_docs(filters)
        if fd is not None:
            scored = scored.join(fd, "doc_id", "left_semi")
        joined = scored.join(
            self.docs.select("doc_id", group_field), "doc_id"
        )
        agg = joined.groupBy(group_field).agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.round(
                aggs[score_mode](F.round(F.col("score"), 6)), 6
            ).alias("score"),
        )
        return agg.orderBy(
            F.desc("score"), F.asc(group_field)
        ).limit(int(k))

    def facet_by_metric(self, qterms: list[str], facet_field: str,
                        metric_field: str, n: int = 5,
                        mode: str = "or",
                        filters: Filters = None) -> DataFrame:
        """(facet value, cnt, metric_avg) — the ES terms aggregation
        ordered by a SUB-AGGREGATION (``"order": {"avg_metric":
        "desc"}``) instead of doc count: top-``n`` buckets by the
        average of a stored numeric field over the matches.

        Plan shape: one semi-join of the match set into the docs
        scan (two columns read), ONE hash agg keyed on the facet
        value, TakeOrderedAndProject for the bucket cut.  Sums are
        rounded to 6dp before the division (engine agreement)."""
        m = self.matched_docs(self._strip_stops(qterms), mode, filters)
        v = F.col(metric_field).cast("double")
        agg = (
            self.docs.select("doc_id", facet_field, metric_field)
            .join(m, "doc_id", "left_semi")
            .groupBy(facet_field)
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.round(F.sum(v), 6).alias("_s"),
            )
        )
        out = agg.select(
            facet_field, "cnt",
            F.round(F.col("_s") / F.col("cnt"), 6).alias("metric_avg"),
        )
        return out.orderBy(
            F.desc("metric_avg"), F.asc(facet_field)
        ).limit(int(n))

    def sorted_query(self, qterms: list[str], sort_cols: list[tuple[str, str]],
                     fields: list[str], limit: int, offset: int = 0,
                     mode: str = "or", filters: Filters = None) -> DataFrame:
        m = self.matched_docs(qterms, mode, filters)
        order: list[Column] = [
            F.asc(c) if d == "asc" else F.desc(c) for c, d in sort_cols
        ]
        order.append(F.asc("doc_id"))
        out = self.docs.join(m, "doc_id", "left_semi").orderBy(*order)
        if offset:
            out = out.offset(offset)
        return out.limit(limit).select(*fields)

    def sorted_by_func(self, qterms: list[str], expr: Column,
                       fields: list[str], limit: int,
                       ascending: bool = True, mode: str = "or",
                       filters: Filters = None) -> DataFrame:
        """Top-``limit`` matches ordered by a FUNCTION of stored
        fields (Solr function-query sort, ``sort=abs(sub(n_chars,
        250)) asc``): the computed value is appended as ``sortv`` so
        rankings are auditable.  Same plan shape as
        :meth:`sorted_query` — semi-join the match set into the docs
        scan, then TakeOrderedAndProject (per-partition top-k +
        tiny merge; never a global sort)."""
        m = self.matched_docs(self._strip_stops(qterms), mode, filters)
        out = (
            self.docs.join(m, "doc_id", "left_semi")
            .withColumn("sortv", expr)
        )
        order = [F.asc("sortv") if ascending else F.desc("sortv"),
                 F.asc("doc_id")]
        return out.orderBy(*order).limit(limit).select(*fields, "sortv")

    def ngroups(self, qterms: list[str], group_field: str,
                mode: str = "or", filters: Filters = None) -> DataFrame:
        """One row (n_groups, n_hits) — Solr ``group.ngroups=true``:
        the number of distinct groups among the matches, next to the
        raw hit count.  One aggregate over the semi-joined match
        set."""
        m = self.matched_docs(self._strip_stops(qterms), mode, filters)
        return (
            self.docs.join(m, "doc_id", "left_semi")
            .agg(
                F.countDistinct(group_field).alias("n_groups"),
                F.count(F.lit(1)).alias("n_hits"),
            )
        )

    def fetch_details(self, hits: DataFrame, fields: list[str]) -> DataFrame:
        cols = ["doc_id", *[f for f in fields if f != "doc_id"]]
        return F.broadcast(hits).join(self.docs.select(*cols), "doc_id")

    def phrase_scored(self, phrase: list[str], slop: int = 0) -> DataFrame:
        """(doc_id, score) for EVERY doc containing ``phrase``
        consecutively — the unranked phrase match set.

        With positional postings (``build_index(store_positions=True)``,
        the default) the phrase executes entirely on the pruned
        postings scan — decode positions, verify consecutiveness in
        the doc-range kernel, no docs-table access (Lucene's
        .pos-backed PhrasQuery execution).  Indexes built without
        positions fall back to re-analysis verification against the
        stored token arrays of the broadcast-joined candidates."""
        phrase = self._strip_stops(phrase)  # order/dups preserved:
        # the index dropped these tokens BEFORE numbering positions,
        # so "a the b" both indexes and queries as consecutive [a, b]
        if not phrase:
            return self.docs.select(
                "doc_id", F.lit(0.0).alias("score")
            ).filter(F.lit(False))
        if len(phrase) == 1:
            return self.scored_docs(phrase)
        if self.stats.get("positions"):
            return self._phrase_scored_positional(phrase, slop)
        if slop > 0:
            raise ValueError(
                "sloppy phrases need positional postings "
                "(build_index(store_positions=True))"
            )
        return self._phrase_scored_reanalysis(phrase)

    def _phrase_scored_positional(self, phrase: list[str],
                                  slop: int = 0,
                                  ordered: bool = True) -> DataFrame:
        kern = make_phrase_kernel(
            phrase, float(self.stats["n_docs"]), self.stats["avgdl"],
            self.stats["k1"], self.stats["b"], self.stats["block_range"],
            slop=slop, ordered=ordered,
        )
        terms = sorted(set(phrase))
        out = self._qblocks(
            terms, positions=True,
            block_filter=self._phrase_block_filter(terms),
        ).mapInPandas(kern, SCORED_SCHEMA).select("doc_id", "score")
        if self.tombstones is not None:
            out = out.join(F.broadcast(self.tombstones), "doc_id", "left_anti")
        return out

    def _phrase_block_filter(self, terms: list[str]) -> DataFrame | None:
        """Candidate-block cut for positional phrases (round 4): a
        phrase needs ALL its words in the same doc, hence the same
        doc-range block — so blocks missing any word can be dropped
        BEFORE their position columns are read/decoded.  The cut is
        one 2-column (term, block_id) scan + a map-side-combined
        count-distinct, semi-joined into the position-carrying scan.

        Gated on selectivity WITHOUT a Spark job: a tiny pyarrow read
        of the query words' dfs decides — if the rarest word appears
        in < 30% of blocks the cut prunes (candidate blocks <= its
        df); a hot pair would keep ~every block and only pay the
        extra agg.  Multi-dir handles (open_many) skip the gate read
        and the cut (their terms parquet spans several dirs)."""
        if len(terms) < 2:
            return None
        try:
            import pyarrow.dataset as pa_ds

            cat = pa_ds.dataset(
                str(Path(self.index_dir) / "terms")
            ).to_table(
                columns=["term", "df"],
                filter=pa_ds.field("term").isin(terms),
            ).to_pandas()
        except Exception:
            return None
        br = int(self.stats["block_range"])
        n_blocks = max(1, -(-int(self.stats["n_docs"]) // br))
        # the raw terms parquet carries one row per (term, commit) on
        # multi-commit indexes — sum df per term first, else the gate
        # reads a single commit's df, underestimates, and engages the
        # cut on hot pairs it was meant to skip (perf-only: results
        # stay correct via the pinned self.postings semi-join)
        per_term = cat.groupby("term")["df"].sum()
        if not len(per_term) or float(per_term.min()) >= 0.3 * n_blocks:
            return None
        return (
            self.postings.filter(F.col("term").isin(terms))
            .select("term", "block_id")
            .groupBy("block_id")
            .agg(F.count_distinct("term").alias("_nt"))
            .filter(F.col("_nt") == F.lit(len(terms)))
            .select("block_id")
        )

    def _phrase_scored_reanalysis(self, phrase: list[str]) -> DataFrame:
        """Fallback phrase verification against stored token arrays.

        Two-phase plan, the classic phrase execution: (1) AND
        retrieval over the inverted index narrows to docs containing
        all terms; (2) positional verification — here against the
        stored analyzed arrays (``toks``) with a pure Column
        ``exists``/``sequence`` expression, the re-analysis variant of
        Lucene's positions check (no positional postings needed).

        The candidate set is BROADCAST-joined into the docs scan
        BEFORE the positional predicate is applied, so the O(len*m)
        ``exists`` expression evaluates only on AND candidates — never
        on the full corpus.  The predicate is guarded by a reference
        to the candidate side (``score.isNotNull()``, always true) so
        Catalyst's PushPredicateThroughJoin cannot move the docs-only
        ``exists`` back below the join onto the full docs FileScan
        (asserted by a plan test)."""
        m = len(phrase)
        cand = self.scored_docs(phrase, mode="and")
        starts = F.when(
            F.size("toks") >= m, F.sequence(F.lit(0), F.size("toks") - m)
        ).otherwise(F.array().cast("array<int>"))
        phrase_arr = F.array(*[F.lit(t) for t in phrase])
        is_match = F.exists(
            starts,
            lambda i: F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(True),
                lambda acc, d: acc
                & (
                    F.element_at(F.col("toks"), (i + d + F.lit(1)).cast("int"))
                    == F.element_at(phrase_arr, (d + F.lit(1)).cast("int"))
                ),
            ),
        )
        joined = self.docs.select("doc_id", "toks").join(
            F.broadcast(cand), "doc_id"
        )
        # the guard must be ONE unsplittable expression referencing
        # both join sides: a bare `score.isNotNull() & is_match`
        # conjunction is split by Catalyst and the docs-only conjunct
        # pushed below the join — exactly the full scan being avoided
        guarded = F.when(F.col("score").isNotNull(), is_match).otherwise(
            F.lit(False)
        )
        return joined.filter(guarded).select("doc_id", "score")

    def phrase_topk(self, phrase: list[str], k: int = 10,
                    filters: Filters = None, offset: int = 0,
                    slop: int = 0) -> DataFrame:
        """Phrase top-k, ranked by the BM25 sum of the constituent
        terms (tie-break score desc, doc_id asc)."""
        out = self.phrase_scored(phrase, slop=slop)
        fd = self._filter_docs(filters)
        if fd is not None:
            out = out.join(fd, "doc_id", "left_semi")
        out = out.orderBy(F.desc("score"), F.asc("doc_id"))
        if offset:
            out = out.offset(offset)
        return out.limit(k).select("doc_id", "score")

    def multi_phrase_topk(self, slots: list[list[str]], k: int = 10,
                          filters: Filters = None) -> DataFrame:
        """Lucene MultiPhraseQuery top-k: an exact phrase where each
        position slot accepts any of ``slots[i]`` — e.g.
        ``[["fast", "quick"], ["scan"]]`` matches "fast scan" OR
        "quick scan" (synonym-expanded phrases,
        MultiPhraseQuery.add(Term[])).  Ranked by the BM25 sum of
        every present alternative (tie-break score desc, doc_id asc).
        Requires positional postings; one pruned positional scan over
        all alternatives' postings, no docs-table access.

        Slot terms pass the same analyzer chain as :meth:`phrase_topk`
        — a stopword alternative can never match (it was never
        indexed) and a slot whose every alternative is a stopword is
        dropped, mirroring the single-phrase stopword-slot collapse."""
        norm: list[list[str]] = []
        for s in slots:
            alts = sorted({t for a in s for t in self._strip_stops([a])})
            if alts:
                norm.append(alts)
        if not norm:
            return self.docs.select(
                "doc_id", F.lit(0.0).alias("score")
            ).filter(F.lit(False))
        if not self.stats.get("positions"):
            raise ValueError(
                "multi_phrase_topk requires positional postings "
                "(build_index(store_positions=True))"
            )
        kern = make_multi_phrase_kernel(
            norm, float(self.stats["n_docs"]), self.stats["avgdl"],
            self.stats["k1"], self.stats["b"], self.stats["block_range"],
        )
        all_terms = sorted({t for s in norm for t in s})
        out = self._qblocks(all_terms, positions=True).mapInPandas(
            kern, SCORED_SCHEMA
        ).select("doc_id", "score")
        if self.tombstones is not None:
            out = out.join(F.broadcast(self.tombstones), "doc_id", "left_anti")
        fd = self._filter_docs(filters)
        if fd is not None:
            out = out.join(fd, "doc_id", "left_semi")
        return (
            out.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k).select("doc_id", "score")
        )

    def rank_feature_topk(self, qterms: list[str], feature_field: str,
                          pivot: float, k: int = 10, boost: float = 1.0,
                          mode: str = "or",
                          filters: Filters = None) -> DataFrame:
        """(doc_id, score, feat_score) — the ES ``rank_feature``
        query with the ``saturation`` function: final score =
        BM25 + ``boost`` · v/(v+``pivot``) over a stored numeric
        field (static doc signals: pagerank, freshness, length
        priors).  ES's default pivot is a field statistic; here it
        is explicit for determinism.

        Plan shape: the scored pass joins the docs projection
        narrowly (two columns), the feature term is column algebra,
        and the final ranking is TakeOrderedAndProject — the feature
        reorders ALL matches, not a re-rank of the BM25 top-k."""
        scored = self.scored_docs(sorted(set(qterms)), mode)
        fd = self._filter_docs(filters)
        if fd is not None:
            scored = scored.join(fd, "doc_id", "left_semi")
        v = F.col(feature_field).cast("double")
        sat = F.lit(float(boost)) * v / (v + F.lit(float(pivot)))
        out = (
            scored.join(
                self.docs.select("doc_id", feature_field), "doc_id"
            )
            .withColumn("feat_score", sat)
            .withColumn("score", F.col("score") + F.col("feat_score"))
        )
        return (
            out.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k).select("doc_id", "score", "feat_score")
        )

    def phrase_prefix_topk(self, words: list[str], prefix: str,
                           k: int = 10, max_expansions: int = 50,
                           filters: Filters = None) -> DataFrame:
        """ES ``match_phrase_prefix`` / Lucene's phrase-prefix
        rewrite: the exact phrase ``words…`` followed by any term
        starting with ``prefix``.  The prefix slot is expanded
        against the term dictionary in index (term) order, capped at
        ``max_expansions`` — exactly Lucene's MultiTermQuery rewrite
        cap (default 50), so the driver-side fetch is bounded by the
        cap, never by the corpus; the expansion scan itself is a
        pruned catalog read (StringStartsWith pushes to the
        term-sorted parquet).  The expanded query then runs as one
        :meth:`multi_phrase_topk` positional scan."""
        cond = F.col("term").startswith(prefix.lower())
        if ":" not in prefix:
            cond = cond & ~F.col("term").contains(":")
        alts = [
            r["term"]
            for r in self.terms.filter(cond)
            .select("term").orderBy("term")
            .limit(int(max_expansions)).collect()
        ]
        if not alts:
            return self.docs.select(
                "doc_id", F.lit(0.0).alias("score")
            ).filter(F.lit(False))
        slots = [[w] for w in words] + [alts]
        return self.multi_phrase_topk(slots, k, filters)

    def span_first_topk(self, term: str, end: int, k: int = 10,
                        filters: Filters = None) -> DataFrame:
        """(doc_id, score) top-k — Lucene SpanFirstQuery(term, end):
        docs whose first occurrence of ``term`` falls within the first
        ``end`` analyzed positions, BM25-ranked.  Same pruned
        positional scan as :meth:`phrase_topk`; requires positional
        postings."""
        ts = self._strip_stops([term])
        if not ts:
            return self.docs.select(
                "doc_id", F.lit(0.0).alias("score")
            ).filter(F.lit(False))
        if not self.stats.get("positions"):
            raise ValueError(
                "span_first_topk requires positional postings "
                "(build_index(store_positions=True))"
            )
        kern = make_span_first_kernel(
            ts[0], int(end), float(self.stats["n_docs"]),
            self.stats["avgdl"], self.stats["k1"], self.stats["b"],
            self.stats["block_range"],
        )
        out = self._qblocks(ts, positions=True).mapInPandas(
            kern, SCORED_SCHEMA
        ).select("doc_id", "score")
        if self.tombstones is not None:
            out = out.join(F.broadcast(self.tombstones), "doc_id", "left_anti")
        fd = self._filter_docs(filters)
        if fd is not None:
            out = out.join(fd, "doc_id", "left_semi")
        return (
            out.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k).select("doc_id", "score")
        )

    def span_within_topk(self, little: str, big1: str, big2: str,
                         k: int = 10, width: int = 4,
                         filters: Filters = None) -> DataFrame:
        """(doc_id, score) top-k — Lucene SpanWithinQuery: positions
        of ``little`` contained inside some (``big1`` … ``big2``)
        pair at most ``width`` positions apart (any-pair containment,
        documented in the kernel).  Scored single-term BM25 with
        tf = contained-position count; one pruned positional scan
        over the three terms' postings — the docs table is never
        read."""
        ts = self._strip_stops([little, big1, big2])
        if len(set(ts)) < 3:
            raise ValueError("span_within_topk needs three distinct "
                             "terms that survive the analyzer chain")
        lit, bg1, bg2 = ts
        if not self.stats.get("positions"):
            raise ValueError(
                "span_within_topk requires positional postings "
                "(build_index(store_positions=True))"
            )
        kern = make_span_within_kernel(
            lit, bg1, bg2, int(width), float(self.stats["n_docs"]),
            self.stats["avgdl"], self.stats["k1"], self.stats["b"],
            self.stats["block_range"],
        )
        out = self._qblocks([lit, bg1, bg2], positions=True).mapInPandas(
            kern, SCORED_SCHEMA
        ).select("doc_id", "score")
        if self.tombstones is not None:
            out = out.join(F.broadcast(self.tombstones), "doc_id", "left_anti")
        fd = self._filter_docs(filters)
        if fd is not None:
            out = out.join(fd, "doc_id", "left_semi")
        return (
            out.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k).select("doc_id", "score")
        )

    def span_not_topk(self, include: str, exclude: str, k: int = 10,
                      pre: int = 0, post: int = 0,
                      filters: Filters = None) -> DataFrame:
        """(doc_id, score) top-k — Lucene SpanNotQuery: occurrences of
        ``include`` with no ``exclude`` within ``pre`` positions
        before / ``post`` after (pre=post=0 excludes only co-located
        duplicates — pass e.g. pre=1 to drop bigram contexts like
        "error handler" from an "error" query).  Scored single-term
        BM25 with tf = surviving-span count; docs whose every
        occurrence is excluded do not match.  One pruned positional
        scan over BOTH terms' postings — the docs table is never
        read."""
        ts = self._strip_stops([include, exclude])
        if len(ts) < 2:
            raise ValueError("span_not_topk terms must survive the "
                             "analyzer chain (stopword in query?)")
        inc, exc = ts
        if inc == exc:
            raise ValueError("include and exclude must differ")
        if not self.stats.get("positions"):
            raise ValueError(
                "span_not_topk requires positional postings "
                "(build_index(store_positions=True))"
            )
        kern = make_span_not_kernel(
            inc, exc, int(pre), int(post), float(self.stats["n_docs"]),
            self.stats["avgdl"], self.stats["k1"], self.stats["b"],
            self.stats["block_range"],
        )
        out = self._qblocks([inc, exc], positions=True).mapInPandas(
            kern, SCORED_SCHEMA
        ).select("doc_id", "score")
        if self.tombstones is not None:
            out = out.join(F.broadcast(self.tombstones), "doc_id", "left_anti")
        fd = self._filter_docs(filters)
        if fd is not None:
            out = out.join(fd, "doc_id", "left_semi")
        return (
            out.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k).select("doc_id", "score")
        )

    def explain_score(self, doc_id: int, qterms: list[str]) -> DataFrame:
        """(term, tf, df, idf, tfnorm, part) — per-term BM25 score
        breakdown for one document: Solr ``debugQuery=true`` /
        Lucene ``Explanation`` parity.  ``sum(part)`` equals the
        document's score in :meth:`topk` /:meth:`query_scored` for
        the same terms (tested).  One pushed-id docs probe joined to
        the broadcast catalog — no postings scan."""
        ts = sorted(set(self._strip_stops(qterms)))
        st = self.stats
        d = self.docs.filter(F.col("doc_id") == int(doc_id)).select(
            "doc_id", "toks", F.col("dl").cast("double").alias("_dl")
        )
        qcol = F.explode(F.array(*[F.lit(t) for t in ts])).alias("term")
        per = d.select("doc_id", qcol, "toks", "_dl").withColumn(
            "tf",
            F.size(F.filter(F.col("toks"), lambda x: x == F.col("term")))
            .cast("double"),
        ).filter(F.col("tf") > 0).drop("toks")
        cat = self.terms.select("term", F.col("df").cast("double").alias("_df"))
        n_docs, avgdl = float(st["n_docs"]), float(st["avgdl"])
        k1, b = float(st["k1"]), float(st["b"])
        idf = F.log(
            F.lit(1.0)
            + (F.lit(n_docs) - F.col("_df") + F.lit(0.5))
            / (F.col("_df") + F.lit(0.5))
        )
        tfnorm = (F.col("tf") * F.lit(k1 + 1.0)) / (
            F.col("tf")
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.lit(avgdl))
        )
        return (
            per.join(F.broadcast(cat), "term")
            .select(
                "term",
                F.col("tf").cast("long").alias("tf"),
                F.col("_df").cast("long").alias("df"),
                idf.alias("idf"),
                tfnorm.alias("tfnorm"),
                (idf * tfnorm).alias("part"),
            )
            .orderBy("term")
        )

    def segments_info(self) -> DataFrame:
        """One row per built (commit, group) segment with lineage and
        size metrics from the build manifest — the Solr admin/Luke
        'segments' surface.  Pure manifest read, no Spark job over
        the index."""
        from katta_spark.index.build import load_manifest

        rows = [
            {
                "commit": m["commit"],
                "group": int(m["group"]),
                "status": m["status"],
                "n_blocks": int(m.get("n_blocks") or 0),
                "n_postings": int(m.get("n_postings") or 0),
                "bytes": int(m.get("bytes") or 0),
            }
            for m in load_manifest(self.index_dir)
        ]
        return self.spark.createDataFrame(
            rows,
            "commit string, group int, status string, n_blocks long, "
            "n_postings long, bytes long",
        ).orderBy("commit", "group")

    def topk_sorted(self, qterms: list[str], secondary: list[tuple[str, str]],
                    k: int = 10, mode: str = "or",
                    filters: Filters = None) -> DataFrame:
        """(doc_id, score, fields...) top-k under a COMPOSITE sort
        ``score desc, field1 dir, ..., doc_id asc`` — Solr's
        ``sort=score desc, price asc`` form.  One scored pass joined
        to the stored sort fields, TakeOrderedAndProject merge."""
        scored = self.scored_docs(sorted(set(self._strip_stops(qterms))), mode)
        fd = self._filter_docs(filters)
        if fd is not None:
            scored = scored.join(fd, "doc_id", "left_semi")
        cols = [c for c, _ in secondary]
        joined = scored.join(self.docs.select("doc_id", *cols), "doc_id")
        order = [F.desc("score")] + [
            F.asc(c) if d == "asc" else F.desc(c) for c, d in secondary
        ] + [F.asc("doc_id")]
        return joined.orderBy(*order).limit(k).select(
            "doc_id", "score", *cols
        )

    def suggest_regex(self, pattern: str, n: int = 10) -> DataFrame:
        """(term, df) — Solr TermsComponent ``terms.regex``: content
        terms FULLY matching the regex (Lucene whole-term anchoring),
        ranked by df.  One catalog scan."""
        # (?iu) instead of pattern.lower(): lowercasing would invert
        # shorthand classes (\S -> \s), silently negating them; the
        # u flag makes Java's case folding Unicode-aware to match
        # the node tier's re.IGNORECASE (default-Unicode in Python).
        anchored = f"(?iu)^(?:{pattern})$"
        cond = F.col("term").rlike(anchored)
        if ":" not in pattern:
            cond = cond & ~F.col("term").contains(":")
        return (
            self.terms.filter(cond)
            .select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(n)
        )

    def suggest_infix(self, fragment: str, n: int = 10) -> DataFrame:
        """(term, df) — the ``n`` highest-df content terms CONTAINING
        the fragment: Lucene AnalyzingInfixSuggester parity (the
        search-as-you-type suggester that matches inside terms, not
        just prefixes).  One catalog scan with a Contains filter
        pushed to the term-sorted parquet."""
        frag = fragment.lower()
        cond = F.col("term").contains(frag)
        if ":" not in frag:
            cond = cond & ~F.col("term").contains(":")
        return (
            self.terms.filter(cond)
            .select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(n)
        )

    def near_topk(self, terms: list[str], slop: int = 0, k: int = 10,
                  filters: Filters = None) -> DataFrame:
        """Unordered proximity top-k (Lucene SpanNearQuery with
        inOrder=false): docs where ALL (distinct) terms co-occur
        within a window of ``len(terms)+slop`` token positions, in any
        order; ranked by the BM25 sum of the terms.

        Executes on the positional postings exactly like
        :meth:`phrase_topk` — same pruned scan, same doc-range kernel,
        only the position verifier differs (minimum-window sweep
        instead of the ordered chain).  Requires positional postings.
        """
        qterms = sorted(set(self._strip_stops(terms)))
        if not qterms:
            return self.docs.select(
                "doc_id", F.lit(0.0).alias("score")
            ).filter(F.lit(False))
        if len(qterms) == 1:
            out = self.scored_docs(qterms)
        else:
            if not self.stats.get("positions"):
                raise ValueError(
                    "near queries need positional postings "
                    "(build_index(store_positions=True))"
                )
            out = self._phrase_scored_positional(
                qterms, slop=slop, ordered=False
            )
        fd = self._filter_docs(filters)
        if fd is not None:
            out = out.join(fd, "doc_id", "left_semi")
        return (
            out.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", "score")
        )

    def suggest(self, prefix: str, n: int = 10) -> DataFrame:
        """(term, df) — the ``n`` highest-df content terms with the
        given prefix: the Solr TermsComponent surface (terms.prefix /
        terms.limit, which the reference reaches through its SolrQuery
        pass-through).  One pruned catalog scan: ``startswith`` pushes
        to parquet as StringStartsWith on the term-sorted files."""
        cond = F.col("term").startswith(prefix.lower())
        if ":" not in prefix:
            # content terms only — field/path postings share the term
            # space behind "<field>:" prefixes
            cond = cond & ~F.col("term").contains(":")
        return (
            self.terms.filter(cond)
            .select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(n)
        )

    def spellcheck(self, word: str, max_edits: int = 2,
                   n: int = 5) -> DataFrame:
        """(term, dist, df) — the ``n`` closest content terms to
        ``word`` by (edit distance asc, df desc, term asc): the Solr
        SpellCheckComponent surface (spellcheck.q, IndexBasedSpell-
        Checker over the term dictionary).  Runs on the TERM CATALOG
        (one row per distinct term — orders of magnitude smaller than
        postings or docs), with a length-window pre-filter
        |len(term) - len(word)| <= max_edits that prunes most of the
        catalog before the levenshtein evaluates; both predicates are
        JVM expressions, no Python.  Same dictionary-expansion shape
        as fuzzy queries (scored_docs_expanded), surfaced as
        suggestions instead of scores."""
        w = word.lower()
        cond = (
            ~F.col("term").contains(":")  # content terms only
            & (F.abs(F.length("term") - F.lit(len(w))) <= max_edits)
        )
        return (
            self.terms.filter(cond)
            .select(
                "term",
                F.levenshtein(F.col("term"), F.lit(w)).alias("dist"),
                "df",
            )
            .filter(F.col("dist") <= max_edits)
            .filter(F.col("dist") > 0)  # the word itself is not a fix
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(n)
        )

    def suggest_phrase(self, words: list[str], max_edits: int = 2,
                       per_word: int = 3, n: int = 5,
                       add_k: float = 1.0,
                       edit_penalty: float = 1.0) -> DataFrame:
        """ES phrase suggester / Solr ``spellcheck.collate`` ("did
        you mean"): per-position candidate terms from the TERM
        CATALOG (edit distance <= ``max_edits``; the word itself
        qualifies at distance 0), whole-phrase candidates ranked by
        the add-k smoothed bigram log-likelihood of the index's own
        token stream minus ``edit_penalty`` per edit.  Returns
        ``(phrase, total_dist, score)``, score desc.

        Plan: candidates are catalog-only (<= ``per_word`` rows per
        position, length-window + levenshtein JVM exprs); the phrase
        lattice is a bounded cross join (``per_word^len`` rows);
        bigram/history/vocab counts hash-aggregate over the stored
        token arrays with map-side combine (shuffle O(bigram vocab)),
        and the tiny candidate-pair list BROADCASTS into those
        aggregates, so the corpus-sized tables stream past a hash
        join — no large-side shuffle to the driver at any scale."""
        toks = F.col("toks")
        base = self.docs.select(toks.alias("_toks"))
        t = F.col("_toks")
        grams = F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 2),
                lambda i: F.struct(
                    F.get(t, i).alias("w1"),
                    F.get(t, i + F.lit(1)).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        big = (
            base.select(F.explode(grams).alias("g"))
            .select(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("n_ab"))
        )
        hist = big.groupBy("w1").agg(F.sum("n_ab").alias("n_a"))
        voc = base.select(F.explode(t).alias("_u")).agg(
            F.count_distinct("_u").alias("_v")
        )

        cands = []
        for i, wd in enumerate(words):
            w = wd.lower()
            c = (
                self.terms.filter(~F.col("term").contains(":"))
                .filter(
                    F.abs(F.length("term") - F.lit(len(w))) <= max_edits
                )
                .select(
                    "term",
                    F.levenshtein(F.col("term"), F.lit(w)).alias("dist"),
                    "df",
                )
                .filter(F.col("dist") <= max_edits)
                .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
                .limit(int(per_word))
                .select(F.col("term").alias(f"_w{i}"),
                        F.col("dist").alias(f"_d{i}"))
            )
            cands.append(c)
        ph = cands[0]
        for c in cands[1:]:
            ph = ph.crossJoin(F.broadcast(c))

        # candidate bigram pairs (tiny) -> broadcast into the big
        # aggregates; absent pairs fall back to the smoothed floor
        pl = None
        for i in range(len(words) - 1):
            p = cands[i].crossJoin(F.broadcast(cands[i + 1])).select(
                F.col(f"_w{i}").alias("w1"),
                F.col(f"_w{i + 1}").alias("w2"),
            )
            pl = p if pl is None else pl.unionByName(p)
        pl = pl.distinct()
        present = big.join(F.broadcast(pl), ["w1", "w2"])
        hpresent = hist.join(
            F.broadcast(pl.select("w1").distinct()), "w1"
        )
        ak = F.lit(float(add_k))
        scores = (
            pl.join(present, ["w1", "w2"], "left")
            .join(hpresent, "w1", "left")
            .crossJoin(F.broadcast(voc))
            .select(
                "w1", "w2",
                F.log(
                    (F.coalesce("n_ab", F.lit(0)).cast("double") + ak)
                    / (
                        F.coalesce("n_a", F.lit(0)).cast("double")
                        + ak * F.col("_v").cast("double")
                    )
                ).alias("_lp"),
            )
        )
        total_lp = None
        for i in range(len(words) - 1):
            s = scores.select(
                F.col("w1").alias(f"_w{i}"),
                F.col("w2").alias(f"_w{i + 1}"),
                F.col("_lp").alias(f"_lp{i}"),
            )
            ph = ph.join(F.broadcast(s), [f"_w{i}", f"_w{i + 1}"])
            lp = F.col(f"_lp{i}")
            total_lp = lp if total_lp is None else total_lp + lp
        total_dist = None
        for i in range(len(words)):
            d = F.col(f"_d{i}")
            total_dist = d if total_dist is None else total_dist + d
        return (
            ph.select(
                F.concat_ws(
                    " ", *[F.col(f"_w{i}") for i in range(len(words))]
                ).alias("phrase"),
                total_dist.cast("int").alias("total_dist"),
                F.round(
                    total_lp - F.lit(float(edit_penalty)) * total_dist,
                    6,
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("phrase"))
            .limit(int(n))
        )

    def topk_boosted(self, qterms: list[str], boost: Column, k: int = 10,
                     mode: str = "or", filters: Filters = None) -> DataFrame:
        """BM25 top-k with a multiplicative function-query boost
        (Solr boost= / bf recip(...): e.g. freshness or length decay):
        final score = BM25 * boost(doc), where ``boost`` is a Column
        expression over the docs table's stored fields — JVM-side,
        arbitrary arithmetic.  The matched set joins the docs table on
        doc_id to evaluate the function (same co-partitioned join
        shape as fetch_details, but BEFORE the top-k cut, since a
        boost can reorder beyond any unboosted prefix — WAND bounds
        are unsound under external multipliers, so this path scores
        exhaustively and merges with TakeOrderedAndProject)."""
        scored = self.scored_docs(qterms, mode)
        fd = self._filter_docs(filters)
        if fd is not None:
            scored = scored.join(fd, "doc_id", "left_semi")
        bdf = self.docs.select("doc_id", boost.cast("double").alias("_boost"))
        return (
            scored.join(bdf, "doc_id")
            .select(
                "doc_id",
                (F.col("score") * F.col("_boost")).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def dismax_topk(self, clauses: list[str], tie: float = 0.0,
                    k: int = 10) -> DataFrame:
        """DisjunctionMax top-k (Solr dismax / Lucene
        DisjunctionMaxQuery): per-doc score = max(clause scores) +
        ``tie`` * (sum - max).  Each clause is a term — a content
        token or a ``field:value`` scored field posting (the dismax
        ``qf`` shape: the same word searched across fields, the best
        field winning, others tie-breaking).

        ONE term-pruned postings scan; the kernel emits per-clause
        scores and the max/sum combine is a JVM hash aggregation —
        same shuffle count as a plain OR query at any scale.
        tie=1.0 degrades to the OR sum; tie=0.0 is a pure max."""
        terms = sorted(set(self._strip_stops(clauses)))
        kern = make_clause_kernel(
            float(self.stats["n_docs"]), self.stats["avgdl"],
            self.stats["k1"], self.stats["b"], self.stats["block_range"],
        )
        per = self._qblocks(terms).mapInPandas(
            kern, "doc_id long, term string, score double"
        )
        if self.tombstones is not None:
            per = per.join(F.broadcast(self.tombstones), "doc_id", "left_anti")
        t = F.lit(float(tie))
        agg = per.groupBy("doc_id").agg(
            F.max("score").alias("_mx"), F.sum("score").alias("_sm")
        )
        return (
            agg.select(
                "doc_id",
                (F.col("_mx") + t * (F.col("_sm") - F.col("_mx"))).alias(
                    "score"
                ),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def cross_fields_topk(self, words: list[str], fields: list[str],
                          k: int = 10) -> DataFrame:
        """ES ``multi_match type=cross_fields`` / Lucene
        ``BlendedTermQuery``: each WORD is looked up in every listed
        field (variant ``f:w``; the bare content token for
        ``"content"``), the per-field document frequencies are
        BLENDED into one df per word (max over the word's variants —
        ES's blending), so a word common in one field and rare in
        another scores with a single consistent IDF.  Per doc, each
        word contributes its best variant's score (dismax per word);
        words sum.

        Plan: a <= |words|x|fields|-row catalog slice; blended df via
        a window max over the word group (in-plan, no driver
        collect); broadcast back into the term-pruned postings scan;
        the clause kernel emits per-variant scores and both combines
        (word max, doc sum) are JVM hash aggs — one postings scan,
        one shuffle more than plain OR at any scale."""
        from pyspark.sql import Window

        variants: list[str] = []
        for wd in sorted({w.lower() for w in words}):
            for f in fields:
                variants.append(wd if f == "content" else f"{f}:{wd}")
        cat = self.terms.filter(F.col("term").isin(variants)).select(
            "term", "df"
        )
        word = F.substring_index(F.col("term"), ":", -1)
        cat2 = cat.select(
            "term",
            F.max("df").over(Window.partitionBy(word)).alias("df"),
        )
        cols = ["term", "block_id", "max_tf", "min_dl",
                "doc_gaps", "tfs", "dls"]
        blocks = (
            self.postings.select(*cols)
            .join(F.broadcast(cat2), "term")
            .repartition("block_id")
            .sortWithinPartitions("block_id", "term")
        )
        kern = make_clause_kernel(
            float(self.stats["n_docs"]), self.stats["avgdl"],
            self.stats["k1"], self.stats["b"], self.stats["block_range"],
        )
        per = blocks.mapInPandas(
            kern, "doc_id long, term string, score double"
        )
        if self.tombstones is not None:
            per = per.join(F.broadcast(self.tombstones), "doc_id", "left_anti")
        agg = (
            per.withColumn("word", F.substring_index("term", ":", -1))
            .groupBy("doc_id", "word")
            .agg(F.max("score").alias("_s"))
            .groupBy("doc_id")
            .agg(F.sum("_s").alias("score"))
        )
        return (
            agg.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", "score")
        )

    def most_fields_topk(self, words: list[str], fields: list[str],
                         k: int = 10) -> DataFrame:
        """ES ``multi_match type=most_fields``: each WORD is looked
        up in every listed field (variant ``f:w``; the bare content
        token for ``"content"``) and a document's score is the plain
        SUM of every matching variant's BM25 — no df blending, no
        per-word max.  The more fields that match, the higher the
        score (the "same text analyzed different ways" shape), the
        exact complement of :meth:`cross_fields_topk` (blended df,
        per-word best field) and :meth:`dismax_topk` (best clause
        wins).  Completes the ES multi_match trio.

        Plan: catalog slice of <= |words|x|fields| variants, each
        with its OWN df, broadcast into the term-pruned postings
        scan; the clause kernel emits per-variant scores and the
        per-doc sum is one JVM hash agg — identical shuffle count to
        a plain OR query at any scale."""
        variants: list[str] = []
        for wd in sorted({w.lower() for w in words}):
            for f in fields:
                variants.append(wd if f == "content" else f"{f}:{wd}")
        cat = self.terms.filter(F.col("term").isin(variants)).select(
            "term", "df"
        )
        cols = ["term", "block_id", "max_tf", "min_dl",
                "doc_gaps", "tfs", "dls"]
        blocks = (
            self.postings.select(*cols)
            .join(F.broadcast(cat), "term")
            .repartition("block_id")
            .sortWithinPartitions("block_id", "term")
        )
        kern = make_clause_kernel(
            float(self.stats["n_docs"]), self.stats["avgdl"],
            self.stats["k1"], self.stats["b"], self.stats["block_range"],
        )
        per = blocks.mapInPandas(
            kern, "doc_id long, term string, score double"
        )
        if self.tombstones is not None:
            per = per.join(F.broadcast(self.tombstones), "doc_id", "left_anti")
        agg = per.groupBy("doc_id").agg(F.sum("score").alias("score"))
        return (
            agg.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", "score")
        )

    def combined_fields_topk(self, words: list[str], fields: list[str],
                             k: int = 10) -> DataFrame:
        """ES ``combined_fields`` — the TERM-CENTRIC multi-field mode
        (Lucene CombinedFieldQuery / simplified BM25F) completing the
        four-mode family: the listed fields act as ONE virtual field —
        per doc a word's term frequencies SUM across fields BEFORE
        the saturation curve (so five spread-out occurrences saturate
        like five same-field occurrences, unlike most_fields' sum of
        per-field scores), and the word's df is the size of the UNION
        of the variants' doc sets (not a max-blend like cross_fields).
        dl/avgdl stay the content-field norms (field postings carry
        the content dl — the same convention the scored-field BM25
        uses).

        Plan: one term-pruned postings scan decoded to raw
        (doc, term, tf, dl) rows, a (doc, word) hash agg sums tfs, a
        tiny per-word countDistinct computes the union df
        (broadcast back) — two aggs over the pruned rows only, never
        a corpus scan."""
        from katta_spark.index.delete import _decode_rows_kernel

        variants: list[str] = []
        for wd in sorted({w.lower() for w in words}):
            for f in fields:
                variants.append(wd if f == "content" else f"{f}:{wd}")
        rows = (
            self.postings.filter(F.col("term").isin(variants))
            .select("term", "block_id", "doc_gaps", "tfs", "dls")
            .mapInPandas(
                _decode_rows_kernel(self.stats["block_range"]),
                "doc_id long, dl long, term string, tf long",
            )
            .withColumn("word", F.substring_index("term", ":", -1))
        )
        if self.tombstones is not None:
            rows = rows.join(F.broadcast(self.tombstones), "doc_id",
                             "left_anti")
        per_doc = rows.groupBy("doc_id", "word").agg(
            F.sum("tf").alias("tfc"), F.max("dl").alias("dl")
        )
        dfw = rows.groupBy("word").agg(
            F.countDistinct("doc_id").alias("dfc")
        )
        n = float(self.stats["n_docs"])
        k1, b = self.stats["k1"], self.stats["b"]
        avgdl = self.stats["avgdl"]
        idf = F.log(
            F.lit(1.0)
            + (F.lit(n) - F.col("dfc") + F.lit(0.5))
            / (F.col("dfc") + F.lit(0.5))
        )
        tfc = F.col("tfc").cast("double")
        tfn = (tfc * F.lit(k1 + 1.0)) / (
            tfc + F.lit(k1) * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl)
            )
        )
        scored = (
            per_doc.join(F.broadcast(dfw), "word")
            .withColumn("_s", idf * tfn)
            .groupBy("doc_id")
            .agg(F.sum("_s").alias("score"))
        )
        return (
            scored.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k).select("doc_id", "score")
        )

    def distance_feature_topk(self, qterms: list[str], field: str,
                              origin: float, pivot: float, k: int = 10,
                              boost: float = 1.0, mode: str = "or",
                              filters: Filters = None) -> DataFrame:
        """(doc_id, score, feat_score) — the ES ``distance_feature``
        query over a numeric field: final score = BM25 + ``boost`` ·
        pivot/(pivot + |field − origin|).  Docs AT the origin gain
        the full boost; the contribution halves at distance
        ``pivot`` (recency / proximity boosting without killing
        relevance — the additive cousin of a gauss decay).

        Same plan shape as :meth:`rank_feature_topk`: the scored
        pass joins a two-column docs projection, the feature term is
        pure column algebra, and the ranking is
        TakeOrderedAndProject over ALL matches — never a re-rank of
        a BM25 shortlist."""
        scored = self.scored_docs(sorted(set(qterms)), mode)
        fd = self._filter_docs(filters)
        if fd is not None:
            scored = scored.join(fd, "doc_id", "left_semi")
        dist = F.abs(F.col(field).cast("double") - F.lit(float(origin)))
        # a NULL field keeps plain BM25 (ES's additive
        # distance_feature leaves base relevance intact for docs
        # missing the field) — without the coalesce the NULL would
        # poison score itself and sink the doc to the bottom
        feat = F.coalesce(
            F.lit(float(boost)) * F.lit(float(pivot))
            / (F.lit(float(pivot)) + dist),
            F.lit(0.0),
        )
        out = (
            scored.join(self.docs.select("doc_id", field), "doc_id")
            .withColumn("feat_score", feat)
            .withColumn("score", F.col("score") + F.col("feat_score"))
        )
        return (
            out.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k).select("doc_id", "score", "feat_score")
        )

    def has_parent_topk(self, qterms: list[str], parent_field: str,
                        k: int = 10, score_mode: str = "max",
                        mode: str = "or") -> DataFrame:
        """(doc_id, parent, score) — ES ``has_parent`` with scoring:
        every CHILD document whose parent group matches the parent
        query is returned, carrying its parent's aggregate hit score
        (``score_mode``: max/sum/min/avg over the parent group's own
        matching docs).  The inverse of :meth:`group_score_topk`
        (has_child): there parents are ranked by their children;
        here children inherit their parent's score.  Ties break by
        doc_id so the k-cut is deterministic.

        Plan: one term-pruned scored pass, one tiny hash agg to the
        parent-score table (|distinct parents| rows), broadcast back
        into a narrow docs projection — the corpus is read once and
        the join side is bounded by the parent cardinality, never
        the hit count."""
        aggf = {"max": F.max, "sum": F.sum, "min": F.min,
                "avg": F.avg}[score_mode]
        scored = self.scored_docs(sorted(set(qterms)), mode)
        hits = scored.join(
            self.docs.select("doc_id", parent_field), "doc_id"
        )
        pscore = hits.groupBy(parent_field).agg(
            F.round(aggf(F.round("score", 6)), 6).alias("score")
        )
        kids = self.docs.select(
            "doc_id", F.col(parent_field).alias("parent")
        )
        if self.tombstones is not None:
            kids = kids.join(
                F.broadcast(self.tombstones), "doc_id", "left_anti"
            )
        out = kids.join(
            F.broadcast(pscore.withColumnRenamed(parent_field, "parent")),
            "parent",
        )
        return (
            out.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k).select("doc_id", "parent", "score")
        )

    def terms_set_topk(self, qterms: list[str], min_match_expr: str,
                       k: int = 10) -> DataFrame:
        """(doc_id, score, n_matched) — the ES ``terms_set`` query:
        a document matches when it contains at least
        ``min_match_expr`` of the query terms, where the threshold
        is PER-DOCUMENT (a SQL expression over the doc's stored
        fields — ES's ``minimum_should_match_field`` /
        ``minimum_should_match_script``).  Docs whose required count
        exceeds ``len(qterms)`` can never match — that falls out of
        ``n_matched <= len(qterms)`` with no special case.  Score is
        the plain OR BM25 sum over the matched terms.

        Plan: the term-pruned scored pass already carries the
        distinct-matched-term count (``nt``) out of the kernel, so
        the per-doc threshold is one narrow docs join + row filter —
        identical shuffle shape to rank_feature at any scale."""
        terms = sorted(set(self._strip_stops(qterms)))
        kern = make_exhaustive_kernel(
            float(self.stats["n_docs"]), self.stats["avgdl"],
            self.stats["k1"], self.stats["b"], self.stats["block_range"],
        )
        out = self._qblocks(terms).mapInPandas(kern, SCORED_SCHEMA)
        if self.tombstones is not None:
            out = out.join(F.broadcast(self.tombstones), "doc_id", "left_anti")
        req = self.docs.selectExpr(
            "doc_id", f"CAST(({min_match_expr}) AS INT) AS _req"
        )
        hits = out.join(req, "doc_id").filter(F.col("nt") >= F.col("_req"))
        return (
            hits.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", "score", F.col("nt").alias("n_matched"))
        )

    def boosting_topk(self, pos_terms: list[str], neg_terms: list[str],
                      negative_boost: float = 0.2, k: int = 10,
                      mode: str = "or") -> DataFrame:
        """(doc_id, score) — the ES ``boosting`` query: documents
        matching the positive query keep their BM25 score UNLESS they
        also match the negative query, in which case the score is
        multiplied by ``negative_boost`` — demotion without exclusion
        (the soft complement of a NOT clause).

        Plan: two term-pruned scored passes (positive + negative),
        one left join on doc_id, column algebra for the demotion —
        no corpus scan, both sides bounded by their hit counts."""
        scored = self.scored_docs(sorted(set(pos_terms)), mode)
        neg = (
            self.scored_docs(sorted(set(neg_terms)))
            .select("doc_id")
            .withColumn("_neg", F.lit(1))
        )
        out = scored.join(neg, "doc_id", "left").withColumn(
            "score",
            F.when(F.col("_neg").isNull(), F.col("score")).otherwise(
                F.col("score") * F.lit(float(negative_boost))
            ),
        )
        return (
            out.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k).select("doc_id", "score")
        )

    def random_score_topk(self, qterms: list[str], seed: str = "",
                          k: int = 10, mode: str = "or") -> DataFrame:
        """(doc_id, score) — ES ``function_score`` with
        ``random_score`` (boost_mode=replace): every matching doc
        gets a DETERMINISTIC pseudo-random score in [0, 1) derived
        from (seed, doc_id) via the repo's one hash_bucket device
        (md5-based, oracle-mirrorable in SQL), so "show me a random
        sample of matches" is reproducible across runs, shards, and
        engines.  Changing ``seed`` reshuffles.

        Plan: matched ids from the term-pruned scan, one JVM md5
        column expression — no Python, no extra shuffle."""
        from katta_spark.ops.sampling import N_BUCKETS, hash_bucket

        matched = self.matched_docs(sorted(set(qterms)), mode)
        out = matched.withColumn(
            "score",
            F.round(
                hash_bucket(F.col("doc_id"), salt=str(seed))
                / F.lit(float(N_BUCKETS)),
                6,
            ),
        )
        return (
            out.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k).select("doc_id", "score")
        )

    def rerank_topk(self, qterms: list[str], rq_terms: list[str],
                    rerank_docs: int = 60, weight: float = 2.0,
                    k: int = 10, mode: str = "or",
                    rq_mode: str = "or") -> DataFrame:
        """Solr ReRankQParser (``rq={!rerank reRankQuery=$rrq
        reRankDocs=N reRankWeight=W}``): the main query's top-N
        candidates are rescored by the rerank query and reordered by
        ``combined = main + W * rerank``; docs outside the top-N
        window are untouched (they can never enter the reranked set),
        and candidates the rerank query does not match keep their
        main score — Solr's additive combine, exactly.

        Scale shape: stage 2 never rescans the corpus.  The rerank
        postings scan is pruned twice — by TERM (parquet DataFilters
        on the rerank terms) and by DOC-RANGE (broadcast join on the
        candidates' block ids, so only posting blocks containing a
        candidate are decoded) — then the per-doc combine is a
        broadcast join against the <=N-row candidate set.  Stage-2
        cost is O(rerank-term postings within candidate blocks),
        independent of corpus size and of how many docs the rerank
        query matches globally."""
        cand = self.topk(qterms, k=rerank_docs, mode=mode)
        br = int(self.stats["block_range"])
        cand_blocks = cand.select(
            (F.col("doc_id") / br).cast("long").alias("block_id")
        ).distinct()
        rr_terms = sorted(set(self._strip_stops(rq_terms)))
        cols = ["term", "block_id", "max_tf", "min_dl",
                "doc_gaps", "tfs", "dls"]
        cat = self.terms.filter(F.col("term").isin(rr_terms)).select(
            "term", "df"
        )
        blocks = (
            self.postings.filter(F.col("term").isin(rr_terms)).select(*cols)
            .join(F.broadcast(cand_blocks), "block_id")
            .join(F.broadcast(cat), "term")
            .repartition("block_id")
            .sortWithinPartitions("block_id", "term")
        )
        kern = make_exhaustive_kernel(
            float(self.stats["n_docs"]), self.stats["avgdl"],
            self.stats["k1"], self.stats["b"], br,
        )
        rr = blocks.mapInPandas(kern, SCORED_SCHEMA)
        if rq_mode == "and" and len(rr_terms) > 1:
            rr = rr.filter(F.col("nt") == len(rr_terms))
        # block pruning is a superset filter (boundary blocks hold
        # neighbours too): keep only true candidates before combine
        rr = rr.join(
            F.broadcast(cand.select("doc_id")), "doc_id", "left_semi"
        ).select("doc_id", F.col("score").alias("_rr"))
        return (
            cand.join(F.broadcast(rr), "doc_id", "left")
            .select(
                "doc_id",
                (
                    F.col("score")
                    + F.lit(float(weight))
                    * F.coalesce(F.col("_rr"), F.lit(0.0))
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def field_stats(self, qterms: list[str], field: str, mode: str = "or",
                    filters: Filters = None) -> DataFrame:
        """One-row numeric summary of ``field`` over the matching docs
        — the Solr StatsComponent surface (stats.field): count / min /
        max / sum / mean."""
        m = self.matched_docs(qterms, mode, filters)
        v = F.col(field).cast("double")
        return self.docs.join(m, "doc_id", "left_semi").agg(
            F.count(v).alias("n"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
            F.sum(v).alias("sum_v"),
            F.avg(v).alias("mean_v"),
        )

    def group_topk(self, qterms: list[str], group_field: str,
                   k_per_group: int = 3, mode: str = "or",
                   filters: Filters = None) -> DataFrame:
        """(group_field, doc_id, score, rank) — the top
        ``k_per_group`` hits WITHIN each value of ``group_field``:
        Solr result grouping (group.field / group.limit).  One scored
        pass + a per-group window; the shuffle keys on the group
        column, so group cardinality — not corpus size — bounds the
        per-task state."""
        from pyspark.sql import Window

        scored = self.scored_docs(sorted(set(qterms)), mode)
        fd = self._filter_docs(filters)
        if fd is not None:
            scored = scored.join(fd, "doc_id", "left_semi")
        joined = scored.join(
            self.docs.select("doc_id", group_field), "doc_id"
        )
        w = Window.partitionBy(group_field).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            joined.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k_per_group)
            .select(group_field, "doc_id", "score", "rank")
        )

    def diversified_sampler(self, qterms: list[str], key_field: str,
                            max_per_key: int = 1, shard_size: int = 100,
                            mode: str = "or",
                            filters: Filters = None) -> DataFrame:
        """(doc_id, score, key value, rank_in_key) — the ES
        ``diversified_sampler`` aggregation: the best-scoring sample
        of at most ``shard_size`` hits with at most ``max_per_key``
        docs per value of ``key_field``.  Deterministic definition
        (ES leaves per-shard order unspecified): per-key rank by
        (score desc, doc_id asc), keep ranks <= ``max_per_key``,
        then the global top ``shard_size`` by the same order.

        Plan shape: one scored pass + a per-key window (shuffle keys
        on ``key_field``, per-task state bounded by the key's match
        count) + TakeOrderedAndProject for the global sample — never
        a global sort."""
        from pyspark.sql import Window

        scored = self.scored_docs(sorted(set(qterms)), mode)
        fd = self._filter_docs(filters)
        if fd is not None:
            scored = scored.join(fd, "doc_id", "left_semi")
        joined = scored.join(
            self.docs.select("doc_id", key_field), "doc_id"
        )
        w = Window.partitionBy(key_field).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            joined.withColumn("rank_in_key", F.row_number().over(w))
            .filter(F.col("rank_in_key") <= int(max_per_key))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(shard_size))
            .select("doc_id", "score", key_field, "rank_in_key")
        )

    def expand_topk(self, qterms: list[str], collapse_field: str,
                    k: int = 10, n_expand: int = 2, mode: str = "or",
                    filters: Filters = None) -> DataFrame:
        """(group value, doc_id, score, exp_rank) — Solr
        ExpandComponent (``expand=true&expand.rows=n``): for each
        group whose head made the collapsed top-``k``
        (:meth:`collapse_topk`), the next ``n_expand`` members of
        that group, score-ranked (exp_rank 1 = best hidden member).

        Plan shape: the SAME single scored pass and group window as
        the collapse — heads (rank 1) pick the groups, ranks
        2..n+1 are the expand rows; the head set is tiny (<= k) and
        broadcast into the ranked rows, so expand adds no second
        corpus pass."""
        from pyspark.sql import Window

        scored = self.scored_docs(sorted(set(qterms)), mode)
        fd = self._filter_docs(filters)
        if fd is not None:
            scored = scored.join(fd, "doc_id", "left_semi")
        joined = scored.join(
            self.docs.select("doc_id", collapse_field), "doc_id"
        )
        w = Window.partitionBy(collapse_field).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        ranked = joined.withColumn("_rn", F.row_number().over(w))
        heads = (
            ranked.filter(F.col("_rn") == 1)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select(collapse_field)
        )
        return (
            ranked.join(F.broadcast(heads), collapse_field, "left_semi")
            .filter((F.col("_rn") >= 2) & (F.col("_rn") <= n_expand + 1))
            .select(
                collapse_field,
                "doc_id",
                "score",
                (F.col("_rn") - 1).cast("int").alias("exp_rank"),
            )
            .orderBy(collapse_field, "exp_rank")
        )

    def collapse_topk(self, qterms: list[str], collapse_field: str,
                      k: int = 10, mode: str = "or",
                      filters: Filters = None) -> DataFrame:
        """(doc_id, score, collapse_field) — Solr's
        CollapsingQParserPlugin (``{!collapse field=f}``, exposed by
        the reference through its SolrQuery pass-through): the result
        list keeps only the HIGHEST-scoring doc per value of
        ``collapse_field`` (tie doc_id asc), then the collapsed set is
        ranked globally and cut to top-k.

        Plan shape: one scored pass, a window keyed on the collapse
        column (per-task state bounded by group cardinality, never
        corpus size), then a TakeOrderedAndProject merge — no global
        sort.  NULL collapse values form one group (Solr
        nullPolicy=collapse)."""
        from pyspark.sql import Window

        scored = self.scored_docs(sorted(set(qterms)), mode)
        fd = self._filter_docs(filters)
        if fd is not None:
            scored = scored.join(fd, "doc_id", "left_semi")
        joined = scored.join(
            self.docs.select("doc_id", collapse_field), "doc_id"
        )
        w = Window.partitionBy(collapse_field).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            joined.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", "score", collapse_field)
        )

    def term_vectors(self, doc_ids: list[int]) -> DataFrame:
        """(doc_id, term, tf, df, tfidf) for the given docs — the
        Lucene/Solr TermVectorComponent surface
        (``tv=true&tv.df=true&tv.tf_idf=true``; the reference reaches
        it through SolrQuery pass-through,
        katta-client/.../client/LuceneClient.java:255-276).

        The ``doc_id IN`` filter pushes to the docs parquet scan
        (DataFilters — only the requested rows' row-groups are read);
        tf re-derives from the STORED token arrays of that tiny slice
        (one explode over len(doc_ids) rows, never the postings);
        df rides in from the term catalog via a broadcast of the
        slice, so the whole plan is shuffle-free."""
        ids = [int(d) for d in doc_ids]
        tf = (
            self.docs.filter(F.col("doc_id").isin(ids))
            .select("doc_id", F.explode("toks").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        n_docs = float(self.stats["n_docs"])
        idf = F.log(
            F.lit(1.0)
            + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        return (
            F.broadcast(tf)
            .join(self.terms.select("term", "df"), "term")
            .select(
                "doc_id", "term", "tf", "df",
                (F.col("tf") * idf).alias("tfidf"),
            )
        )

    def significant_terms(self, qterms: list[str], m_terms: int = 10,
                          mode: str = "or", min_df: int = 2) -> DataFrame:
        """(term, df_fg, df_bg, lift) — significant-terms aggregation
        (the Elasticsearch significant_terms dual of Solr's MLT rep
        terms): content terms overrepresented in the docs MATCHING
        the query (foreground) vs the whole index (background),
        ranked by ``lift = (df_fg/n_fg) / (df_bg/n_docs)``; ties
        df_fg desc, term asc.  Query terms themselves are excluded.

        Plan shape: matched ids (term-pruned postings scan) semi-join
        the STORED token arrays (no re-analysis), explode distinct,
        hash-agg df_fg — one shuffle over the foreground only; the
        foreground vocabulary joins the global catalog on term and
        n_fg rides in as a one-row broadcast, so nothing touches the
        driver."""
        qset = sorted(set(self._strip_stops(qterms)))
        matched = self.matched_docs(qset, mode)
        fg_terms = (
            self.docs.join(matched, "doc_id", "left_semi")
            .select(F.explode(F.array_distinct("toks")).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df_fg"))
            .filter(F.col("df_fg") >= int(min_df))
            .filter(~F.col("term").isin(qset))
        )
        n_fg = matched.agg(F.count(F.lit(1)).alias("_n_fg"))
        n_docs = float(self.stats["n_docs"])
        out = (
            fg_terms.join(self.terms.select("term", F.col("df").alias("df_bg")),
                          "term")
            .crossJoin(F.broadcast(n_fg))
            .withColumn(
                "lift",
                (F.col("df_fg") / F.col("_n_fg"))
                / (F.col("df_bg") / F.lit(n_docs)),
            )
        )
        return (
            out.orderBy(F.desc("lift"), F.desc("df_fg"), F.asc("term"))
            .limit(m_terms)
            .select("term", "df_fg", "df_bg", F.round("lift", 6).alias("lift"))
        )

    def elevate_topk(self, qterms: list[str], elevate_ids: list[int],
                     k: int = 10, exclude_ids: list[int] = (),
                     mode: str = "or") -> DataFrame:
        """(rank, doc_id, score, elevated) — Solr's
        QueryElevationComponent (elevate.xml editorial pinning): the
        ``elevate_ids`` docs occupy the TOP of the result list in the
        GIVEN order regardless of score (a pinned doc that does not
        match the query rides along with score 0.0 —
        forceElevation=true semantics), ``exclude_ids`` vanish, and
        the organic BM25 ranking fills the remaining ``k - n`` slots.

        Plan shape: the pinned-id list is a broadcast literal (never a
        shuffle); the organic tail is the usual TakeOrderedAndProject
        top-k; the final rank window runs over at most k rows."""
        from pyspark.sql import Window

        ids = [int(d) for d in elevate_ids]
        drop = sorted({int(d) for d in exclude_ids} | set(ids))
        scored = self.scored_docs(sorted(set(qterms)), mode)
        elev = self.spark.createDataFrame(
            [(i, d) for i, d in enumerate(ids)], "pos int, doc_id long"
        )
        matched = scored.join(F.broadcast(elev), "doc_id")
        unmatched = elev.join(
            F.broadcast(matched.select("doc_id")), "doc_id", "left_anti"
        ).select("doc_id", F.lit(0.0).alias("score"), "pos")
        etop = matched.select("doc_id", "score", "pos").unionByName(
            unmatched
        ).withColumn("elevated", F.lit(True))
        otop = (
            scored.filter(~F.col("doc_id").isin(drop))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(max(k - len(ids), 0))
            .select(
                "doc_id", "score",
                F.lit(None).cast("int").alias("pos"),
                F.lit(False).alias("elevated"),
            )
        )
        w = Window.orderBy(
            F.desc("elevated"), F.asc_nulls_last("pos"),
            F.desc("score"), F.asc("doc_id"),
        )
        return (
            etop.unionByName(otop)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("rank", "doc_id", "score", "elevated")
        )

    def more_like_this(self, doc_id: int, m_terms: int = 5, k: int = 10
                       ) -> DataFrame:
        """(doc_id, score) top-k docs similar to ``doc_id`` — the
        Lucene/Solr MoreLikeThis surface.  Representative terms = the
        source doc's top ``m_terms`` by tf·idf (tie-break term asc),
        selected IN-PLAN from the stored token array joined to the
        term catalog (no driver collect); they then score the corpus
        as an OR group via the catalog broadcast join, source doc
        excluded.  A tombstoned source returns empty — recommending
        from a deleted doc would resurrect it (the same rule
        get_docs enforces for realtime get)."""
        if self.tombstones is not None and (
            self.tombstones.filter(
                F.col("doc_id") == int(doc_id)
            ).first() is not None
        ):
            return self.spark.createDataFrame(
                [], "doc_id long, score double"
            )
        src = (
            self.docs.filter(F.col("doc_id") == doc_id)
            .select(F.explode("toks").alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        n_docs = float(self.stats["n_docs"])
        idf = F.log(
            F.lit(1.0)
            + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        rep = (
            src.join(self.terms.select("term", "df"), "term")
            .select(
                "term", "df", (F.col("tf") * idf).alias("w")
            )
            .orderBy(F.desc("w"), F.asc("term"))
            .limit(m_terms)
            .select("term", "df")
        )
        out = self._scored_from_catalog(rep).filter(
            F.col("doc_id") != doc_id
        )
        return (
            out.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", "score")
        )

    def highlight(self, hits: DataFrame, terms: list[str],
                  width: int = 80, text_col: str = "content",
                  pre: str = "<em>", post: str = "</em>") -> DataFrame:
        """Snippet generation for a hit slice — the Lucene/Solr
        Highlighter surface (the reference exposes Solr's ``hl``
        through its SolrQuery pass-through,
        katta-client/.../client/LuceneClient.java:255-276).

        For each hit: a ``width``-char window starting near the FIRST
        case-insensitive occurrence of any query term in the stored
        text, with every term occurrence inside the window wrapped in
        ``pre``/``post`` markers.  Pure JVM Column expressions
        (locate / substring / regexp_replace) applied to the
        broadcast-joined hit slice — no Python in the path, no extra
        shuffle, and the docs scan reads only (doc_id, text_col)."""
        import re as _re

        lows = sorted({t.lower() for t in terms})
        text = F.col(text_col)
        # first match position (1-based): min over per-term locate,
        # ignoring misses (locate = 0); docs with no match — and an
        # empty term list — snippet from the start of the text with
        # no markers (an empty alternation would match everywhere)
        if lows:
            locs = [
                F.nullif(F.locate(t, F.lower(text)), F.lit(0))
                for t in lows
            ]
            first = F.coalesce(
                F.least(*locs) if len(locs) > 1 else locs[0], F.lit(1)
            )
        else:
            first = F.lit(1)
        start = F.greatest(first - F.lit(max(width // 3, 0)), F.lit(1))
        snippet = F.substring(text, start, width)
        if lows:
            pat = "(?i)(" + "|".join(_re.escape(t) for t in lows) + ")"
            wrapped = F.regexp_replace(snippet, pat, f"{pre}$1{post}")
        else:
            wrapped = snippet
        doc_side = self.docs.select("doc_id", text.alias(text_col))
        return F.broadcast(hits).join(doc_side, "doc_id").select(
            *hits.columns, wrapped.alias("snippet")
        )

    def get_docs(self, doc_ids: list[int],
                 fields: list[str] | None = None) -> DataFrame:
        """Realtime get (Solr /get): stored fields for the given ids,
        no query involved.  Tombstoned docs are excluded (a realtime
        get never resurrects a delete).  The id filter pushes to the
        docs parquet scan as a DataFilter."""
        cols = ["doc_id", *(fields or [])] if fields else ["*"]
        return (
            self.docs.filter(
                F.col("doc_id").isin([int(i) for i in doc_ids])
            ).select(*cols)
        )

    def export(self, qterms: list[str], fields: list[str], mode: str = "or",
               filters: Filters = None) -> DataFrame:
        """Full result streaming — every matching doc's stored fields,
        no ranking, no limit.  The analogue of Katta's socket export
        protocol (node/SocketExportHandler.java:209-346, used by the
        Hive/Presto scans); consume with ``toLocalIterator()`` for the
        paging behavior of the reference's ``Next{limit}`` loop."""
        m = self.matched_docs(qterms, mode, filters)
        return self.docs.join(m, "doc_id", "left_semi").select(*fields)

    # ------------------------------------------- query-string front door

    def query_scored(self, q: str, fq: list[str] | None = None,
                     synonyms: dict[str, list[str]] | None = None
                     ) -> DataFrame:
        """(doc_id, score) for a full Lucene-syntax query string —
        NOT/ranges/wildcards/fuzzy/phrases/nesting/boosts (the
        reference's SolrPluginUtils.parseQueryStrings front door,
        LuceneServer.java:1314-1353).  q and every fq are MUST-joined
        (LuceneServer.java:1344-1352).  ``synonyms`` overrides the
        index's query-time synonym map for this call."""
        from katta_spark.fulltext.luceval import LuceneEvaluator
        from katta_spark.fulltext.qparse import combine_q_fq

        node = combine_q_fq(q, fq)
        return LuceneEvaluator(self, synonyms=synonyms).eval_query(node)

    def query(self, q: str, k: int = 10, offset: int = 0,
              fq: list[str] | None = None,
              synonyms: dict[str, list[str]] | None = None) -> DataFrame:
        """Top-k for a Lucene-syntax query string: (doc_id, score),
        score desc / doc_id asc, sliced [offset, offset+k).  Flat
        pure-term queries route through the WAND top-k path (unless a
        term has a synonym expansion); general boolean trees run the
        exhaustive evaluator."""
        from katta_spark.fulltext.luceval import LuceneEvaluator, flat_terms
        from katta_spark.fulltext.qparse import combine_q_fq

        node = combine_q_fq(q, fq)
        ev = LuceneEvaluator(self, synonyms=synonyms)
        flat = flat_terms(node)
        if flat is not None and not (set(flat[0]) & set(ev.synonyms)):
            terms, mode = flat
            return self.topk(terms, k=k, mode=mode, offset=offset)
        out = ev.eval_query(node).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        if offset:
            out = out.offset(offset)
        return out.limit(k).select("doc_id", "score")

    def search(self, q: str, k: int = 10, default_mode: str = "or",
               **kw) -> DataFrame:
        """Query-string search: ``idx.search("parse AND request
        lang:python")`` — the LuceneClient.search(SolrQuery) analogue
        (katta-client/.../client/LuceneClient.java:255-276).  Now a
        thin wrapper over :meth:`query` (``default_mode`` is retained
        for API compatibility; Lucene's default operator is OR and
        explicit AND/OR/NOT in the string override it)."""
        return self.query(q, k=k, **kw)

    @staticmethod
    def next_cursor(rows) -> tuple[float, int] | None:
        """Solr nextCursorMark parity: the cursor for the following
        page, derived from a collected page (list of Rows); None on
        an empty page (the client's loop-termination signal)."""
        if not rows:
            return None
        last = rows[-1]
        return (float(last["score"]), int(last["doc_id"]))

    def search_response(self, q: str, k: int = 10, offset: int = 0,
                        fq: list[str] | None = None,
                        after: tuple[float, int] | None = None
                        ) -> "SearchResponse":
        """Search with the reference's result envelope: hits +
        numFound + maxScore + qTime (QueryResponse.java:27-192,
        maxScore at :121-123).  ``after`` slices the hit page by a
        search-after cursor; numFound/maxScore still describe the
        WHOLE result set (Solr cursorMark semantics)."""
        import time as _time

        t0 = _time.monotonic()
        scored = self.query_scored(q, fq)
        agg = scored.agg(
            F.count(F.lit(1)).alias("n"), F.max("score").alias("mx")
        ).first()
        hits = scored
        if after is not None:
            s0, d0 = after
            hits = hits.filter(
                (F.col("score") < F.lit(float(s0)))
                | ((F.col("score") == F.lit(float(s0)))
                   & (F.col("doc_id") > F.lit(int(d0))))
            )
        hits = hits.orderBy(F.desc("score"), F.asc("doc_id"))
        if offset:
            hits = hits.offset(offset)
        hits = hits.limit(k).select("doc_id", "score")
        return SearchResponse(
            hits=hits,
            num_found=int(agg["n"]),
            max_score=float(agg["mx"]) if agg["mx"] is not None else None,
            qtime_ms=int((_time.monotonic() - t0) * 1000),
        )

    def fields_info(self) -> DataFrame:
        """(field, dtype, stored, indexed) for every field of the
        index — the reference's schema introspection RPC
        (LuceneServer.getFieldsInfo, LuceneServer.java:849-869 /
        FieldInfoWritable).  ``indexed`` = the field has postings
        (content text, path tokens, or build field_cols)."""
        internal = {"toks", "ptoks", "ftoks", "g", "commit",
                    "content_sha256", "dl"}
        indexed_fields = set(self.stats.get("indexed_fields", []))
        rows = []
        for f in self.docs.schema.fields:
            if f.name in internal:
                continue
            indexed = (
                f.name == "content"
                or f.name in indexed_fields
                or (f.name == "path" and "ptoks" in self.docs.columns)
            )
            rows.append((f.name, f.dataType.simpleString(), True, indexed))
        return self.spark.createDataFrame(
            rows, "field string, dtype string, stored boolean, indexed boolean"
        )

    def analyze_text(self, text: str) -> DataFrame:
        """(position, raw, term, kept) — the Solr ``/analysis/field``
        debug surface: every stage of THIS index's analyzer chain
        applied to a caller string, one row per raw token in order,
        with the post-chain term (NULL when a filter dropped it) and
        whether it survived.  Runs the same python analyzer mirror
        the query side uses (:meth:`_strip_stops` chain order:
        fold -> tokenize -> stop -> stem), so what you see here is
        exactly what the index stored and what queries are rewritten
        to."""
        from katta_spark.tokenizer import (
            py_fold_text, py_stem_token, py_tokenize,
        )

        filters = self.stats.get("token_filters") or []
        stops = set(self.stats.get("stopwords") or [])
        s = py_fold_text(text) if "ascii_fold" in filters else text
        rows = []
        for pos, raw in enumerate(py_tokenize(s)):
            if raw in stops:
                rows.append((pos, raw, None, False))
                continue
            term = (
                py_stem_token(raw) if "stem_plural" in filters else raw
            )
            rows.append((pos, raw, term, True))
        return self.spark.createDataFrame(
            rows, "position int, raw string, term string, kept boolean"
        )

    @classmethod
    def open_many(cls, spark: SparkSession,
                  pattern: str | list[str]) -> "PhysicalIndex":
        """Cross-index search handle: one PhysicalIndex over SEVERAL
        index directories (glob pattern or explicit list) — the
        reference client's index-name pattern expansion searching many
        indices in one call (Client.java:672-703).

        Doc-id namespacing: index i's ids shift by a cumulative offset
        rounded up to a block_range multiple, so BOTH doc_id and
        block_id translate by pure column arithmetic and the
        varint-gap decode (base = block_id * block_range) yields the
        namespaced ids with no re-encode.  The term catalogs merge by
        summation and stats merge exactly, so scores are identical to
        a single index built over the union of the corpora (tested).
        """
        if isinstance(pattern, str):
            import glob as _glob

            dirs = sorted(
                d for d in _glob.glob(pattern)
                if (Path(d) / "stats.json").exists()
            )
        else:
            dirs = list(pattern)
        if not dirs:
            raise ValueError(f"no indexes match {pattern!r}")
        parts = [cls(spark, d) for d in dirs]
        base = parts[0]
        br = base.stats["block_range"]
        for p in parts[1:]:
            if p.stats["block_range"] != br:
                raise ValueError("block_range differs across indexes")
            if (p.stats["k1"], p.stats["b"]) != (
                base.stats["k1"], base.stats["b"]
            ):
                raise ValueError("BM25 parameters differ across indexes")
            if p.stats.get("stopwords", []) != base.stats.get(
                "stopwords", []
            ):
                # different stop sets mean different dl/token arrays —
                # scores would silently disagree with a union build
                raise ValueError("stopword sets differ across indexes")

        merged = cls.__new__(cls)
        merged.spark = spark
        merged.index_dir = ",".join(dirs)

        docs_u = posts_u = tombs_u = None
        offset = 0
        n_total, dl_total = 0, 0.0
        for p in parts:
            mx = p.docs.agg(F.max("doc_id")).first()[0]
            span = (int(mx) + 1) if mx is not None else 0
            blocks_span = -(-span // br)  # ceil
            d = p.docs.withColumn(
                "doc_id", F.col("doc_id") + F.lit(offset)
            )
            po = p.postings.withColumn(
                "block_id", F.col("block_id") + F.lit(offset // br)
            )
            docs_u = d if docs_u is None else docs_u.unionByName(
                d, allowMissingColumns=True
            )
            posts_u = po if posts_u is None else posts_u.unionByName(
                po, allowMissingColumns=True
            )
            if p.tombstones is not None:
                t = p.tombstones.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(offset)
                )
                tombs_u = t if tombs_u is None else tombs_u.unionByName(t)
            n_total += int(p.stats["n_docs"])
            dl_total += float(p.stats["avgdl"]) * int(p.stats["n_docs"])
            offset += blocks_span * br
        merged.docs = docs_u
        merged.postings = posts_u
        merged.terms = posts_u.groupBy("term").agg(
            F.sum("n").alias("df"), F.sum("cf").alias("cf")
        )
        merged.tombstones = tombs_u
        # a field scored in only SOME indexes would carry a wrong
        # global df — only the intersection stays queryable as scored
        fields = None
        for p in parts:
            s = set(p.stats.get("indexed_fields", []))
            fields = s if fields is None else (fields & s)
        merged.stats = {
            "n_docs": n_total,
            "avgdl": (dl_total / n_total) if n_total else 0.0,
            "k1": base.stats["k1"],
            "b": base.stats["b"],
            "block_range": br,
            "indexed_fields": sorted(fields or ()),
            "stopwords": base.stats.get("stopwords", []),
            "synonyms": {
                k: v
                for p in reversed(parts)
                for k, v in p.stats.get("synonyms", {}).items()
            },
            "positions": all(
                p.stats.get("positions", False) for p in parts
            ),
            # bitsets are block-local offsets, so they survive the
            # block_id namespacing untouched — valid iff every part
            # carries them
            "id_bits": all(
                p.stats.get("id_bits", False) for p in parts
            ),
            "commits": sorted(
                {c for p in parts for c in p.stats.get("commits", [])}
            ),
        }
        return merged

    def register_views(self, prefix: str = "katta") -> None:
        """Expose the index as SQL temp views (``<prefix>_docs``,
        ``<prefix>_postings``, ``<prefix>_terms``) so plain
        ``spark.sql`` supersedes the reference's Hive storage handler
        and Presto connector (katta-hadoop/.../hive/
        KattaStorageHandler.java:64-82, katta-presto/.../
        KattaPageSource.java:105-133): Catalyst does the predicate
        pushdown those connectors only partially implemented."""
        self.docs.createOrReplaceTempView(f"{prefix}_docs")
        self.postings.createOrReplaceTempView(f"{prefix}_postings")
        self.terms.createOrReplaceTempView(f"{prefix}_terms")
