"""Posting-block codec: doc-gap + varint compression, fully
vectorized in numpy (no per-value Python loops — loop count is
bounded by the byte width, <= 10 iterations regardless of array
size).

This is the storage analogue of Lucene's postings format that the
reference serves via shards (doc-id delta + VInt in Lucene's .doc
files); block-max metadata rides alongside for WAND, per
BASELINE.json.north_star ("docID-gap + varint/PForDelta compression,
per-block max-score metadata").

A block covers a fixed doc_id RANGE (``BLOCK_RANGE``), not a fixed
posting count: block_id = doc_id // BLOCK_RANGE.  Doc-range-aligned
blocks make block_id a co-partitioning key — at query time every
query term's postings for the same doc range share a block_id, so a
single shuffle on block_id aligns all terms for exact per-doc
scoring, and a hot term ("import") is automatically split across as
many blocks as there are doc ranges (this is the explicit salt for
skewed terms required by north_rule: the build groups by
(term, block_id), never by term alone, so no reducer ever sees more
than BLOCK_RANGE postings of one term).
"""

from __future__ import annotations

import numpy as np

BLOCK_RANGE = 4096  # docs per block range


def encode_varint(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int array. Vectorized."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    nbytes = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += tmp > 0
        tmp >>= np.uint64(7)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    pos = np.zeros(v.size, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=pos[1:])
    shifted = v.copy()
    j = 0
    alive = np.arange(v.size)
    while alive.size:
        idx = pos[alive] + j
        byte = (shifted[alive] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[alive] > j + 1).astype(np.uint8) << 7
        out[idx] = byte | cont
        shifted[alive] >>= np.uint64(7)
        j += 1
        alive = alive[nbytes[alive] > j]
    return out.tobytes()


def decode_varint(buf: bytes) -> np.ndarray:
    """Inverse of :func:`encode_varint`. Vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.int64)
    ends = np.nonzero(b < 128)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    values = np.zeros(ends.size, dtype=np.uint64)
    width = ends - starts + 1
    j = 0
    alive = np.arange(ends.size)
    while alive.size:
        idx = starts[alive] + j
        values[alive] |= (b[idx] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * j)
        j += 1
        alive = alive[width[alive] > j]
    return values.astype(np.int64)


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                 block_id: int, block_range: int = BLOCK_RANGE
                 ) -> tuple[bytes, bytes, bytes]:
    """Encode one (term, block) posting run. ``doc_ids`` must be
    sorted ascending and lie in [block_id*block_range, (block_id+1)*
    block_range). Returns (doc_gaps, tfs, dls) varint buffers; the
    first gap is relative to the block base so every value is small."""
    base = block_id * block_range
    d = np.ascontiguousarray(doc_ids, dtype=np.int64)
    gaps = np.diff(d, prepend=base)
    return encode_varint(gaps), encode_varint(tfs), encode_varint(dls)


def decode_block(doc_gaps: bytes, tfs: bytes, dls: bytes,
                 block_id: int, block_range: int = BLOCK_RANGE
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_block`."""
    base = block_id * block_range
    gaps = decode_varint(doc_gaps)
    doc_ids = np.cumsum(gaps) + base
    return doc_ids, decode_varint(tfs), decode_varint(dls)


def encode_positions(pos_lists: list[np.ndarray]) -> tuple[bytes, bytes]:
    """Encode per-posting token-position lists (one list per posting
    of a (term, block) run, each sorted ascending) as two varint
    buffers: (pos_lens, pos_deltas) — the storage analogue of
    Lucene's .prx/.pos proximity files (delta-encoded positions).

    Stored in SEPARATE parquet columns from doc_gaps/tfs, so queries
    that never verify phrases never read a position byte (parquet
    column pruning)."""
    lens = np.array([len(p) for p in pos_lists], dtype=np.int64)
    if lens.sum() == 0:
        return encode_varint(lens), b""
    flat = np.concatenate([np.asarray(p, dtype=np.int64) for p in pos_lists])
    return encode_positions_flat(lens, flat)


def encode_positions_flat(lens: np.ndarray, flat: np.ndarray
                          ) -> tuple[bytes, bytes]:
    """Flat-form position encoder: ``lens[i]`` positions of posting i,
    concatenated in ``flat``.  The build feeds this form directly —
    the JVM flattens the per-posting lists before the Arrow transfer,
    so Python never materializes nested lists (measured ~1.6x faster
    posting phase at 8 cores vs the nested form)."""
    if flat.size == 0:
        return encode_varint(lens), b""
    deltas = np.diff(flat, prepend=np.int64(0))
    starts = np.zeros(lens.size, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    nz = starts[lens > 0]
    deltas[nz] = flat[nz]  # each list restarts its delta chain at 0
    return encode_varint(lens), encode_varint(deltas)


def decode_positions(pos_lens: bytes, pos_deltas: bytes
                     ) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_positions`: (lens, flat_positions);
    split with ``np.split(flat, np.cumsum(lens)[:-1])``."""
    lens = decode_varint(pos_lens)
    deltas = decode_varint(pos_deltas)
    if deltas.size == 0:
        return lens, deltas
    c = np.cumsum(deltas)
    starts = np.zeros(lens.size, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    nzmask = lens > 0
    nz = starts[nzmask]
    base = np.zeros(lens.size, dtype=np.int64)
    base[nzmask] = np.where(nz > 0, c[nz - 1], 0)
    flat = c - np.repeat(base, lens)
    return lens, flat


def bm25_tfnorm(tfs: np.ndarray, dls: np.ndarray, avgdl: float,
                k1: float, b: float) -> np.ndarray:
    """tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) in float64 — identical
    formula to the Column expression in fulltext.analysis and to the
    DuckDB oracle, so all three paths agree bit-for-bit-ish (<1e-12)."""
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def bm25_idf(df: float, n_docs: float) -> float:
    """ln(1 + (N - df + 0.5)/(df + 0.5)) — Lucene BM25Similarity."""
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


# ------------------------------------------------------------ BM25 scoring
# The one BM25 scorer of both query tiers (serve.LocalSearcher on a
# node, the mapInPandas kernels of search.PhysicalIndex on Spark).
# Input is a dict of numpy columns, one entry per (term, block) posting
# row — block_id, term, df (global), max_tf, min_dl and the varint
# buffers doc_gaps / tfs / dls — ORDERED BY (block_id, term).  A doc
# lives in exactly one block, so its contributions are consecutive
# term-sorted rows, and the per-doc float64 sum taken in row order is
# the same on every tier and at every parallelism.

#: most doc-gap bytes one wave decodes at once.  Every posting takes at
#: least one byte, so this bounds the postings (and the ~100 bytes of
#: intermediate arrays each needs, ~25 MB) a decode holds whatever the
#: block_range and the number of query terms, and the work between two
#: deadline checks (a few ms) — the deadline is checked once per wave
WAVE_BYTES = 1 << 18


def _idfs(df: np.ndarray, n_docs: float) -> np.ndarray:
    """:func:`bm25_idf` of every entry of ``df``, the same float64s."""
    df = df.astype(np.float64)
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _topk_merge(cur: tuple[np.ndarray, np.ndarray] | None,
                doc_ids: np.ndarray, scores: np.ndarray,
                k: int) -> tuple[np.ndarray, np.ndarray]:
    """Merge candidates into the running top-k (score desc, doc_id
    asc) — vectorized replacement for a per-doc heap."""
    if cur is not None:
        doc_ids = np.concatenate([cur[0], doc_ids])
        scores = np.concatenate([cur[1], scores])
    order = np.lexsort((doc_ids, -scores))[:k]
    return doc_ids[order], scores[order]


def score_postings(rows: dict, idx: np.ndarray, n_docs: float,
                   avgdl: float, k1: float, b: float, block_range: int
                   ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """BM25 of every posting of the rows ``idx`` of ``rows``:
    (doc_ids, scores, counts), postings in row order, ``counts`` the
    postings of each row.  Each varint column decodes with ONE
    :func:`decode_varint` over its joined bytes, doc ids come back
    from a segmented cumsum of the gaps, and every score is the same
    float64 expression as ``bm25_idf(df) * bm25_tfnorm(tf, dl)``."""
    if not len(idx):
        return (np.empty(0, np.int64), np.empty(0, np.float64),
                np.empty(0, np.int64))
    gaps = rows["doc_gaps"][idx]
    buf = b"".join(gaps)
    # values that end inside rows 0..i: a value ends on a byte < 128
    upto = np.searchsorted(np.flatnonzero(np.frombuffer(buf, np.uint8) < 128),
                           np.cumsum(np.fromiter(map(len, gaps), np.int64,
                                                 len(gaps))))
    counts = np.diff(upto, prepend=0)
    csum = np.zeros(int(upto[-1]) + 1, dtype=np.int64)
    np.cumsum(decode_varint(buf), out=csum[1:])
    base = rows["block_id"][idx].astype(np.int64) * block_range
    ids = csum[1:] - np.repeat(csum[upto - counts] - base, counts)
    tf = decode_varint(b"".join(rows["tfs"][idx]))
    dl = decode_varint(b"".join(rows["dls"][idx]))
    scores = (np.repeat(_idfs(rows["df"][idx], n_docs), counts)
              * bm25_tfnorm(tf, dl, avgdl, k1, b))
    return ids, scores, counts


def score_blocks(rows: dict, n_docs: float, avgdl: float, k1: float,
                 b: float, block_range: int, k: int | None = None,
                 n_terms: int = 1, mode: str = "or",
                 min_match: int | None = None,
                 tomb: np.ndarray | None = None,
                 after: tuple[float, int] | None = None, check=None):
    """BM25 over (block_id, term)-ordered posting ``rows`` (see the
    section comment).  Without ``k``: every matching doc as sorted
    (doc_ids, scores, nt), ``nt`` the rows that hit each doc.  With
    ``k``: block-max WAND top-k (doc_ids, scores), score desc / doc_id
    asc.

    A doc must hit ``required`` distinct terms — ``n_terms`` for
    ``mode`` "and", else ``min_match`` (Solr mm, default 1).  With
    ``k``, doc-range groups (rows of one block_id) with fewer distinct
    terms drop out unread, and the rest are visited in WAVES in
    descending order of their bound, the row sum of
    idf * tfnorm(max_tf, min_dl): 4 groups, then twice as many each
    wave, each wave at most :data:`WAVE_BYTES`.  After a wave every
    group whose bound is strictly below the running k-th score is
    skipped — and since bounds descend, the scan stops there.  Which
    groups a wave holds never changes the answer, only how much is
    decoded: a skipped doc scores below k kept ones.

    The keep-mask applied to each wave's (doc_ids, scores) before the
    merge drops docs under ``required``, tombstoned docs (``tomb``,
    sorted doc ids) and docs not strictly after the ``after`` cursor
    (score, doc_id), so the k-th score that prunes is always a live
    page's and pruning stays sound under deletes and cursors.
    ``check`` (no arguments) runs before each wave — the node tier's
    deadline."""
    required = n_terms if mode == "and" else max(1, int(min_match or 1))
    bid = rows["block_id"]
    n = len(bid)
    if not n:
        if k is not None:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        return (np.empty(0, np.int64), np.empty(0, np.float64),
                np.empty(0, np.int64))
    first_row = np.ones(n, dtype=bool)
    first_row[1:] = bid[1:] != bid[:-1]
    starts = np.flatnonzero(first_row)
    sizes = np.diff(starts, append=n)
    gbytes = np.add.reduceat(
        np.fromiter(map(len, rows["doc_gaps"]), np.int64, n), starts)
    if k is None:
        order, wave_n = np.arange(starts.size), starts.size
    else:
        new_term = first_row.copy()
        new_term[1:] |= rows["term"][1:] != rows["term"][:-1]
        live = np.flatnonzero(
            np.add.reduceat(new_term.astype(np.int64), starts) >= required)
        ub = np.add.reduceat(
            _idfs(rows["df"], n_docs)
            * bm25_tfnorm(rows["max_tf"], rows["min_dl"], avgdl, k1, b),
            starts)
        order, wave_n = live[np.argsort(-ub[live], kind="stable")], 4
    top, parts, threshold, pos = None, [], -np.inf, 0
    while pos < order.size:
        if check is not None:
            check()
        wave = order[pos:pos + wave_n]
        if k is not None:
            wave = wave[ub[wave] >= threshold]  # bounds descend: a prefix
        wave = wave[:max(1, int(np.searchsorted(np.cumsum(gbytes[wave]),
                                                WAVE_BYTES, "right")))]
        if not wave.size:
            break
        pos += wave.size
        wave_n *= 2
        wave = np.sort(wave)
        cnt = sizes[wave]
        idx = (np.repeat(starts[wave] - np.cumsum(cnt) + cnt, cnt)
               + np.arange(int(cnt.sum())))
        ids, scores, _ = score_postings(rows, idx, n_docs, avgdl, k1, b,
                                        block_range)
        uniq, inv = np.unique(ids, return_inverse=True)
        summed = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(summed, inv, scores)
        nt = np.bincount(inv, minlength=uniq.size)
        keep = nt >= required
        if tomb is not None and tomb.size:
            keep &= ~np.isin(uniq, tomb)
        if after is not None:
            s0, d0 = after
            keep &= (summed < s0) | ((summed == s0) & (uniq > d0))
        if k is None:
            parts.append((uniq[keep], summed[keep], nt[keep]))
            continue
        top = _topk_merge(top, uniq[keep], summed[keep], k)
        if k and top[0].size >= k:
            threshold = top[1][-1]
    if k is not None:
        return top if top is not None else (np.empty(0, np.int64),
                                            np.empty(0, np.float64))
    return tuple(np.concatenate(c) for c in zip(*parts))


# ------------------------------------------------------------- id bitsets
# Per-(term, block) doc-id BITSET: bit i set <=> doc (block_base + i)
# carries the term.  Little-endian bit order, truncated after the last
# set bit (a rare term costs ~1 byte, a dense block block_range/8).
# This is the roaring-style membership sidecar the serving tier's
# count()/boolean set ops run on: union/intersection are uint8
# bitwise ops + a popcount table — postings (tfs/dls/positions) are
# never varint-decoded just to COUNT hits.  The reference's count RPC
# similarly reads totalHits without materializing hits
# (katta-core lib/lucene/LuceneServer.java:768-773).

_POPCNT = np.unpackbits(
    np.arange(256, dtype=np.uint8)[:, None], axis=1, bitorder="little"
).sum(axis=1).astype(np.int64)


def encode_id_bits(doc_ids: np.ndarray, block_base: int) -> bytes:
    """Pack block-local doc offsets (doc_ids - block_base, each in
    [0, block_range)) into a truncated little-endian bitset."""
    off = np.asarray(doc_ids, dtype=np.int64) - np.int64(block_base)
    if off.size == 0:
        return b""
    nbits = int(off.max()) + 1
    bits = np.zeros(nbits, dtype=np.uint8)
    bits[off] = 1
    return np.packbits(bits, bitorder="little").tobytes()


def decode_id_bits(buf: bytes, block_base: int) -> np.ndarray:
    """Inverse of :func:`encode_id_bits` -> sorted absolute doc_ids."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.int64)
    bits = np.unpackbits(b, bitorder="little")
    return np.nonzero(bits)[0].astype(np.int64) + np.int64(block_base)


def popcount(arr: np.ndarray) -> int:
    """Total set bits of a uint8 buffer."""
    if arr.size == 0:
        return 0
    return int(_POPCNT[arr].sum())


def bitset_or(bufs: list[bytes], nbytes: int) -> np.ndarray:
    """Union of truncated bitsets into one uint8 array of ``nbytes``."""
    acc = np.zeros(nbytes, dtype=np.uint8)
    for buf in bufs:
        a = np.frombuffer(buf, dtype=np.uint8)
        acc[: a.size] |= a
    return acc


def bitset_and(sets: list[np.ndarray], nbytes: int) -> np.ndarray:
    """Intersection of uint8 bitset arrays (padded to ``nbytes``)."""
    acc = np.zeros(nbytes, dtype=np.uint8)
    first = sets[0]
    acc[: first.size] = first
    for a in sets[1:]:
        if a.size < nbytes:
            acc[a.size:] = 0
        acc[: a.size] &= a
    return acc


def _block_bits(grp, n_terms: int, mode: str, tomb: np.ndarray | None,
                base: int, nbytes: int) -> np.ndarray | None:
    """Live-match bitset of ONE block: per-term union of the block's
    (possibly duplicate, disjoint-subset) rows, AND across terms when
    required, tombstones cleared with one AND-NOT.  None when an AND
    block is missing a term (contributes nothing)."""
    if mode == "and" and n_terms > 1:
        per_term = grp.groupby("term", sort=False)["id_bits"]
        if per_term.ngroups < n_terms:
            return None
        sets = [bitset_or(list(bufs), nbytes) for _, bufs in per_term]
        acc = bitset_and(sets, nbytes)
    else:
        acc = bitset_or(list(grp["id_bits"]), nbytes)
    if tomb is not None and tomb.size:
        lo = np.searchsorted(tomb, base)
        hi = np.searchsorted(tomb, base + nbytes * 8)
        if hi > lo:
            tb = np.frombuffer(
                encode_id_bits(tomb[lo:hi], base), np.uint8
            )
            acc[: tb.size] &= ~tb
    return acc


def bit_count_frame(pdf, n_terms: int, mode: str,
                    tomb: np.ndarray | None, block_range: int) -> int:
    """Hit count for a (term, block_id, id_bits) frame from the doc-id
    BITSETS alone — union/intersection are uint8 bitwise ops + a
    popcount table; postings (tfs/dls/positions) are never
    varint-decoded just to COUNT (the reference's count RPC likewise
    reads totalHits without materializing hits,
    katta-core lib/lucene/LuceneServer.java:768-773).

    Duplicate (term, block) rows across commits hold DISJOINT doc
    subsets of the same range (commits append past the watermark), so
    the per-term union inside a block is exact; AND requires all
    ``n_terms`` present in the block, else the block contributes 0.
    Tombstones (sorted unique doc_ids) are cleared with one AND-NOT
    per touched block.  Shared by the serving tier (node-local call)
    and the Spark tier (inside the per-block Arrow kernel)."""
    if not len(pdf):
        return 0
    nbytes = block_range // 8
    total = 0
    for blk, grp in pdf.groupby("block_id", sort=False):
        acc = _block_bits(grp, n_terms, mode, tomb,
                          int(blk) * block_range, nbytes)
        if acc is not None:
            total += popcount(acc)
    return total


def bit_matched_frame(pdf, n_terms: int, mode: str,
                      tomb: np.ndarray | None,
                      block_range: int) -> np.ndarray:
    """Sorted live matching doc_ids for a (term, block_id, id_bits)
    frame from the BITSETS alone — the membership analogue of
    :func:`bit_count_frame`.  Every stored-field surface that starts
    from a non-scoring match set (field sort, facet, range facet,
    stats, pivot) can take its ids from here without varint-decoding
    tfs/dls: union/intersect the block bitsets, unpack the surviving
    bits to absolute ids.  Same block algebra as the count path
    (duplicate commit rows union per term; AND needs all terms in the
    block; tombstones AND-NOT)."""
    if not len(pdf):
        return np.empty(0, dtype=np.int64)
    nbytes = block_range // 8
    out = []
    for blk, grp in pdf.groupby("block_id", sort=False):
        base = int(blk) * block_range
        acc = _block_bits(grp, n_terms, mode, tomb, base, nbytes)
        if acc is None:
            continue
        bits = np.unpackbits(acc, bitorder="little")
        ids = np.nonzero(bits)[0].astype(np.int64) + np.int64(base)
        if ids.size:
            out.append(ids)
    if not out:
        return np.empty(0, dtype=np.int64)
    return np.sort(np.concatenate(out))
