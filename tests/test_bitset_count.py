"""Bitset count path: per-(term, block) doc-id BITSETS (the
``id_bits`` postings column) answer count()/boolean set ops with
bitwise union/intersection + popcount — tfs/dls/positions are never
varint-decoded just to COUNT.  The reference's count RPC likewise
reads totalHits without materializing hits
(katta-core lib/lucene/LuceneServer.java:768-773); its one published
latency number is exactly this operation (manual/doc/Katta-Hive.md).

Every test here asserts the bitset answer EQUALS the exhaustive
decode answer (or a pandas oracle), across: or/and, tombstones,
incremental commits (boundary-block duplicate rows), compaction,
open_many namespacing, pre-bitset fallback, and both tiers.
"""

import json
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from katta_spark.index import codec
from katta_spark.index.codec import (
    bit_count_frame,
    decode_id_bits,
    encode_id_bits,
)


# --------------------------------------------------------------- codec


@given(
    st.lists(st.integers(min_value=0, max_value=1023), min_size=0,
             max_size=200, unique=True),
    st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=100, deadline=None)
def test_id_bits_roundtrip(offsets, block_id):
    base = block_id * 1024
    ids = np.sort(np.asarray(offsets, dtype=np.int64)) + base
    buf = encode_id_bits(ids, base)
    assert np.array_equal(decode_id_bits(buf, base), ids)
    # truncation: a lone low offset costs ~1 byte, not range/8
    if offsets and max(offsets) < 8:
        assert len(buf) == 1


def _brute(rows, n_terms, mode, tomb, block_range):
    """Reference count via plain python sets."""
    per_block = {}
    for term, blk, buf in rows:
        base = blk * block_range
        ids = set(decode_id_bits(buf, base).tolist())
        per_block.setdefault(blk, {}).setdefault(term, set()).update(ids)
    total = 0
    dead = set(tomb.tolist()) if tomb is not None else set()
    for blk, by_term in per_block.items():
        if mode == "and" and n_terms > 1:
            if len(by_term) < n_terms:
                continue
            acc = set.intersection(*by_term.values())
        else:
            acc = set.union(*by_term.values())
        total += len(acc - dead)
    return total


@given(st.data())
@settings(max_examples=60, deadline=None)
def test_bit_count_frame_matches_set_algebra(data):
    block_range = 64
    terms = ["a", "b", "c"][: data.draw(st.integers(1, 3))]
    rows = []
    for term in terms:
        # several rows per (term, block) — the duplicate-row case an
        # incremental commit creates at a boundary block; subsets
        # must be DISJOINT (commits append past the watermark)
        for blk in data.draw(st.lists(st.integers(0, 3), min_size=0,
                                      max_size=3, unique=True)):
            offs = data.draw(st.lists(
                st.integers(0, block_range - 1), min_size=1,
                max_size=40, unique=True))
            cut = data.draw(st.integers(0, len(offs)))
            base = blk * block_range
            for part in (offs[:cut], offs[cut:]):
                if part:
                    ids = np.sort(np.asarray(part, dtype=np.int64)) + base
                    rows.append((term, blk, encode_id_bits(ids, base)))
    tomb = None
    if data.draw(st.booleans()):
        tomb = np.unique(np.asarray(data.draw(st.lists(
            st.integers(0, 4 * block_range - 1), max_size=30)),
            dtype=np.int64))
    mode = data.draw(st.sampled_from(["or", "and"]))
    pdf = pd.DataFrame(rows, columns=["term", "block_id", "id_bits"])
    got = bit_count_frame(pdf, len(terms), mode, tomb, block_range)
    assert got == _brute(rows, len(terms), mode, tomb, block_range)


def test_popcount_and_setops():
    a = encode_id_bits(np.array([0, 3, 9], dtype=np.int64), 0)
    b = encode_id_bits(np.array([3, 15], dtype=np.int64), 0)
    u = codec.bitset_or([a, b], 2)
    assert codec.popcount(u) == 4
    i = codec.bitset_and(
        [np.frombuffer(a, np.uint8), np.frombuffer(b, np.uint8)], 2
    )
    assert codec.popcount(i) == 1  # only doc 3


# ----------------------------------------------------------- spark tier


def _decode_count(idx, terms, mode):
    """Membership via the posting-DECODE path (scored_docs) — the
    independent oracle, now that matched_docs itself takes the bitset
    fast path on id_bits layouts."""
    return idx.scored_docs(sorted(set(terms)), mode).count()



def test_count_bitset_equals_exhaustive(pindex):
    """The bitset path and the decode path must agree on every
    mode/term-set; the fixture index is freshly built so id_bits is
    live (asserted)."""
    assert pindex.stats.get("id_bits") is True
    for terms, mode in [
        (["import", "return"], "or"),
        (["import", "return", "scan"], "or"),
        (["scan", "merge"], "and"),
        (["parse", "request", "import"], "and"),
        (["nosuchterm", "import"], "or"),
        (["nosuchterm", "import"], "and"),
    ]:
        fast = pindex.count(terms, mode).first()["n_hits"]
        slow = _decode_count(pindex, terms, mode)
        assert fast == slow, (terms, mode)


def test_count_bitset_fallback_when_flag_off(pindex):
    """stats.id_bits False (a pre-bitset or mixed layout) falls back
    to the decode path — same answer."""
    import copy

    old = copy.copy(pindex)
    old.stats = dict(pindex.stats, id_bits=False)
    for terms, mode in [(["import", "return"], "or"),
                        (["scan", "merge"], "and")]:
        assert (
            old.count(terms, mode).first()["n_hits"]
            == pindex.count(terms, mode).first()["n_hits"]
        )


def test_count_bitset_with_tombstones(spark, corpus, tmp_path):
    """Deletes ride the same per-block shuffle (cogroup): counts drop
    by exactly the number of deleted matching docs, for OR and AND."""
    from katta_spark.index import PhysicalIndex, build_index
    from katta_spark.index.delete import delete_docs

    d = str(tmp_path / "idx")
    build_index(spark, corpus.limit(400), d, n_groups=2, block_range=64)
    idx = PhysicalIndex(spark, d)
    victims = [r["doc_id"] for r in
               idx.matched_docs(["import"]).limit(7).collect()]
    delete_docs(spark, d, victims)
    idx = PhysicalIndex(spark, d)
    assert idx.tombstones is not None
    for terms, mode in [(["import", "return"], "or"),
                        (["import"], "or"),
                        (["scan", "merge"], "and")]:
        fast = idx.count(terms, mode).first()["n_hits"]
        slow = _decode_count(idx, terms, mode)
        assert fast == slow, (terms, mode)


def test_count_bitset_survives_commits_and_compaction(spark, corpus,
                                                      tmp_path):
    """Incremental commits create duplicate (term, block) rows at the
    boundary block (disjoint subsets) and compaction re-lays them out
    verbatim — the bitset count is exact through both."""
    from katta_spark.index import PhysicalIndex, build_index
    from katta_spark.index.compact import compact_postings

    d = str(tmp_path / "idx")
    build_index(spark, corpus.limit(300), d, n_groups=2, block_range=64,
                commit="c0")
    build_index(spark, corpus.limit(500).subtract(corpus.limit(300)), d,
                n_groups=2, block_range=64, commit="c1")
    idx = PhysicalIndex(spark, d)
    assert idx.stats.get("id_bits") is True
    want = {
        (ts, m): _decode_count(idx, list(ts), m)
        for ts, m in [(("import", "return"), "or"),
                      (("scan", "merge"), "and")]
    }
    for (ts, m), w in want.items():
        assert idx.count(list(ts), m).first()["n_hits"] == w
    compact_postings(spark, d)
    idx2 = PhysicalIndex(spark, d)
    assert idx2.stats.get("id_bits") is True
    for (ts, m), w in want.items():
        assert idx2.count(list(ts), m).first()["n_hits"] == w


def test_count_bitset_open_many(spark, corpus, tmp_path):
    """Bitsets are block-local offsets, so they survive open_many's
    block_id namespacing untouched; the merged count equals the
    union-built index's."""
    from katta_spark.index import PhysicalIndex, build_index

    da, db, du = (str(tmp_path / n) for n in ("a", "b", "u"))
    a, b = corpus.limit(250), corpus.limit(450).subtract(corpus.limit(250))
    build_index(spark, a, da, n_groups=2, block_range=64)
    build_index(spark, b, db, n_groups=2, block_range=64)
    build_index(spark, a.unionByName(b), du, n_groups=2, block_range=64)
    many = PhysicalIndex.open_many(spark, [da, db])
    assert many.stats.get("id_bits") is True
    union = PhysicalIndex(spark, du)
    for terms, mode in [(["import", "return"], "or"),
                        (["scan", "merge"], "and")]:
        assert (
            many.count(terms, mode).first()["n_hits"]
            == union.count(terms, mode).first()["n_hits"]
        )


# --------------------------------------------------------- serving tier


def test_serve_count_raw_bitset_equals_scored(index_dir):
    """LocalSearcher.count_raw's bitset fast path equals the
    exhaustive _scored tally it replaced."""
    from katta_spark.index.serve import LocalSearcher

    s = LocalSearcher(index_dir)
    for terms, mode in [(["import", "return"], "or"),
                        (["scan", "merge"], "and"),
                        (["import"], "or")]:
        ids, _, nt = s._scored(terms)
        if mode == "and" and len(terms) > 1:
            want = int(np.count_nonzero(nt == len(terms)))
        else:
            want = int(ids.size)
        assert s.count_raw(terms, mode) == want, (terms, mode)


def test_serve_reads_any_term_order_over_many_row_groups(
        spark, corpus, tmp_path):
    """Postings and catalog files of many small row groups (rewritten
    with a tiny row-group size): the node picks row groups by their
    term min/max statistics, and terms given in any order, repeats
    included, still find every row — count_raw, the matched ids, the
    dfs, top-k and a prefix suggest equal the one-row-group index."""
    import shutil

    from katta_spark.index import build_index
    from katta_spark.index.serve import LocalSearcher

    d = str(tmp_path / "idx")
    build_index(spark, corpus.limit(300), d, n_groups=1, block_range=64)
    many = str(tmp_path / "many")
    shutil.copytree(d, many)
    for sub in ("postings", "terms"):
        for f in Path(many, sub).rglob("*.parquet"):
            pq.write_table(pq.read_table(f), f, row_group_size=4)
        for crc in Path(many, sub).rglob(".*.crc"):
            crc.unlink()  # stale Hadoop checksum sidecars of the rewrite
    assert max(pq.ParquetFile(f).metadata.num_row_groups
               for f in Path(many, "postings").rglob("*.parquet")) > 4
    one, s = LocalSearcher(d, qcache_size=0), LocalSearcher(many,
                                                            qcache_size=0)
    for terms, mode in [(["scan", "merge"], "and"),
                        (["scan", "merge"], "or"),
                        (["return", "import", "return"], "or"),
                        (["return", "import", "return"], "and")]:
        want = one.count_raw(sorted(terms), mode)
        assert want > 0 or mode == "and", (terms, mode)
        assert s.count_raw(terms, mode) == want, (terms, mode)
        assert one.count_raw(terms, mode) == want, (terms, mode)
        assert np.array_equal(s._matched_ids(terms, mode),
                              one._matched_ids(terms, mode))
        assert s.topk(terms, k=10, mode=mode) == one.topk(terms, k=10,
                                                            mode=mode)
    vocab = ["zeta", "scan", "import", "merge", "return", "absent"]
    assert s._dfs(sorted(vocab)).tolist() == one._dfs(sorted(vocab)).tolist()
    assert s.suggest("re") == one.suggest("re")


def test_serve_count_prebitset_layout_falls_back(spark, corpus, tmp_path):
    """An index whose parquet predates the id_bits column (simulated
    by rewriting its files without it) still counts correctly — the
    node tier detects the missing/null column and decodes."""
    from katta_spark.index import PhysicalIndex, build_index
    from katta_spark.index.serve import LocalSearcher

    d = str(tmp_path / "idx")
    build_index(spark, corpus.limit(300), d, n_groups=1, block_range=64)
    for f in Path(d, "postings").rglob("*.parquet"):
        t = pq.read_table(f)
        pq.write_table(t.drop_columns(["id_bits"]), f)
    for crc in Path(d, "postings").rglob(".*.crc"):
        crc.unlink()  # stale Hadoop checksum sidecars of the rewrite
    st_path = Path(d) / "stats.json"
    stats = json.loads(st_path.read_text())
    stats["id_bits"] = False
    st_path.write_text(json.dumps(stats))

    idx = PhysicalIndex(spark, d)
    s = LocalSearcher(d)
    for terms, mode in [(["import", "return"], "or"),
                        (["scan", "merge"], "and")]:
        want = idx.matched_docs(terms, mode).count()
        assert idx.count(terms, mode).first()["n_hits"] == want
        assert s.count(terms, mode) == want


def test_sharded_count_bitset_sum(spark, corpus, tmp_path):
    """ShardedSearcher.count: per-shard bitset counts summed over
    disjoint doc sets — equals the union index's count, with NO df
    exchange round."""
    from katta_spark.index import build_index
    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    da, db, du = (str(tmp_path / n) for n in ("a", "b", "u"))
    a, b = corpus.limit(250), corpus.limit(450).subtract(corpus.limit(250))
    build_index(spark, a, da, n_groups=1, block_range=64)
    build_index(spark, b, db, n_groups=1, block_range=64)
    build_index(spark, a.unionByName(b), du, n_groups=1, block_range=64)
    sh = ShardedSearcher([da, db])
    u = LocalSearcher(du)
    try:
        for terms, mode in [(["import", "return"], "or"),
                            (["scan", "merge"], "and"),
                            (["import"], "or")]:
            assert sh.count(terms, mode) == u.count(terms, mode)
    finally:
        sh.close()


def test_serve_count_pinned_snapshot(spark, corpus, tmp_path):
    """A commit-pinned LocalSearcher counts over the pinned commits
    only — equal to an index built from just those docs."""
    from katta_spark.index import build_index
    from katta_spark.index.serve import LocalSearcher

    d, d0 = str(tmp_path / "idx"), str(tmp_path / "only0")
    build_index(spark, corpus.limit(300), d, n_groups=1, block_range=64,
                commit="c0")
    build_index(spark, corpus.limit(500).subtract(corpus.limit(300)), d,
                n_groups=1, block_range=64, commit="c1")
    build_index(spark, corpus.limit(300), d0, n_groups=1, block_range=64,
                commit="c0")
    pinned = LocalSearcher(d, commits=["c0"])
    ref = LocalSearcher(d0)
    for terms, mode in [(["import", "return"], "or"),
                        (["scan", "merge"], "and")]:
        assert pinned.count(terms, mode) == ref.count(terms, mode)


# --------------------------------------------- matched-id bitset path


def test_serve_matched_ids_bitset_equals_scored(index_dir):
    """_matched_ids' bitset fast path (codec.bit_matched_frame) must
    return the exact id set the exhaustive decode produced, or/and —
    every stored-field surface (facet / field sort / range facet /
    stats / pivot) starts from this set."""
    from katta_spark.index.serve import LocalSearcher, strip_stops

    s = LocalSearcher(index_dir)
    assert "id_bits" in set(s._postings.schema.names)
    for terms, mode in [(["import", "return"], "or"),
                        (["scan", "merge"], "and"),
                        (["import"], "or"),
                        (["nosuchterm", "import"], "and"),
                        (["nosuchterm"], "or")]:
        fast = s._matched_ids(terms, mode)
        stripped = sorted(set(strip_stops(s.stats, terms)))
        ids, _, nt = s._scored(stripped)
        if mode == "and" and len(stripped) > 1:
            ids = ids[nt == len(stripped)]
        assert np.array_equal(fast, np.sort(ids)), (terms, mode)


def test_serve_matched_ids_bitset_with_tombstones(spark, corpus,
                                                  tmp_path):
    """Deleted docs must vanish from the bitset match set exactly as
    they do from the decode path."""
    from katta_spark.index import PhysicalIndex, build_index
    from katta_spark.index.delete import delete_docs
    from katta_spark.index.serve import LocalSearcher

    d = str(tmp_path / "idx")
    build_index(spark, corpus.limit(400), d, n_groups=2, block_range=64)
    idx = PhysicalIndex(spark, d)
    victims = [r["doc_id"] for r in
               idx.matched_docs(["import"]).limit(9).collect()]
    delete_docs(spark, d, victims)
    s = LocalSearcher(d)
    assert s._tomb is not None
    for terms, mode in [(["import", "return"], "or"),
                        (["scan", "merge"], "and")]:
        fast = s._matched_ids(terms, mode)
        ids, _, nt = s._scored(sorted(set(terms)))
        if mode == "and" and len(terms) > 1:
            ids = ids[nt == len(terms)]
        assert np.array_equal(fast, np.sort(ids)), (terms, mode)
        assert not np.isin(np.asarray(victims), fast).any()


def test_serve_stored_surfaces_identical_without_bitsets(spark, corpus,
                                                         tmp_path):
    """facet / sorted_query / range_facet give byte-identical answers
    on a bitset index and on the same index with id_bits stripped
    (the pre-bitset fallback) — proves the fast path changes latency,
    never results."""
    import shutil

    from katta_spark.index import build_index
    from katta_spark.index.serve import LocalSearcher

    d1 = str(tmp_path / "withbits")
    build_index(spark, corpus.limit(350), d1, n_groups=1, block_range=64)
    d2 = str(tmp_path / "nobits")
    shutil.copytree(d1, d2)
    for f in Path(d2, "postings").rglob("*.parquet"):
        t = pq.read_table(f)
        pq.write_table(t.drop_columns(["id_bits"]), f)
    for crc in Path(d2, "postings").rglob(".*.crc"):
        crc.unlink()
    st_path = Path(d2) / "stats.json"
    stats = json.loads(st_path.read_text())
    stats["id_bits"] = False
    st_path.write_text(json.dumps(stats))

    a, b = LocalSearcher(d1), LocalSearcher(d2)
    assert "id_bits" in set(a._postings.schema.names)
    assert "id_bits" not in set(b._postings.schema.names)
    q = ["import", "return"]
    assert a.facet(q, "lang", n=5) == b.facet(q, "lang", n=5)
    pd.testing.assert_frame_equal(
        a.sorted_query(q, [("lang", "asc")], ["doc_id", "lang"], 20),
        b.sorted_query(q, [("lang", "asc")], ["doc_id", "lang"], 20),
    )
    assert (a.range_facet(q, "dl", 0.0, 200.0, 20.0)
            == b.range_facet(q, "dl", 0.0, 200.0, 20.0))


def test_serve_pinned_snapshot_takes_bitset_path(spark, corpus,
                                                 tmp_path, monkeypatch):
    """Round-4 PIT x bitset audit: a commit-pinned handle must KEEP
    the id_bits membership fast path (count and _matched_ids), not
    fall back to the exhaustive decode — PIT queries stay RPC-class
    after many commits.  Asserted by counting codec calls, with
    parity against the exhaustive path on the same pinned handle."""
    from katta_spark.index import build_index
    from katta_spark.index.serve import LocalSearcher

    d = str(tmp_path / "pit_idx")
    build_index(spark, corpus.limit(200), d, n_groups=1,
                block_range=64, commit="c0")
    build_index(spark,
                corpus.limit(400).subtract(corpus.limit(200)), d,
                n_groups=1, block_range=64, commit="c1")
    build_index(spark,
                corpus.limit(600).subtract(corpus.limit(400)), d,
                n_groups=1, block_range=64, commit="c2")

    calls = {"count": 0, "matched": 0}
    real_count, real_matched = codec.bit_count_frame, codec.bit_matched_frame

    def spy_count(*a, **kw):
        calls["count"] += 1
        return real_count(*a, **kw)

    def spy_matched(*a, **kw):
        calls["matched"] += 1
        return real_matched(*a, **kw)

    monkeypatch.setattr(codec, "bit_count_frame", spy_count)
    monkeypatch.setattr(codec, "bit_matched_frame", spy_matched)

    pinned = LocalSearcher(d, commits=["c0", "c1"], qcache_size=0)
    got = pinned.count(["import", "return"], "or")
    assert calls["count"] == 1, "pinned count skipped the bitset path"
    mids = pinned._matched_ids(["import", "return"], "or")
    assert calls["matched"] == 1, "pinned _matched_ids skipped bitsets"

    # parity: bitset answers == exhaustive decode on the SAME handle
    ids, _, _ = pinned._scored(sorted({"import", "return"}))
    assert got == int(ids.size)
    assert np.array_equal(mids, np.sort(ids))

    # and the pinned universe really is smaller than the full one
    full = LocalSearcher(d, qcache_size=0)
    assert full.count(["import", "return"], "or") > got
    assert calls["count"] == 2  # full handle used the bitset path too
