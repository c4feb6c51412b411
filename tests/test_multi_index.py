"""Multi-index search (Client.java:672-703 pattern expansion parity):
rank identity of open_many vs one index built over the union corpus
with the same namespaced ids; schema introspection; per-field
analyzer registry."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from katta_spark.corpus import synthetic_corpus, with_ingest_columns
from katta_spark.index import PhysicalIndex, build_index

N1, N2, BR = 400, 300, 256


@pytest.fixture(scope="module")
def split_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("multi")
    full = with_ingest_columns(synthetic_corpus(spark, N1 + N2))
    a = full.filter(F.col("doc_id") < N1)
    b = full.filter(F.col("doc_id") >= N1).withColumn(
        "doc_id", F.col("doc_id") - N1
    )
    da, db, du = str(root / "part_a"), str(root / "part_b"), str(root / "union_u")
    build_index(spark, a, da, n_groups=2, block_range=BR)
    build_index(spark, b, db, n_groups=2, block_range=BR)
    # union oracle: ONE index whose caller-assigned ids equal the
    # namespacing open_many applies (B shifted by the block-aligned
    # offset) — so doc_ids, scores and tie-breaks must all agree
    off = -(-N1 // BR) * BR
    u = a.unionByName(
        full.filter(F.col("doc_id") >= N1).withColumn(
            "doc_id", F.col("doc_id") - N1 + off
        )
    )
    build_index(spark, u, du, n_groups=2, block_range=BR)
    return str(root), da, db, du


def test_open_many_stats_merge(spark, split_dirs):
    _, da, db, du = split_dirs
    m = PhysicalIndex.open_many(spark, [da, db])
    un = PhysicalIndex(spark, du)
    assert m.stats["n_docs"] == un.stats["n_docs"] == N1 + N2
    assert m.stats["avgdl"] == pytest.approx(un.stats["avgdl"], abs=1e-9)
    # merged catalog == union catalog
    got = {r["term"]: int(r["df"]) for r in m.terms.collect()}
    want = {r["term"]: int(r["df"]) for r in un.terms.collect()}
    assert got == want


@pytest.mark.parametrize(
    "terms,mode",
    [
        (["import"], "or"),
        (["parse", "request"], "and"),
        (["nebula", "quark"], "or"),
        (["xylophonequarknebula3"], "or"),
    ],
)
def test_open_many_rank_identity(spark, split_dirs, terms, mode):
    _, da, db, du = split_dirs
    m = PhysicalIndex.open_many(spark, [da, db])
    un = PhysicalIndex(spark, du)
    got = m.topk(terms, k=15, mode=mode).collect()
    want = un.topk(terms, k=15, mode=mode).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], abs=1e-9)


def test_open_many_glob_and_surfaces(spark, split_dirs):
    root, da, db, du = split_dirs
    m = PhysicalIndex.open_many(spark, f"{root}/part_*")
    un = PhysicalIndex(spark, du)
    assert m.count(["import"]).first()["n_hits"] == \
        un.count(["import"]).first()["n_hits"]
    got = m.facet(["import"], "lang", n=3).collect()
    want = un.facet(["import"], "lang", n=3).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    with pytest.raises(ValueError):
        PhysicalIndex.open_many(spark, f"{root}/nothing_*")


def test_fields_info(pindex):
    info = {r["field"]: r for r in pindex.fields_info().collect()}
    assert info["content"]["indexed"] and info["content"]["stored"]
    assert not info["lang"]["indexed"]  # no field postings in conftest build
    assert "toks" not in info and "g" not in info
    assert info["doc_id"]["dtype"] == "bigint"


def test_path_analyzer_field_postings(spark, docs, tmp_path_factory):
    """field_analyzers={'path': 'path'}: the field value is tokenized
    by the path analyzer at build AND at query, sub-tokens OR
    together."""
    d = str(tmp_path_factory.mktemp("fan") / "idx")
    build_index(
        spark,
        docs.filter(F.col("doc_id") < 300).select(
            "doc_id", "repo", "path", "commit", "lang", "content"
        ),
        d,
        n_groups=2,
        block_range=256,
        field_cols=["path"],
        field_analyzers={"path": "path"},
    )
    idx = PhysicalIndex(spark, d)
    assert idx.stats["field_analyzers"] == {"path": "path"}
    got = {r["doc_id"] for r in idx.query_scored("path:Module7").collect()}
    want = {
        r["doc_id"]
        for r in idx.docs.filter(
            F.col("path").rlike("(?i)module7\\.")
        ).select("doc_id").collect()
    }
    assert got == want and got
    # multi-token value: src/pkg3 -> OR of path:src, path:pkg3
    got2 = {r["doc_id"] for r in idx.query_scored("path:src/pkg3").collect()}
    want2 = {r["doc_id"] for r in idx.docs.select("doc_id").collect()}
    assert got2 == want2  # every path starts with src/


def test_merge_indexes_rank_identity(spark, split_dirs, tmp_path_factory):
    """Physically merged index == union-built index: same stats, same
    ranked results (incl. positional phrases — position bytes carry
    through the re-layout untouched)."""
    from katta_spark.index import PhysicalIndex as PI
    from katta_spark.index import merge_indexes

    _, da, db, du = split_dirs
    out = str(tmp_path_factory.mktemp("merged") / "idx")
    rep = merge_indexes(spark, [da, db], out)
    assert rep["n_docs"] == N1 + N2
    merged = PI(spark, out)
    un = PI(spark, du)
    assert merged.stats["n_docs"] == un.stats["n_docs"]
    for terms, mode in [(["import"], "or"), (["parse", "request"], "and")]:
        got = merged.topk(terms, k=15, mode=mode).collect()
        want = un.topk(terms, k=15, mode=mode).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w["score"], abs=1e-9)
    got = merged.phrase_topk(["parse", "http", "request"], k=10).collect()
    want = un.phrase_topk(["parse", "http", "request"], k=10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    # a merged index is a normal index: incremental build works on top
    from katta_spark.corpus import synthetic_corpus, with_ingest_columns
    from katta_spark.index import build_index

    extra = with_ingest_columns(synthetic_corpus(spark, 100)).drop("doc_id")
    build_index(spark, extra, out, n_groups=1, commit="c1")
    grown = PI(spark, out)
    assert grown.stats["n_docs"] == N1 + N2 + 100


def test_open_many_phrase_rank_identity(spark, split_dirs):
    """Positional phrase execution directly over a multi-index handle:
    the block-shift namespacing must leave position decode intact
    (doc base = block_id * block_range still holds after the shift)."""
    _, da, db, du = split_dirs
    m = PhysicalIndex.open_many(spark, [da, db])
    un = PhysicalIndex(spark, du)
    got = m.phrase_topk(["parse", "http", "request"], k=10).collect()
    want = un.phrase_topk(["parse", "http", "request"], k=10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    assert len(got) > 0  # the phrase actually occurs in the corpus
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], abs=1e-9)


def test_open_many_lucene_front_door(spark, split_dirs):
    """The full Lucene query string surface works on a multi-index
    handle: rank identity vs the union-built single index for a
    nested boolean, a NOT, and a wildcard."""
    root, da, db, du = split_dirs
    multi = PhysicalIndex.open_many(spark, f"{root}/part_*")
    union = PhysicalIndex(spark, du)
    for q in ("(parse AND request) OR merge", "import -chunk", "xylo*"):
        got = [(r["doc_id"], round(r["score"], 9))
               for r in multi.query(q, k=12).collect()]
        want = [(r["doc_id"], round(r["score"], 9))
                for r in union.query(q, k=12).collect()]
        assert got == want, q


def test_data_stream_rollover(spark, tmp_path_factory):
    """ES data-stream rollover-lite: three appends with max_docs=500
    land as gen1 (two commits, 600 docs — threshold checked BEFORE
    the write, so the active gen may overshoot by one batch) + gen2;
    the cross-generation handle searches all appended docs."""
    from katta_spark.index.rollover import DataStream

    root = str(tmp_path_factory.mktemp("stream") / "ds")
    full = with_ingest_columns(synthetic_corpus(spark, 900))
    batches = [
        full.filter(F.col("doc_id") < 300),
        full.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 600))
        .withColumn("doc_id", F.col("doc_id") - 300),
        full.filter(F.col("doc_id") >= 600)
        .withColumn("doc_id", F.col("doc_id") - 600),
    ]
    ds = DataStream(spark, root, max_docs=500,
                    n_groups=2, block_range=BR)
    reports = [ds.append(b) for b in batches]
    assert [r["generation"] for r in reports] == [
        "gen-000001", "gen-000001", "gen-000002"
    ]
    gens = ds.generations()
    assert [g.name for g in gens] == ["gen-000001", "gen-000002"]
    assert DataStream._gen_docs(gens[0]) == 600
    assert DataStream._gen_docs(gens[1]) == 300
    h = ds.search_handle()
    assert h.stats["n_docs"] == 900
    # every appended doc is reachable: count of a universal term
    got = h.topk(["def"], k=5).collect()
    assert len(got) == 5 and got[0]["score"] > 0


def test_sharded_searcher_scatter_gather(spark, split_dirs):
    """Serving-tier scatter-gather (Client.java parity, node-side):
    ShardedSearcher over the two shard dirs must rank-match BOTH the
    union-built single index and the Spark open_many handle — global
    df exchange, namespaced ids, (score desc, doc_id asc) merge."""
    from katta_spark.index.serve import ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    union = PhysicalIndex(spark, du)
    many = PhysicalIndex.open_many(spark, [da, db])
    assert sh.stats["n_docs"] == union.stats["n_docs"]
    assert sh.stats["avgdl"] == pytest.approx(union.stats["avgdl"], 1e-12)

    for terms, mode in [(["import"], "or"), (["scan", "merge"], "and"),
                        (["import", "return", "key"], "or")]:
        want = [(r["doc_id"], round(r["score"], 9))
                for r in union.topk(terms, k=12, mode=mode).collect()]
        want2 = [(r["doc_id"], round(r["score"], 9))
                 for r in many.topk(terms, k=12, mode=mode).collect()]
        got = [(d, round(s, 9)) for d, s in sh.topk(terms, k=12, mode=mode)]
        assert got == want, (terms, mode)
        assert got == want2, (terms, mode)
        assert sh.count(terms, mode) == union.count(
            terms, mode).first()["n_hits"]

    # fetch routes namespaced ids back to their owning shard
    hits = sh.topk(["import"], k=6)
    det = sh.fetch([d for d, _ in hits], ["lang", "path"])
    assert list(det["doc_id"]) == [d for d, _ in hits]
    spark_det = {
        r["doc_id"]: (r["lang"], r["path"])
        for r in union.docs.select("doc_id", "lang", "path")
        .filter(union.docs.doc_id.isin([d for d, _ in hits])).collect()
    }
    for row in det.itertuples(index=False):
        assert (row.lang, row.path) == spark_det[row.doc_id]


def test_sharded_facet_exact_merge(spark, split_dirs):
    """Scatter-gather facet merge is EXACT (full per-shard histograms
    summed) — equals the union-built index's facet."""
    from katta_spark.index.serve import ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    union = PhysicalIndex(spark, du)
    for terms, mode in [(["import"], "or"), (["scan", "merge"], "and")]:
        want = [(r["lang"], r["cnt"]) for r in
                union.facet(terms, "lang", n=7, mode=mode).collect()]
        assert sh.facet(terms, "lang", n=7, mode=mode) == want, (terms,
                                                                 mode)
    sh.close()


def test_sharded_sorted_query_matches_union(spark, split_dirs):
    """Cross-shard field-sorted top-k (TopFieldCollector scatter +
    FieldSortComparator merge parity) equals the union-built index's
    sorted_query row-for-row, incl. a desc key and offset paging."""
    from katta_spark.index.serve import ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    union = PhysicalIndex(spark, du)
    cases = [
        ([("repo", "asc")], ["doc_id", "repo"], 15, 0),
        ([("lang", "asc"), ("dl", "desc")], ["doc_id", "lang", "dl"], 12, 0),
        ([("dl", "desc")], ["doc_id", "dl"], 8, 5),
    ]
    for sort_cols, fields, limit, offset in cases:
        want = [tuple(r[f] for f in fields)
                for r in union.sorted_query(
                    ["import"], sort_cols, fields, limit,
                    offset=offset).collect()]
        got = [tuple(row) for row in sh.sorted_query(
            ["import"], sort_cols, fields, limit, offset=offset
        ).itertuples(index=False)]
        assert got == want, (sort_cols, offset)
    sh.close()


def test_sharded_range_facet_matches_union(spark, split_dirs):
    """Scatter-gather range facet merge is EXACT: per-shard FULL gap
    histograms summed over disjoint doc sets + one min_count cut ==
    the union index's range_facet; same for other=all."""
    from katta_spark.index.serve import ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    union = PhysicalIndex(spark, du)
    want = [(r["bucket_start"], r["cnt"])
            for r in union.range_facet(
                ["def"], "dl", 0.0, 100.0, 10.0, min_count=2).collect()]
    got = sh.range_facet(["def"], "dl", 0.0, 100.0, 10.0, min_count=2)
    assert got == want

    w = union.range_facet_other(["import"], "dl", 30.0, 60.0).first()
    assert sh.range_facet_other(["import"], "dl", 30.0, 60.0) == (
        w["before"], w["between"], w["after"])
    sh.close()


def test_sharded_suggest_merged(spark, split_dirs):
    """Scatter-gather autocomplete equals the union index's suggest
    (dfs summed across shards)."""
    from katta_spark.index.serve import ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    union = PhysicalIndex(spark, du)
    for prefix in ("s", "imp", "zzz"):
        want = [(r["term"], r["df"])
                for r in union.suggest(prefix, n=8).collect()]
        assert sh.suggest(prefix, n=8) == want, prefix
    sh.close()


def test_sharded_spellcheck_merged(spark, split_dirs):
    """Scatter-gather spellcheck equals the union index's: every
    shard contributes its FULL within-max_edits candidate set, so the
    merged dfs are exact — a term in one shard's local top-5 but not
    the other's still accumulates both shards' dfs."""
    from katta_spark.index.serve import ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    union = PhysicalIndex(spark, du)
    for word, me in [("tabel", 2), ("impotr", 2), ("scan", 1),
                     ("zzzzzz", 2)]:
        want = [(r["term"], r["dist"], r["df"])
                for r in union.spellcheck(word, max_edits=me,
                                          n=5).collect()]
        assert sh.spellcheck(word, max_edits=me, n=5) == want, word
    sh.close()


def test_sharded_highlight_matches_union(spark, split_dirs):
    """Scatter highlight == the union index's snippets for the same
    namespaced hit ids (the shard-routed fetch is the only moving
    part — snippets are per-document)."""
    from katta_spark.index.serve import ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    union = PhysicalIndex(spark, du)
    hits_df = union.topk(["import", "scan"], k=8)
    want = {r["doc_id"]: r["snippet"]
            for r in union.highlight(hits_df, ["import", "scan"],
                                     width=50).collect()}
    hits = [(r["doc_id"], r["score"]) for r in hits_df.collect()]
    got = sh.highlight(hits, ["import", "scan"], width=50)
    assert dict(zip(got["doc_id"], got["snippet"])) == want
    sh.close()


def test_sharded_stats_and_pivot_match_union(spark, split_dirs):
    """Scatter-gather StatsComponent + facet.pivot equal the union
    index: stats partials (n/min/max/sum) are associative over
    disjoint doc sets; pivot merges FULL per-shard histograms before
    the single global rank (no refinement round)."""
    from katta_spark.index.serve import ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    union = PhysicalIndex(spark, du)

    r = union.field_stats(["import"], "dl").first()
    got = sh.field_stats(["import"], "dl")
    assert got["n"] == r["n"]
    for k in ("min_v", "max_v", "sum_v", "mean_v"):
        assert abs(got[k] - r[k]) < 1e-9, k

    want = [(x[0], x[1], x[2], x[3])
            for x in union.pivot_facet(["import"], "lang", "repo",
                                       n1=4, n2=2).collect()]
    assert sh.pivot_facet(["import"], "lang", "repo",
                          n1=4, n2=2) == want
    sh.close()


def test_sharded_searcher_refresh_restarts_pool(spark, tmp_path):
    """ShardedSearcher.refresh() drops BOTH staleness layers: the
    parent handles and the forked workers' per-process LocalSearcher
    caches (the pool is recreated) — after a delete on one shard,
    scattered counts/topk see the tombstones."""
    from katta_spark.index.delete import delete_docs
    from katta_spark.index.serve import ShardedSearcher

    full = with_ingest_columns(synthetic_corpus(spark, 500))
    a = full.filter(F.col("doc_id") < 250)
    b = full.filter(F.col("doc_id") >= 250).withColumn(
        "doc_id", F.col("doc_id") - 250
    )
    da, db = str(tmp_path / "ra"), str(tmp_path / "rb")
    build_index(spark, a, da, n_groups=2, block_range=BR)
    build_index(spark, b, db, n_groups=2, block_range=BR)

    sh = ShardedSearcher([da, db])
    n0 = sh.count(["import"])
    top0 = sh.topk(["import"], k=4)  # warms the worker caches
    assert n0 > 0 and top0

    # delete two hits that live on shard B (namespaced ids >= offset)
    off = sh.offsets[1]
    victims_ns = [d for d, _ in sh.topk(["import"], k=50) if d >= off][:2]
    assert len(victims_ns) == 2
    delete_docs(spark, db, [d - off for d in victims_ns])

    # stale until refresh (documented rule), fresh after
    sh.refresh()
    assert sh.count(["import"]) == n0 - 2
    assert not set(victims_ns) & {d for d, _ in sh.topk(["import"], k=50)}
    sh.close()


QUERY_BATTERY = [
    # the 13-query cross-shard battery: every grammar family the
    # node evaluator supports (VERDICT round-2 item 1)
    ("import", None),
    ("scan AND merge", None),
    ("scan OR merge OR quark", None),
    ("(scan OR merge) AND import", None),
    ("import -return", None),
    ("im*", None),
    ("impart~2", None),
    ("/imp.rt/", None),
    ('"public static"', None),
    ('"scan merge"~3', None),
    ("import^2 OR merge", None),
    ("*:*", ["lang:python"]),
    ("import merge", ["n_chars:[100 TO 4000]"]),
]


def test_sharded_query_rank_identity(spark, split_dirs):
    """ShardedSearcher.query — the reference's actual search RPC
    (Client.java:562-649 scatter + LuceneServer.java:661-690 per-node
    parse+search) — must rank-match BOTH LocalSearcher.query on the
    union-built index and PhysicalIndex.query on the open_many
    handle, across the full grammar battery."""
    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    union_node = LocalSearcher(du)
    many = PhysicalIndex.open_many(spark, [da, db])
    for q, fq in QUERY_BATTERY:
        got = [(d, round(s, 9)) for d, s in sh.query(q, k=12, fq=fq)]
        want = [(d, round(s, 9))
                for d, s in union_node.query(q, k=12, fq=fq)]
        assert got == want, (q, fq)
        want_spark = [(r["doc_id"], round(r["score"], 9))
                      for r in many.query(q, k=12, fq=fq).collect()]
        assert got == want_spark, (q, fq)
    # offset pagination slices the SAME global order
    full = sh.query("import OR merge", k=12)
    assert sh.query("import OR merge", k=6, offset=6) == full[6:]
    # synonym override scatters too
    syn = {"merge": ["join"]}
    got = [(d, round(s, 9))
           for d, s in sh.query("merge", k=10, synonyms=syn)]
    want = [(d, round(s, 9))
            for d, s in union_node.query("merge", k=10, synonyms=syn)]
    assert got == want
    sh.close()


def test_sharded_query_df_exchange_no_double_count(spark, split_dirs):
    """A term that is BOTH a plain query term and an expansion match
    (`import im*`) must count its df exactly once per shard."""
    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    union_node = LocalSearcher(du)
    got = [(d, round(s, 9)) for d, s in sh.query("import im*", k=10)]
    want = [(d, round(s, 9)) for d, s in union_node.query("import im*", k=10)]
    assert got == want
    sh.close()


def test_sharded_grouping_surfaces_match_union(spark, split_dirs):
    """Scatter-gather collapse / result grouping / significant_terms /
    MoreLikeThis must equal the union-built index's node-tier answer
    (ids identical by the block-aligned namespacing, scores via the
    merged-catalog df exchange)."""
    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    un = LocalSearcher(du)
    try:
        for terms, mode in [(["import", "return"], "or"),
                            (["scan", "merge"], "and")]:
            a = sh.collapse_topk(terms, "lang", k=8, mode=mode)
            b = un.collapse_topk(terms, "lang", k=8, mode=mode)
            assert a.round({"score": 9}).values.tolist() == \
                b.round({"score": 9}).values.tolist(), (terms, mode)
        a = sh.group_topk(["import", "table"], "lang", k_per_group=3)
        b = un.group_topk(["import", "table"], "lang", k_per_group=3)
        assert a.round({"score": 9}).values.tolist() == \
            b.round({"score": 9}).values.tolist()
        a = sh.significant_terms(["table"], m_terms=8)
        b = un.significant_terms(["table"], m_terms=8)
        assert a.values.tolist() == b.values.tolist()
        # round 5: the id_bits foreground histogram must equal the
        # stored-token fallback exactly (the fallback serves
        # pre-bitset layouts; both are the distinct-per-doc count)
        import katta_spark.index.serve as serve_mod
        from unittest import mock

        with mock.patch.object(serve_mod.LocalSearcher,
                               "_fg_hist_bits",
                               lambda self, ids: None):
            fb = un.significant_terms(["table"], m_terms=8)
        assert fb.values.tolist() == b.values.tolist()
        # an id on shard B exercises the namespaced routing
        src = int(b_doc_on_second_shard(sh))
        got = [(d, round(s, 9)) for d, s in
               sh.more_like_this(src, m_terms=5, k=10)]
        want = [(d, round(s, 9)) for d, s in
                un.more_like_this(src, m_terms=5, k=10)]
        assert got == want
    finally:
        sh.close()


def b_doc_on_second_shard(sh):
    """A doc id owned by the second shard (offset + small local id)."""
    return sh.offsets[1] + 3


def test_sharded_search_envelope_matches_union(spark, split_dirs):
    """ShardedSearcher.search — the full client RPC envelope — must
    equal the union node's: same hits (ids aligned by the fixture's
    block-aligned namespacing), same numFound, same maxScore."""
    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    un = LocalSearcher(du)
    try:
        for terms, mode in [(["import", "return"], "or"),
                            (["scan", "merge"], "and")]:
            a = sh.search(terms, k=8, mode=mode,
                          fields=["doc_id", "lang"])
            b = un.search(terms, k=8, mode=mode,
                          fields=["doc_id", "lang"])
            assert a["num_found"] == b["num_found"], (terms, mode)
            assert round(a["max_score"], 9) == round(b["max_score"], 9)
            assert a["hits"]["doc_id"].tolist() == \
                b["hits"]["doc_id"].tolist()
            assert a["hits"]["lang"].tolist() == \
                b["hits"]["lang"].tolist()
    finally:
        sh.close()


def test_sharded_facet_options_match_union(spark, split_dirs):
    """Scatter facet with the Solr options equals the union node's —
    full per-shard histograms make every option exact at the merge."""
    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    un = LocalSearcher(du)
    try:
        for kw in [dict(), dict(sort="index"), dict(prefix="p"),
                   dict(mincount=5), dict(missing=True)]:
            assert sh.facet(["import"], "lang", n=10, **kw) == \
                un.facet(["import"], "lang", n=10, **kw), kw
    finally:
        sh.close()


def test_sharded_sigterms_shard_min_df_prunes_but_keeps_top(spark,
                                                            split_dirs):
    """shard_min_df=1 is exact (equals the union node); =2 prunes the
    per-shard singleton tail — the surviving top terms must be a
    subset of the exact top ranked in the same order for terms whose
    counts were not clipped."""
    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    un = LocalSearcher(du)
    try:
        exact = sh.significant_terms(["table"], m_terms=8)
        assert exact.values.tolist() == \
            un.significant_terms(["table"], m_terms=8).values.tolist()
        pruned = sh.significant_terms(["table"], m_terms=8,
                                      shard_min_df=2)
        assert set(pruned["term"]) <= set(
            sh.significant_terms(["table"], m_terms=50)["term"]
        )
        # every pruned-mode df_fg <= its exact df_fg (clipping only
        # removes contributions, never adds)
        ex = dict(zip(exact["term"], exact["df_fg"]))
        for t, c in zip(pruned["term"], pruned["df_fg"]):
            if t in ex:
                assert c <= ex[t]
    finally:
        sh.close()


def test_sharded_interval_and_facet_query_match_union(spark, split_dirs):
    """facet.interval (overlapping intervals, doc counted in every
    containing one) and facet.query (zero rows kept) match the union
    node across shards."""
    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    un = LocalSearcher(du)
    ivals = [("small", 0, 120, True, False),
             ("mid", 100, 300, True, False),
             ("all", 0, 10**6, True, True)]
    qmap = {"qa": ["import"], "qb": ["scan", "merge"],
            "qzero": ["nosuchterm"]}
    try:
        assert sh.interval_facet(["import"], "dl", ivals) == \
            un.interval_facet(["import"], "dl", ivals)
        got = sh.facet_queries(qmap)
        assert got == un.facet_queries(qmap)
        assert ("qzero", 0) in got
    finally:
        sh.close()


def test_sharded_envelope_edge_cases_match_union(spark, split_dirs):
    """No-hit query with fields keeps the field columns; k=0 still
    reports maxScore; duplicate-label intervals stay distinct rows —
    all identical across tiers."""
    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    un = LocalSearcher(du)
    try:
        a = sh.search(["nosuchterm"], k=5, fields=["doc_id", "lang"])
        b = un.search(["nosuchterm"], k=5, fields=["doc_id", "lang"])
        assert list(a["hits"].columns) == list(b["hits"].columns)
        assert a["num_found"] == b["num_found"] == 0
        assert a["max_score"] is None and b["max_score"] is None
        a0 = sh.search(["import"], k=0)
        b0 = un.search(["import"], k=0)
        assert len(a0["hits"]) == len(b0["hits"]) == 0
        assert round(a0["max_score"], 9) == round(b0["max_score"], 9)
        ivals = [("x", 0, 50, True, True), ("x", 40, 90, True, True)]
        assert sh.interval_facet(["import"], "dl", ivals) == \
            un.interval_facet(["import"], "dl", ivals)
        assert len(sh.interval_facet(["import"], "dl", ivals)) == 2
    finally:
        sh.close()


def test_sharded_rare_terms_and_facet_stats_match_union(spark,
                                                        split_dirs):
    """rare_terms (a shard-locally-rare but globally-common value can
    never slip under max_count — full histograms) and stats.facet
    (associative partials) equal the union node across shards."""
    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    un = LocalSearcher(du)
    try:
        assert sh.rare_terms(["scan"], "path", max_count=2, n=10) \
            == un.rare_terms(["scan"], "path", max_count=2, n=10)
        a = sh.facet_stats(["table"], "lang", "dl")
        b = un.facet_stats(["table"], "lang", "dl")
        pd.testing.assert_frame_equal(a, b)
    finally:
        sh.close()


def test_sharded_tv_adjacency_sampler_match_union(spark, split_dirs):
    """term_vectors (routed tf + merged-catalog df), adjacency_matrix
    (bitset sets summed over disjoint docs), and diversified_sampler
    (group_topk merge + global cut) equal the union node."""
    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    un = LocalSearcher(du)
    try:
        ids = [3, int(sh.offsets[1]) + 5]
        pd.testing.assert_frame_equal(sh.term_vectors(ids),
                                      un.term_vectors(ids))
        qmap = {"qa": ["import"], "qb": ["scan", "merge"],
                "qz": ["nosuchterm"]}
        assert sh.adjacency_matrix(qmap) == un.adjacency_matrix(qmap)
        a = sh.diversified_sampler(["import"], "lang", max_per_key=2,
                                   shard_size=6)
        b = un.diversified_sampler(["import"], "lang", max_per_key=2,
                                   shard_size=6)
        assert a.round({"score": 9}).values.tolist() == \
            b.round({"score": 9}).values.tolist()
    finally:
        sh.close()


def test_sharded_gscore_ngroups_expand_match_union(spark, split_dirs):
    """Group-score partials (globally-scored, associative), ngroups
    set union, and the expand scatter all equal the union node."""
    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    un = LocalSearcher(du)
    try:
        for sm in ("sum", "avg", "max", "min"):
            a = sh.group_score_topk(["import", "table"], "lang",
                                    score_mode=sm, k=6)
            b = un.group_score_topk(["import", "table"], "lang",
                                    score_mode=sm, k=6)
            assert a.round({"score": 6}).values.tolist() == \
                b.round({"score": 6}).values.tolist(), sm
        assert sh.ngroups(["import"], "lang") == \
            un.ngroups(["import"], "lang")
        a = sh.expand_topk(["import", "table"], "lang", k=4,
                           n_expand=2)
        b = un.expand_topk(["import", "table"], "lang", k=4,
                           n_expand=2)
        assert a.round({"score": 9}).values.tolist() == \
            b.round({"score": 9}).values.tolist()
    finally:
        sh.close()


def test_sharded_suggesters_and_fmetric_match_union(spark, split_dirs):
    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    un = LocalSearcher(du)
    try:
        assert sh.suggest_regex("(s|b).*", n=10) == \
            un.suggest_regex("(s|b).*", n=10)
        assert sh.suggest_infix("ar", n=10) == \
            un.suggest_infix("ar", n=10)
        a = sh.facet_by_metric(["table"], "lang", "dl", n=5)
        b = un.facet_by_metric(["table"], "lang", "dl", n=5)
        assert a.round({"metric_avg": 6}).values.tolist() == \
            b.round({"metric_avg": 6}).values.tolist()
    finally:
        sh.close()


def test_sharded_significant_terms_shard_size(spark, split_dirs):
    """ES shard_size semantics (round 4): each shard ships only its
    top candidates by shard-local significance.  A generous
    shard_size reproduces the exact ranking; a tight one still
    surfaces the strong signals (its results are a subset of a wide
    exact run, df_fg never inflated) and is deterministic."""
    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    un = LocalSearcher(du)
    try:
        exact = sh.significant_terms(["parse"], m_terms=8)
        # shard_size >= each shard's candidate count => exact
        wide = sh.significant_terms(["parse"], m_terms=8,
                                    shard_size=10**6)
        assert wide.values.tolist() == exact.values.tolist()
        assert exact.values.tolist() == \
            un.significant_terms(["parse"], m_terms=8).values.tolist()
        tight = sh.significant_terms(["parse"], m_terms=8,
                                     shard_size=25)
        assert len(tight) > 0
        wide50 = sh.significant_terms(["parse"], m_terms=200)
        assert set(tight["term"]) <= set(wide50["term"])
        ex = dict(zip(wide50["term"], wide50["df_fg"]))
        for t, c in zip(tight["term"], tight["df_fg"]):
            assert c <= ex[t]  # shortlist misses only remove df_fg
        again = sh.significant_terms(["parse"], m_terms=8,
                                     shard_size=25)
        assert again.values.tolist() == tight.values.tolist()
    finally:
        sh.close()


def test_sharded_facet_and_rare_terms_one_round(spark, split_dirs):
    """facet and rare_terms only need the match set, which idf never
    changes: each call is ONE scatter round with no parent-side df
    exchange, and still equals the union-built index."""
    from unittest import mock

    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    _, da, db, du = split_dirs
    sh = ShardedSearcher([da, db])
    un = LocalSearcher(du)
    try:
        with mock.patch.object(ShardedSearcher, "_merged_cat",
                               side_effect=AssertionError("df exchange")):
            for terms, mode in [(["import"], "or"),
                                (["scan", "merge"], "and")]:
                n0 = sh.metrics()["n_scatters"]
                assert sh.facet(terms, "lang", n=10, mode=mode) == \
                    un.facet(terms, "lang", n=10, mode=mode)
                assert sh.metrics()["n_scatters"] == n0 + 1
                assert sh.rare_terms(terms, "path", max_count=2, n=10,
                                     mode=mode) == \
                    un.rare_terms(terms, "path", max_count=2, n=10,
                                  mode=mode)
                assert sh.metrics()["n_scatters"] == n0 + 2
    finally:
        sh.close()
