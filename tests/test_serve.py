"""Serving-tier (LocalSearcher) rank-identity vs the Spark tier.

Reference parity: Katta answers queries from node-LOCAL shard
indexes (LuceneServer.search), never through a job — LocalSearcher
is that tier over the same on-disk layout, sharing the Spark path's
kernels, so results must be IDENTICAL, not merely close.
"""

import pytest

from katta_spark.index.serve import LocalSearcher

QUERIES = [
    (["import"], "or"),
    (["import", "return"], "or"),
    (["scan", "merge"], "and"),
    (["import", "table", "scan"], "or"),
    (["nosuchtermanywherezz"], "or"),
]


@pytest.fixture(scope="session")
def lsearch(index_dir):
    return LocalSearcher(index_dir)


def test_topk_rank_identical_to_spark(pindex, lsearch):
    for terms, mode in QUERIES:
        want = [(r["doc_id"], round(r["score"], 9))
                for r in pindex.topk(terms, k=12, mode=mode).collect()]
        got = [(d, round(s, 9))
               for d, s in lsearch.topk(terms, k=12, mode=mode)]
        assert got == want, (terms, mode)


def test_topk_offset_and_min_match(pindex, lsearch):
    terms = ["import", "scan", "merge"]
    want = [(r["doc_id"], round(r["score"], 9))
            for r in pindex.topk(terms, k=5, offset=5,
                                 min_match=2).collect()]
    got = [(d, round(s, 9))
           for d, s in lsearch.topk(terms, k=5, offset=5, min_match=2)]
    assert got == want


def test_count_matches_spark(pindex, lsearch):
    for terms, mode in QUERIES:
        want = pindex.count(terms, mode).first()["n_hits"]
        assert lsearch.count(terms, mode) == want, (terms, mode)


def test_fetch_and_search_envelope(pindex, lsearch):
    hits = lsearch.topk(["import"], k=4)
    detail = lsearch.fetch([d for d, _ in hits], ["lang", "path"])
    assert list(detail["doc_id"]) == [d for d, _ in hits]
    spark_detail = {
        r["doc_id"]: (r["lang"], r["path"])
        for r in pindex.docs.select("doc_id", "lang", "path")
        .filter(pindex.docs.doc_id.isin([d for d, _ in hits])).collect()
    }
    for row in detail.itertuples(index=False):
        assert (row.lang, row.path) == spark_detail[row.doc_id]

    env = lsearch.search(["import"], k=4, fields=["lang"])
    resp = pindex.search_response("import", k=4)
    assert env["num_found"] == resp.num_found
    assert env["max_score"] == pytest.approx(resp.max_score, abs=1e-9)
    assert list(env["hits"]["doc_id"]) == [d for d, _ in hits]


def test_serve_respects_tombstones(spark, tmp_path):
    """Deleted docs vanish from the serving tier exactly as from the
    Spark tier (exhaustive fallback path)."""
    from katta_spark.corpus import synthetic_corpus
    from katta_spark.index import PhysicalIndex, build_index
    from katta_spark.index.delete import delete_docs

    d = str(tmp_path / "srv_idx")
    build_index(spark, synthetic_corpus(spark, 400), d,
                n_groups=2, block_range=64)
    before = LocalSearcher(d).topk(["import"], k=5)
    victims = [doc for doc, _ in before[:2]]
    delete_docs(spark, d, victims)

    idx = PhysicalIndex(spark, d)
    want = [(r["doc_id"], round(r["score"], 9))
            for r in idx.topk(["import"], k=5).collect()]
    got = [(doc, round(s, 9))
           for doc, s in LocalSearcher(d).topk(["import"], k=5)]
    assert got == want
    assert not set(victims) & {doc for doc, _ in got}
    assert (LocalSearcher(d).count(["import"])
            == idx.count(["import"]).first()["n_hits"])


LUCENE_BATTERY = [
    "(import OR return) AND scan",
    "import -scan",
    "s*",
    "import AND lang:python",
    "batc~2",
    '"import return"',
    "dl:[20 TO 40] AND import",
    "import^2 OR scan",
    "+import +merge -sort",
    "*:*",
    "/im.*t/",
    '"merge sort"~3',
    "(scan OR merge) AND (import OR return)",
]


def test_query_string_rank_identical_to_spark(pindex, lsearch):
    """The reference's actual front door (Lucene q strings) answered
    node-locally must rank-match the cluster evaluator across the
    full syntax battery: nesting, NOT, ranges, wildcards, fuzzy,
    regex, phrases with slop, boosts, field-scored terms, *:*."""
    for q in LUCENE_BATTERY:
        want = [(r["doc_id"], round(r["score"], 9))
                for r in pindex.query(q, k=10).collect()]
        got = [(d, round(s, 9)) for d, s in lsearch.query(q, k=10)]
        assert got == want, q


def test_query_string_fq_and_synonyms(pindex, lsearch):
    q, fq = "import", ["lang:python", "dl:[10 TO *]"]
    want = [(r["doc_id"], round(r["score"], 9))
            for r in pindex.query(q, k=10, fq=fq).collect()]
    got = [(d, round(s, 9)) for d, s in lsearch.query(q, k=10, fq=fq)]
    assert got == want

    syn = {"sort": ["merge"]}
    want = [(r["doc_id"], round(r["score"], 9))
            for r in pindex.query("sort", k=10, synonyms=syn).collect()]
    got = [(d, round(s, 9))
           for d, s in lsearch.query("sort", k=10, synonyms=syn)]
    assert got == want


def test_wildcard_bracket_is_literal_on_both_tiers(pindex, lsearch):
    """A ``[`` inside a wildcard pattern is a LITERAL character on
    both tiers (the Spark tier maps only */? to LIKE %/_): the node
    tier must not honor fnmatch-style [seq] character classes, which
    would make ``im[px]ort`` match ``import`` locally but nothing on
    the cluster.  The string parser can't produce such a node (``[``
    starts a range query), so the AST is built directly."""
    from katta_spark.fulltext.luceval import LuceneEvaluator
    from katta_spark.fulltext.qparse import Wildcard
    from katta_spark.index.serve import _LocalEval

    assert lsearch.count(["import"]) > 0  # the class WOULD have hits
    for pat in ("im[px]ort", "im[px]or*", "?m[px]ort"):
        node = Wildcard(pattern=pat, field=None, boost=1.0)
        want = sorted(
            (r["doc_id"], round(r["score"], 9))
            for r in LuceneEvaluator(pindex).eval_query(node).collect()
        )
        ids, scores = _LocalEval(lsearch).eval_query(node)
        got = sorted((int(d), round(float(s), 9))
                     for d, s in zip(ids, scores))
        assert got == want == [], pat


def test_serve_facet_matches_spark(pindex, lsearch):
    for terms, mode in [(["import"], "or"), (["scan", "merge"], "and")]:
        want = [(r["lang"], r["cnt"])
                for r in pindex.facet(terms, "lang", n=5, mode=mode).collect()]
        got = lsearch.facet(terms, "lang", n=5, mode=mode)
        assert got == want, (terms, mode)


def test_serve_sorted_matches_spark(pindex, lsearch):
    """Serving-tier field-sorted top-k (TopFieldCollector parity,
    LuceneServer.java:1629-1636) — identical rows AND order to
    PhysicalIndex.sorted_query, incl. a desc key, multi-key sorts and
    offset (Spark's orderBy null rule + doc_id-asc tie-break)."""
    cases = [
        ([("repo", "asc")], ["doc_id", "repo"], 20, 0),
        ([("repo", "asc"), ("dl", "desc")], ["doc_id", "repo", "dl"], 15, 0),
        ([("dl", "desc")], ["doc_id", "dl"], 10, 7),
    ]
    for sort_cols, fields, limit, offset in cases:
        want = [tuple(r[f] for f in fields)
                for r in pindex.sorted_query(
                    ["import"], sort_cols, fields, limit, offset=offset
                ).collect()]
        got_df = lsearch.sorted_query(
            ["import"], sort_cols, fields, limit, offset=offset)
        got = [tuple(row) for row in got_df.itertuples(index=False)]
        assert got == want, (sort_cols, offset)


def test_serve_range_facet_matches_spark(pindex, lsearch):
    """Serving-tier numeric facetByRange (FacetRangeCall parity,
    LuceneServer.java:1197-1258) equals the Spark tier bucket-for-
    bucket, incl. the other=all triple."""
    want = [(r["bucket_start"], r["cnt"])
            for r in pindex.range_facet(
                ["def"], "dl", 0.0, 100.0, 10.0).collect()]
    got = lsearch.range_facet(["def"], "dl", 0.0, 100.0, 10.0)
    assert got == want

    w = pindex.range_facet_other(["quark"], "dl", 30.0, 60.0).first()
    assert lsearch.range_facet_other(["quark"], "dl", 30.0, 60.0) == (
        w["before"], w["between"], w["after"])


def test_serve_date_range_facet_and_null_sort(spark, tmp_path):
    """Date facetByRange node-locally (DateRangeFactory.java:43-77
    buckets) vs the Spark tier's date_trunc ground truth, plus the
    null-ordering contract of the field sort (asc -> nulls first,
    desc -> nulls last — Spark's orderBy defaults), on an index whose
    stored columns include a timestamp and NULLs.  Sharded variants
    must merge to exactly the union answer."""
    import pyspark.sql.functions as F

    from katta_spark.corpus import synthetic_corpus
    from katta_spark.index import PhysicalIndex, build_index
    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    from katta_spark.corpus import with_ingest_columns

    full = with_ingest_columns(synthetic_corpus(spark, 300))
    full = full.withColumn(
        "created",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 7000)
    ).withColumn(
        "nickname",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.format_string("nick%d", F.col("doc_id") % 3)),
    )
    a = full.filter(F.col("doc_id") < 150)
    b = full.filter(F.col("doc_id") >= 150).withColumn(
        "doc_id", F.col("doc_id") - 150)
    da, db, du = (str(tmp_path / x) for x in ("a", "b", "u"))
    build_index(spark, a, da, n_groups=2, block_range=128)
    build_index(spark, b, db, n_groups=2, block_range=128)
    off = -(-150 // 128) * 128
    u = a.unionByName(
        full.filter(F.col("doc_id") >= 150)
        .withColumn("doc_id", F.col("doc_id") - 150 + off))
    build_index(spark, u, du, n_groups=2, block_range=128)

    union = PhysicalIndex(spark, du)
    ls = LocalSearcher(du)
    sh = ShardedSearcher([da, db])

    # date facet: ground truth via the Spark tier's date_trunc over
    # the same match set
    m = union.matched_docs(["import"], "or")
    want = [
        (r["bucket_start"], r["cnt"])
        for r in union.docs.join(m, "doc_id", "left_semi")
        .groupBy(F.date_trunc("day", "created").alias("bucket_start"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bucket_start").collect()
    ]
    got_l = ls.date_range_facet(["import"], "created", "DAY")
    got_s = sh.date_range_facet(["import"], "created", "DAY")
    assert got_l == want
    assert got_s == want

    # null ordering: asc -> nulls first, desc -> nulls last
    for direction in ("asc", "desc"):
        want = [
            (r["doc_id"], r["nickname"])
            for r in union.sorted_query(
                ["import"], [("nickname", direction)],
                ["doc_id", "nickname"], 12).collect()
        ]

        def rows(df):
            return [
                (int(r.doc_id),
                 None if r.nickname is None or r.nickname != r.nickname
                 else r.nickname)
                for r in df.itertuples(index=False)
            ]

        assert rows(ls.sorted_query(
            ["import"], [("nickname", direction)],
            ["doc_id", "nickname"], 12)) == want, direction
        assert rows(sh.sorted_query(
            ["import"], [("nickname", direction)],
            ["doc_id", "nickname"], 12)) == want, direction
    sh.close()


def test_serve_suggest_matches_spark(pindex, lsearch):
    for prefix in ("s", "imp", "zzz"):
        want = [(r["term"], r["df"])
                for r in pindex.suggest(prefix, n=8).collect()]
        assert lsearch.suggest(prefix, n=8) == want, prefix


def test_serve_refresh_sees_new_commit_and_deletes(spark, tmp_path):
    """Searcher reopen (reopenIndex parity): refresh() makes a new
    commit and fresh tombstones visible to the node tier."""
    from pyspark.sql import functions as F

    from katta_spark.corpus import synthetic_corpus, with_ingest_columns
    from katta_spark.index import build_index
    from katta_spark.index.delete import delete_docs

    d = str(tmp_path / "rf_idx")
    full = with_ingest_columns(synthetic_corpus(spark, 400))
    build_index(spark, full.filter(F.col("doc_id") < 300), d,
                n_groups=2, block_range=64)
    srv = LocalSearcher(d)
    n1 = srv.count(["import"])
    # populate the lazy all-ids + catalog caches the refresh must drop
    assert len(srv.query("*:*", k=1000)) == 300
    srv.query("im*", k=5)

    # second commit WITHOUT caller ids: the engine assigns them from
    # the max(doc_id)+1 watermark (caller-assigned ids are verbatim —
    # re-using 0..99 here would collide with live docs)
    build_index(spark,
                full.filter(F.col("doc_id") >= 300)
                .drop("doc_id", "content_sha256"),
                d, n_groups=2, block_range=64, commit="c2")
    n2 = srv.refresh().count(["import"])
    assert n2 > n1
    # MatchAll sees the new commit (all-ids cache invalidated) and
    # wildcard expansion sees the rewritten catalog
    assert len(srv.query("*:*", k=1000)) == 400
    assert srv.query("im*", k=5) == LocalSearcher(d).query("im*", k=5)

    victims = [doc for doc, _ in srv.topk(["import"], k=2)]
    delete_docs(spark, d, victims)
    assert srv.refresh().count(["import"]) == n2 - 2
    assert not set(victims) & {
        doc for doc, _ in srv.topk(["import"], k=5)}
    # tombstoned docs vanish from '*:*' too (stale cache would
    # resurrect them)
    assert not set(victims) & {doc for doc, _ in srv.query("*:*", k=1000)}
    assert len(srv.query("*:*", k=1000)) == 398


def test_serve_commit_pinned_snapshot(spark, tmp_path):
    """Point-in-time read at the node tier: a handle pinned to the
    first commit rank-matches the commit-pinned Spark handle and
    never sees the second commit."""
    from pyspark.sql import functions as F

    from katta_spark.corpus import synthetic_corpus, with_ingest_columns
    from katta_spark.index import PhysicalIndex, build_index

    d = str(tmp_path / "pit_idx")
    full = with_ingest_columns(synthetic_corpus(spark, 400))
    build_index(spark, full.filter(F.col("doc_id") < 250), d,
                n_groups=2, block_range=64, commit="c1")
    build_index(spark,
                full.filter(F.col("doc_id") >= 250)
                .drop("doc_id", "content_sha256"),
                d, n_groups=2, block_range=64, commit="c2")

    pinned = LocalSearcher(d, commits=["c1"])
    spark_pinned = PhysicalIndex(spark, d, commits=["c1"])
    assert pinned.stats["n_docs"] == spark_pinned.stats["n_docs"] == 250
    for terms, mode in [(["import"], "or"), (["scan", "merge"], "and")]:
        want = [(r["doc_id"], round(r["score"], 9))
                for r in spark_pinned.topk(terms, k=10, mode=mode).collect()]
        got = [(doc, round(s, 9))
               for doc, s in pinned.topk(terms, k=10, mode=mode)]
        assert got == want, (terms, mode)
        assert pinned.count(terms, mode) == spark_pinned.count(
            terms, mode).first()["n_hits"]
    # the pinned snapshot is smaller than the live view
    live = LocalSearcher(d)
    assert pinned.count(["import"]) < live.count(["import"])
    # refresh re-pins to the same commits
    assert pinned.refresh().stats["commits"] == ["c1"]
    # unknown commit rejected
    with pytest.raises(ValueError):
        LocalSearcher(d, commits=["nope"])


def test_pinned_handle_answers_catalog_expansions(spark, tmp_path):
    """PIT catalog expansion (round-2 verdict item 5): a commit-pinned
    handle answers wildcard/fuzzy/suggest and scores phrases from the
    SNAPSHOT catalog (recomputed from the pinned postings' per-block
    doc counts), and
    the answers equal an index built from only those commits."""
    from pyspark.sql import functions as F

    from katta_spark.corpus import synthetic_corpus, with_ingest_columns
    from katta_spark.index import build_index

    full = with_ingest_columns(synthetic_corpus(spark, 400))
    c1 = full.filter(F.col("doc_id") < 250)
    d = str(tmp_path / "pit_exp")
    build_index(spark, c1, d, n_groups=2, block_range=64, commit="c1")
    build_index(spark,
                full.filter(F.col("doc_id") >= 250)
                .drop("doc_id", "content_sha256"),
                d, n_groups=2, block_range=64, commit="c2")
    # oracle: an index whose ONLY content is commit c1
    d1 = str(tmp_path / "only_c1")
    build_index(spark, c1, d1, n_groups=2, block_range=64, commit="c1")

    pinned = LocalSearcher(d, commits=["c1"])
    only = LocalSearcher(d1)
    # quoted phrases score with the snapshot dfs too, not the global
    # terms parquet that also counts c2
    for q in ("im*", "impart~2", "/sc.n/", "im* AND return",
              '"import os"', '"return result"'):
        got = [(doc, round(s, 9)) for doc, s in pinned.query(q, k=10)]
        want = [(doc, round(s, 9)) for doc, s in only.query(q, k=10)]
        assert got == want, q
    assert pinned.suggest("im", n=5) == only.suggest("im", n=5)
    # live handle still sees both commits
    live = LocalSearcher(d)
    assert live.count(["import"]) > pinned.count(["import"])


def test_serve_spellcheck_matches_spark(pindex, lsearch):
    """SpellCheckComponent at node latency: identical rows —
    (term, dist, df) in (dist asc, df desc, term asc) order — to
    PhysicalIndex.spellcheck, including the dist>0 self-exclusion."""
    for word, me in [("tabel", 2), ("impotr", 2), ("scan", 1)]:
        want = [(r["term"], r["dist"], r["df"])
                for r in pindex.spellcheck(word, max_edits=me,
                                           n=5).collect()]
        got = lsearch.spellcheck(word, max_edits=me, n=5)
        assert got == want, word


def test_serve_highlight_matches_spark(spark, pindex, lsearch):
    """Highlighter at node latency: snippet strings identical to
    PhysicalIndex.highlight for the same hits (1-based locate/
    substring semantics, multi-term window anchor, wrapping)."""
    hits_df = pindex.topk(["import", "scan"], k=6)
    want = {r["doc_id"]: r["snippet"]
            for r in pindex.highlight(hits_df, ["import", "scan"],
                                      width=60).collect()}
    hits = [(r["doc_id"], r["score"]) for r in hits_df.collect()]
    got = lsearch.highlight(hits, ["import", "scan"], width=60)
    assert dict(zip(got["doc_id"], got["snippet"])) == want
    # no-match hits snippet from the start of the text
    some_id = hits[0][0]
    g2 = lsearch.highlight([(some_id, 1.0)], ["zzznotaterm"], width=25)
    assert len(g2) == 1 and "<em>" not in g2["snippet"][0]


def test_serve_field_stats_matches_spark(pindex, lsearch):
    """StatsComponent at node latency: count/min/max/sum/mean equal
    the Spark tier's field_stats row."""
    for terms, field in [(["scan"], "dl"), (["import"], "dl"),
                         (["nosuchtermanywherezz"], "dl")]:
        r = pindex.field_stats(terms, field).first()
        got = lsearch.field_stats(terms, field)
        assert got["n"] == r["n"], (terms, field)
        for k in ("min_v", "max_v", "sum_v", "mean_v"):
            if r[k] is None:
                assert got[k] is None, (terms, field, k)
            else:
                assert abs(got[k] - r[k]) < 1e-9, (terms, field, k)


def test_serve_pivot_facet_matches_spark(pindex, lsearch):
    """facet.pivot at node latency: identical flattened rows
    (ranking + tie-breaks) to PhysicalIndex.pivot_facet."""
    want = [(r[0], r[1], r[2], r[3])
            for r in pindex.pivot_facet(["import"], "lang", "repo",
                                        n1=4, n2=2).collect()]
    got = lsearch.pivot_facet(["import"], "lang", "repo", n1=4, n2=2)
    assert got == want


def test_query_result_cache_hits_and_invalidates(spark, tmp_path):
    """Round-4: Solr queryResultCache parity at the node tier — a
    repeated hot query is served from the in-memory result cache
    (hit counter moves, result identical); refresh() after a new
    commit flushes it (new-searcher invalidation) and the re-computed
    result sees the new docs."""
    from pyspark.sql import functions as F

    from katta_spark.corpus import synthetic_corpus, with_ingest_columns
    from katta_spark.index import build_index

    d = str(tmp_path / "qc_idx")
    full = with_ingest_columns(synthetic_corpus(spark, 400))
    build_index(spark, full.filter(F.col("doc_id") < 300), d,
                n_groups=2, block_range=64)
    srv = LocalSearcher(d)
    first = srv.topk(["import", "table"], k=8)
    assert srv._qcache.misses == 1 and srv._qcache.hits == 0
    again = srv.topk(["import", "table"], k=8)
    assert again == first
    assert srv._qcache.hits == 1
    # count and Lucene-string query cache too, under distinct keys
    c1 = srv.count(["import"])
    assert srv.count(["import"]) == c1
    q1 = srv.query("import AND table", k=5)
    assert srv.query("import AND table", k=5) == q1
    assert srv._qcache.hits == 3
    # a cached result is defensively copied — mutating the returned
    # list must not poison the cache
    again.append(("poison", 0.0))
    assert srv.topk(["import", "table"], k=8) == first

    # new commit -> refresh() -> fresh empty cache, new state served
    build_index(spark,
                full.filter(F.col("doc_id") >= 300)
                .drop("doc_id", "content_sha256"),
                d, n_groups=2, block_range=64, commit="c2")
    srv.refresh()
    assert srv._qcache.hits == 0 and srv._qcache.misses == 0
    assert srv.count(["import"]) > c1

    # qcache_size=0 disables cleanly
    off = LocalSearcher(d, qcache_size=0)
    assert off._qcache is None
    assert off.topk(["import"], k=3) == srv.topk(["import"], k=3)


def test_query_cache_lru_bound_and_overlay_bypass(spark, tmp_path):
    """The cache is bounded LRU; _global_view overlays (per-query df
    exchange) never read or fill it."""
    from pyspark.sql import functions as F

    from katta_spark.corpus import synthetic_corpus, with_ingest_columns
    from katta_spark.index import build_index

    d = str(tmp_path / "qc2_idx")
    full = with_ingest_columns(synthetic_corpus(spark, 120))
    build_index(spark, full, d, n_groups=1, block_range=64)
    srv = LocalSearcher(d, qcache_size=2)
    srv.count(["import"])
    srv.count(["table"])
    srv.count(["scan"])          # evicts ["import"]
    assert len(srv._qcache._d) == 2
    srv.count(["import"])        # miss again after eviction
    assert srv._qcache.hits == 0 and srv._qcache.misses == 4

    view = srv._global_view(
        float(srv.stats["n_docs"]), srv.stats["avgdl"], {}
    )
    before = (srv._qcache.hits, srv._qcache.misses, len(srv._qcache._d))
    view.topk(["import"], k=3)
    assert (srv._qcache.hits, srv._qcache.misses,
            len(srv._qcache._d)) == before
