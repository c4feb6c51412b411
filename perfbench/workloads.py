"""The benchmark's workloads: ``serve_tail`` and ``ingest_update``.

Both run the same phases with their own inputs:

1. set-up (``setup_s``): Spark start, corpus generation, index build(s),
   Spark stop, serving-handle open and warm-up;
2. writes (``ingest_update``): rounds of ``update_docs`` /
   ``delete_docs`` / ``refresh`` with verification reads;
3. a fixed Spark-tier batch through ``PhysicalIndex.topk`` /
   ``multi_topk`` (``batch_search_qps``), before Spark stops;
4. serving: a closed loop with one client, then an open loop at a fixed
   offered rate, each request timed from when it was due;
5. correctness checks against ``tests/oracle.py``'s ``PyBM25``, after
   every timed phase.

A traced run also records spans and runs untimed probes for the
per-layer metrics (see README.md for the metric -> layer map).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np

import gen
import loops

NPROC = os.cpu_count() or 4

#: corpus geometry: 2,048 docs at block_range 128 gives 16 posting blocks
#: per hot term on one node and 4 per shard
N_DOCS = 2048
BLOCK_RANGE = 128
SHARDS = 4
ROUNDS = 1
UPDATE_FRAC = 0.01
DELETE_FRAC = 0.002
HEAD_POOL = 2000
#: open-loop offered rate (requests/s) and latency limit (s) per
#: workload: at most a quarter of the closed-loop capacity on a 4-core
#: host, so a stretch in which the host serves at half speed does not
#: tip the open loop into overload
OPEN = {"serve_tail": (6.0, 0.4), "ingest_update": (20.0, 0.25)}
#: share of --seconds spent in the closed loop; the rest is open loop
CLOSED_SHARE = 0.8
#: the closed-loop figures cover the loop's first WINDOWS windows of a
#: workload's MISS_WINDOW result-cache misses each: the same ~200
#: requests in every run on serve_tail and ~750 on ingest_update, which
#: fill ~80% of the 9.6 s loop while the shared host runs slow (~25 and
#: ~100 requests/s) and ~40% while it runs fast
MISS_WINDOW = {"serve_tail": 20, "ingest_update": 30}
WINDOWS = 10
WARM_QUERIES = 16
#: head-stream requests before timing (a separate stream): the result
#: cache still fills during the closed loop, which its windows allow for
HEAD_WARM = 200
CHECK_SAMPLE = 30
SCORE_TOL = 1e-9


class Run:
    """One run's metrics, request counts and failures."""

    def __init__(self, tracer, work: Path, seed: int, seconds: float):
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.rng = np.random.default_rng([seed, 9])
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.spark: Spark | None = None

    def close(self) -> None:
        """Stop whatever the run started that is still alive: the Spark
        JVM (after a failure) and any scatter worker processes."""
        import multiprocessing as mp

        if self.spark is not None:
            self.spark.stop()
        for p in mp.active_children():
            p.join(timeout=60)

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(what)


# ------------------------------------------------------------- Spark


class Spark:
    """The build tier's session on ``local[nproc]``, with every scratch
    path inside the run's work directory."""

    def __init__(self, work: Path):
        from katta_spark.session import get_spark

        self.s = get_spark(
            app_name="perfbench", master=f"local[{NPROC}]",
            shuffle_partitions=NPROC,
            extra_conf={
                "spark.local.dir": str(work / "local"),
                "spark.sql.warehouse.dir": str(work / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # concurrent shard builds share the executor fairly
                "spark.scheduler.mode": "FAIR",
            })
        self.s.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        """Stop the session AND the JVM, and wait until it has exited
        (safe to call twice)."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        if self.s is None:
            return
        gw = SparkContext._gateway
        self.s.stop()
        self.s = None
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Py4JError:  # the gateway may already be gone
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def build(spark, frame, d: Path) -> dict:
    from katta_spark.index import build_index

    return build_index(spark, spark.createDataFrame(frame), str(d),
                       n_groups=1, block_range=BLOCK_RANGE)


def record_build(run: Run, reports: list[dict], wall: float, dirs,
                 corpus: gen.Corpus) -> None:
    ms = [m for r in reports for m in r["manifest"]]
    posting = sum(m["wall_s"] for m in ms)
    on_disk = sum(p.stat().st_size for d in dirs
                  for sub in ("postings", "docs", "terms")
                  for p in (Path(d) / sub).rglob("*.parquet"))
    run.e2e["build_files_per_s"] = corpus.n_docs / wall
    run.e2e["index_bytes_per_input_byte"] = on_disk / sum(
        len(x.encode()) for x in corpus.content)
    run.layer.update({
        "index.build.setup_build_s": wall,
        "index.build.posting_s": posting,
        "index.build.ingest_s": sum(r["wall_s"] for r in reports) - posting,
        "index.build.postings": sum(m["n_postings"] for m in ms),
        "index.build.blocks": sum(m["n_blocks"] for m in ms),
        "index.build.bytes": sum(m["bytes"] for m in ms),
    })


# ------------------------------------------------------------ oracle


class Ledger:
    """Every row ever committed to one index, by doc id, and the ids
    that are dead (tombstoned by a delete or replaced by an update)."""

    def __init__(self, corpus: gen.Corpus, n: int):
        self.c = corpus
        self.n = n
        self.rows: dict[int, str] = dict(enumerate(corpus.content[:n]))
        self.dead: set[int] = set()
        self.taken: set[int] = set()
        #: (path, commit name) -> content, for the sha256 check
        self.versions = {(p, "c0"): c for p, c in
                         zip(corpus.path[:n], corpus.content[:n])}


class Oracle:
    """``PyBM25`` over every row ever committed (global stats keep
    tombstoned docs, as the engine's do), answering for live docs."""

    def __init__(self, rows: dict[int, str], dead: set[int]):
        from oracle import PyBM25

        self.o = PyBM25(sorted(rows.items()))
        self.dead = dead

    def live(self, terms, mode):
        return [d for d in self.o.matches(list(terms), mode)
                if d not in self.dead]

    def topk(self, terms, k, mode="or", offset=0):
        sc = [(d, self.o.score(d, list(terms)))
              for d in self.live(terms, mode)]
        sc.sort(key=lambda x: (-x[1], x[0]))
        return sc[offset:offset + k]

    def expect(self, q: gen.Query):
        if q.cls == "count":
            return len(self.live(q.terms, "or"))
        mode = "and" if q.cls == "topk_and" else "or"
        return self.topk(q.terms, q.k, mode, q.offset)


def same(got, want) -> bool:
    if isinstance(want, int):
        return got == want
    return (len(got) == len(want)
            and all(a[0] == b[0] and abs(a[1] - b[1]) <= SCORE_TOL
                    for a, b in zip(got, want)))


def check(run: Run, oracle: Oracle, done: list[loops.Done],
          batch: list) -> None:
    """A seeded sample of top-k / count responses and every Spark-tier
    batch result against the oracle (doc ids, scores to 1e-9); and no
    response may carry a dead doc id."""
    cand = [d for d in done
            if d.error is None and d.q.cls in ("topk_or", "topk_and",
                                               "count")]
    for i in run.rng.permutation(len(cand))[:CHECK_SAMPLE]:
        d = cand[int(i)]
        run.outcome(same(d.result, oracle.expect(d.q)),
                    f"oracle mismatch {d.q}")
    for q, got in batch:
        run.outcome(same(got, oracle.expect(q)), f"spark tier {q}")
    if oracle.dead:
        back = [d.q for d in done if isinstance(d.result, list)
                and {x[0] for x in d.result if isinstance(x, tuple)}
                & oracle.dead]
        run.outcome(not back, f"dead ids returned for {back[:3]}")


# ------------------------------------------------------------- phases


def spark_batch(run: Run, idx, stream) -> list:
    """Fixed Spark-tier batch: 2 ``topk`` calls and one ``multi_topk``
    of 4 queries.  Returns (query, result) pairs for the oracle check."""
    qs = []
    while len(qs) < 6:
        q = next(stream)
        if q.cls in ("topk_or", "topk_and"):
            qs.append(gen.Query(q.cls, q.terms, q.k, q.offset))
    tr = run.tracer
    out, t_topk = [], []
    with tr.span("batch") as t_all:
        for q in qs[:2]:
            with tr.span("index.search.topk") as t:
                rows = idx.topk(list(q.terms), k=q.k, offset=q.offset,
                                mode="and" if q.cls == "topk_and"
                                else "or").collect()
            t_topk.append(t.s)
            out.append((q, rows))
        multi = {f"q{i}": list(q.terms) for i, q in enumerate(qs[2:])}
        with tr.span("index.search.multi_topk") as t_multi:
            rows = idx.multi_topk(multi, k=10).collect()
    run.layer["index.search.batch_qps"] = len(qs) / t_all.s
    run.layer["index.search.topk_ms"] = loops.pct(t_topk, 50) * 1e3
    run.layer["index.search.multi_topk_ms"] = t_multi.s * 1e3
    for i, q in enumerate(qs[2:]):
        out.append((gen.Query("topk_or", q.terms, 10, 0),
                    [r for r in rows if r["qid"] == f"q{i}"]))
    return [(q, sorted(((int(r["doc_id"]), float(r["score"])) for r in rs),
                       key=lambda x: (-x[1], x[0])))
            for q, rs in out]


def serve(run: Run, h, stream, module: str, hits, workload: str
          ) -> tuple[list[loops.Done], list[loops.Done]]:
    """Closed loop, then open loop: qps / p50 / p90 / goodput.  qps
    counts every request; p50 / p90 count the requests the result cache
    missed, which are the ones that reach the search kernels.  Returns
    the requests of each loop."""
    secs = run.seconds * CLOSED_SHARE
    done = loops.closed_loop(h, stream, secs, run.tracer, module, hits)
    for d in done:
        run.outcome(d.error is None, f"{d.q}: {d.error}")
    ok = [d for d in done if d.error is None]
    # the figures cover the loop's first WINDOWS windows: window i holds
    # the same requests in every run, so the figures read the host's
    # speed, not how far a run got into a stream whose caches are still
    # warming.  qps is the median of the windows' throughput, so a
    # stretch in which the shared host runs slow moves it only when it
    # covers half the windows; p50 / p90 are over the windows' misses
    # (with tracing on, the untraced half)
    wins = loops.windows(ok, MISS_WINDOW[workload])[:WINDOWS]
    qps = [len(w) / (w[-1].at + w[-1].lat_s - w[0].at) for w in wins]
    bare = [d.lat_s for w in wins for d in w if not d.traced and not d.hit]
    run.e2e["qps"] = float(np.median(qps))
    run.e2e["p50_ms"] = loops.pct(bare, 50) * 1e3
    run.e2e["p90_ms"] = loops.pct(bare, 90) * 1e3
    rate, limit = OPEN[workload]
    ol = loops.open_loop(h, stream, rate,
                         run.seconds * (1 - CLOSED_SHARE), limit)
    for d in ol["done"]:
        run.outcome(d.error is None, f"open loop {d.q}: {d.error}")
    run.e2e["goodput_qps"] = ol["goodput_qps"]
    run.layer["loop.open_late_p50_ms"] = ol["late_p50_ms"]
    run.info.update(closed_samples=len(ok), measured_misses=len(bare),
                    window_qps=[round(x, 1) for x in qps],
                    open_requests=len(ol["done"]),
                    open_late_max_ms=ol["late_max_ms"])
    return done, ol["done"]


def serve_layers(run: Run, h, done: list[loops.Done], node_dirs) -> None:
    """Per-layer serving metrics from the traced half of the closed loop
    and untimed probes."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from katta_spark.fulltext.qparse import parse_lucene
    from katta_spark.index.serve import LocalSearcher

    traced = [d for d in done if d.traced and d.error is None]
    miss = [d for d in traced if not d.hit]
    for cls in gen.CLASSES:
        xs = [d.lat_s for d in miss if d.q.cls == cls]
        run.layer[f"serve.{cls}_ms"] = loops.pct(xs, 50) * 1e3 if xs else 0.0
    run.layer["cache.miss_ms"] = loops.pct([d.lat_s for d in miss], 50) * 1e3
    bare = [d.lat_s for d in done
            if not d.traced and not d.hit and d.error is None]
    run.layer["trace.overhead_p50_ms"] = (
        loops.pct([d.lat_s for d in miss], 50) - loops.pct(bare, 50)) * 1e3
    run.layer["trace.spans"] = len(run.tracer.spans)

    first, seen = [], set()
    for d in miss:
        if d.q.key not in seen:
            seen.add(d.q.key)
            first.append(d)
    # scatter probe: each query again on every node handle with caches
    # off; overhead = front call - slowest node, skew = max/mean node
    nodes = [LocalSearcher(str(d), qcache_size=0) for d in node_dirs]
    over, skew = [], []
    for d in first[:24]:
        ts = []
        for n in nodes:
            with run.tracer.span("probe.node") as t:
                loops.call(n, d.q)
            ts.append(t.s)
        over.append(d.lat_s - max(ts))
        skew.append(max(ts) / (sum(ts) / len(ts)))
    run.layer["serve.sharded.scatter_overhead_ms"] = loops.pct(over, 50) * 1e3
    run.layer["serve.sharded.shard_skew"] = loops.pct(skew, 50)

    # cache hit path: re-issue answered cacheable queries on the front
    again = [d.q for d in first
             if d.q.cls in ("topk_or", "topk_and", "count", "query")][:20]
    ts = []
    for q in again:
        with run.tracer.span("probe.cache_hit") as t:
            loops.call(h, q)
        ts.append(t.s)
    run.layer["cache.hit_ms"] = loops.pct(ts, 50) * 1e3

    ts = []
    for s in (d.q.q for d in done if d.q.q):
        with run.tracer.span("fulltext.qparse.parse_lucene") as t:
            parse_lucene(s)
        ts.append(t.s)
    run.layer["fulltext.qparse.parse_ms"] = loops.pct(ts, 50) * 1e3

    # codec work per query, read untimed: posting rows and encoded bytes
    posts = [ds.dataset(str(Path(d) / "postings"), partitioning="hive")
             for d in node_dirs]
    cols = [c for c in ("doc_gaps", "tfs", "dls", "pos_lens", "pos_deltas",
                        "id_bits") if c in posts[0].schema.names]
    blocks, nbytes = [], []
    for d in first[:100]:
        b = nb = 0
        for p in posts:
            t = p.to_table(columns=cols,
                           filter=ds.field("term").isin(list(d.q.terms)))
            b += t.num_rows
            nb += sum(int(pc.sum(pc.binary_length(t[c])).as_py() or 0)
                      for c in cols)
        blocks.append(b)
        nbytes.append(nb)
    run.layer["codec.blocks_per_query"] = float(np.mean(blocks))
    run.layer["codec.posting_bytes_per_query"] = float(np.mean(nbytes))


def cache_rates(run: Run, before: dict, after: dict) -> None:
    def rate(h, m):
        return h / (h + m) if h + m else 0.0

    run.layer["cache.qcache_hit_rate"] = rate(
        after["q_hits"] - before["q_hits"],
        after["q_misses"] - before["q_misses"])
    run.layer["cache.scache_hit_rate"] = rate(
        after["s_hits"] - before["s_hits"],
        after["s_misses"] - before["s_misses"])
    run.layer["serve.sharded.retries"] = after["retries"] - before["retries"]
    run.layer["serve.sharded.shard_failures"] = (
        after["failures"] - before["failures"])


def counters(h) -> dict:
    """Cache and scatter counters of a LocalSearcher or ShardedSearcher."""
    if hasattr(h, "shards"):
        m = h.metrics()
        nodes = m["per_shard"]
        return {"q_hits": sum(n["qcache_hits"] for n in nodes),
                "q_misses": sum(n["qcache_misses"] for n in nodes),
                "s_hits": m["scache_hits"], "s_misses": m["scache_misses"],
                "retries": m["n_retries"],
                "failures": m["n_shard_failures"]}
    n = h.node_metrics()
    return {"q_hits": n["qcache_hits"], "q_misses": n["qcache_misses"],
            "s_hits": 0, "s_misses": 0, "retries": 0, "failures": 0}


def write_round(run: Run, spark: Spark, d: Path, h, led: Ledger,
                r: int) -> float:
    """One commit: update ~1% of the docs by path (the new content
    carries a per-round marker token), delete ~0.2%, refresh the
    handle and verify it.  Returns the commit-to-visible time."""
    import pandas as pd
    import pyarrow.dataset as ds

    from katta_spark.index.delete import delete_docs
    from katta_spark.index.update import update_docs

    n, c = led.n, led.c
    free = np.array(sorted(set(range(n)) - led.taken))
    n_up = max(1, int(n * UPDATE_FRAC))
    n_del = max(1, int(n * DELETE_FRAC))
    pick = run.rng.choice(free, n_up + n_del, replace=False)
    up = sorted(int(i) for i in pick[:n_up])
    dele = sorted(int(i) for i in pick[n_up:])
    led.taken.update(up + dele)
    marker = f"updmark{r}q"
    name = f"u{r}"
    rep = pd.DataFrame({
        "repo": [c.repo[i] for i in up],
        "path": [c.path[i] for i in up],
        "commit": [hashlib.sha1(f"{c.commit[i]}:{name}".encode()).hexdigest()
                   for i in up],
        "lang": [c.lang[i] for i in up],
        "content": [c.content[i] + f"    # {marker}\n" for i in up],
    })
    tr = run.tracer
    t0 = time.perf_counter()
    with tr.span("round"):
        with tr.span("index.update.update_docs") as t_up:
            update_docs(spark.s, str(d), spark.s.createDataFrame(rep),
                        match_col="path", commit=name, n_groups=1)
        with tr.span("index.delete.delete_docs") as t_del:
            delete_docs(spark.s, str(d), dele)
        with tr.span("serve.local.refresh") as t_ref:
            h.refresh()
        with tr.span("verify"):
            cnt = h.count([marker])
            hits = {x[0] for x in h.topk([marker], k=n_up + 5)}
        visible = time.perf_counter() - t0
    new = ds.dataset(str(d / "docs" / f"commit={name}"),
                     partitioning="hive").to_table(
        columns=["doc_id", "path"]).to_pydict()
    led.dead.update(up + dele)
    truth = dict(zip(rep["path"], rep["content"]))
    led.versions.update({(p, name): x for p, x in truth.items()})
    for i, p in zip(new["doc_id"], new["path"]):
        led.rows[int(i)] = truth.get(p, "")
    run.outcome(sorted(new["path"]) == sorted(truth),
                f"round {r}: commit {name} holds other paths")
    run.outcome(cnt == n_up, f"round {r}: marker count {cnt} != {n_up}")
    run.outcome(hits == {int(i) for i in new["doc_id"]},
                f"round {r}: marker hits are not the new versions")
    run.outcome(not hits & led.dead, f"round {r}: dead id visible")
    run.info.setdefault("round_s", []).append(
        (t_up.s, t_del.s, t_ref.s, visible))
    return visible


def record_writes(run: Run, h) -> None:
    rs = run.info["round_s"]
    run.layer["index.update.update_docs_s"] = float(
        np.median([x[0] for x in rs]))
    run.layer["index.delete.delete_docs_s"] = float(
        np.median([x[1] for x in rs]))
    run.layer["serve.local.refresh_ms"] = float(
        np.median([x[2] for x in rs])) * 1e3
    m = h.node_metrics()
    run.layer["serve.local.tombstones"] = m["tombstones"]
    run.layer["index.commits"] = len(m["commits"])


def check_sha(run: Run, d: Path, led: Ledger) -> None:
    """content_sha256 = sha256(content) for every stored row, and every
    stored row is the version the generator committed."""
    import pyarrow.dataset as ds

    for cdir in sorted((d / "docs").glob("commit=*")):
        name = cdir.name.split("=", 1)[1]
        t = ds.dataset(str(cdir), partitioning="hive").to_table(
            columns=["path", "content", "content_sha256"]).to_pydict()
        bad = 0
        for p, c, sha in zip(t["path"], t["content"], t["content_sha256"]):
            want = led.versions.get((p, name))
            bad += (want is None or c != want
                    or sha != hashlib.sha256(c.encode()).hexdigest())
        run.outcome(bad == 0, f"{cdir.name}: {bad} rows fail sha256/content")


# ---------------------------------------------------------- workloads


def serve_tail(run: Run) -> None:
    """ShardedSearcher over 4 shard indexes; a long-tail query stream."""
    from katta_spark.index import PhysicalIndex
    from katta_spark.index.serve import LocalSearcher, ShardedSearcher

    tr, work, seed = run.tracer, run.work, run.seed
    per = N_DOCS // SHARDS  # a multiple of BLOCK_RANGE: ids line up
    dirs = [work / f"shard{s}" for s in range(SHARDS)]
    with tr.span("setup"):
        with tr.span("session.spark_start") as t_sp:
            spark = run.spark = Spark(work)
        with tr.span("corpus.generate") as t_gen:
            c = gen.make_corpus(seed, N_DOCS)

        def one(s: int) -> dict:
            spark.s.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"shard{s}")
            return build(spark.s, c.frame(s * per, (s + 1) * per), dirs[s])

        with tr.span("index.build") as t_b:
            with ThreadPoolExecutor(SHARDS) as ex:
                reports = list(ex.map(one, range(SHARDS)))
    record_build(run, reports, t_b.s, dirs, c)
    run.layer["session.spark_start_s"] = t_sp.s
    batch = []
    if tr.enabled:
        batch = spark_batch(run, PhysicalIndex.open_many(
            spark.s, [str(d) for d in dirs]),
            gen.tail_stream(c, salt=1))
        # the write path on a side copy of shard 0 (the served shards
        # stay free of tombstones)
        side = work / "side"
        shutil.copytree(dirs[0], side)
        hs = LocalSearcher(str(side))
        led = Ledger(c, per)
        write_round(run, spark, side, hs, led, 0)
        record_writes(run, hs)
    with tr.span("setup.spark_stop") as t_stop:
        spark.stop()
    with tr.span("serve.sharded.open") as t_open:
        sh = ShardedSearcher([str(d) for d in dirs])
        warm = gen.tail_stream(c, salt=2)
        for _ in range(WARM_QUERIES):
            loops.call(sh, next(warm))
    run.e2e["setup_s"] = t_sp.s + t_gen.s + t_b.s + t_stop.s + t_open.s
    # the workload's one commit is its build: visible once the opened
    # handle has answered
    run.e2e["commit_visible_p50_s"] = t_b.s + t_open.s
    try:
        m0 = counters(sh)
        done, opened = serve(run, sh, gen.tail_stream(c), "serve.sharded",
                             lambda: sh.metrics()["scache_hits"],
                             "serve_tail")
        cache_rates(run, m0, counters(sh))
        if tr.enabled:
            serve_layers(run, sh, done, dirs)
    finally:
        sh.close()
        run.close()  # waits for the scatter workers to exit
    check(run, Oracle(dict(enumerate(c.content)), set()), done + opened,
          batch)


def ingest_update(run: Run) -> None:
    """Build, update/delete rounds, Spark-tier batch, then a Zipf head
    stream on the refreshed, tombstoned, multi-commit node."""
    from katta_spark.index import PhysicalIndex
    from katta_spark.index.serve import LocalSearcher

    tr, work, seed = run.tracer, run.work, run.seed
    d = work / "index"
    with tr.span("setup"):
        with tr.span("session.spark_start") as t_sp:
            spark = run.spark = Spark(work)
        with tr.span("corpus.generate") as t_gen:
            c = gen.make_corpus(seed, N_DOCS)
        with tr.span("index.build") as t_b:
            report = build(spark.s, c.frame(), d)
        with tr.span("serve.local.open") as t_open:
            h = LocalSearcher(str(d))
            warm = gen.tail_stream(c, salt=2)
            for _ in range(WARM_QUERIES):
                loops.call(h, next(warm))
    record_build(run, [report], t_b.s, [d], c)
    run.layer["session.spark_start_s"] = t_sp.s
    led = Ledger(c, N_DOCS)
    vis = [write_round(run, spark, d, h, led, r) for r in range(ROUNDS)]
    run.e2e["commit_visible_p50_s"] = float(np.median(vis))
    record_writes(run, h)
    batch = []
    if tr.enabled:
        batch = spark_batch(run, PhysicalIndex(spark.s, str(d)),
                            gen.tail_stream(c, salt=1))
    with tr.span("setup.spark_stop") as t_stop:
        spark.stop()
    pool = gen.head_pool(c, HEAD_POOL)
    with tr.span("serve.local.warm") as t_warm:
        warm = gen.head_stream(pool, salt=1)
        for _ in range(HEAD_WARM):
            loops.call(h, next(warm))
    run.e2e["setup_s"] = (t_sp.s + t_gen.s + t_b.s + t_open.s + t_stop.s
                          + t_warm.s)
    m0 = counters(h)
    done, opened = serve(run, h, gen.head_stream(pool), "serve.local",
                         lambda: h.node_metrics()["qcache_hits"],
                         "ingest_update")
    cache_rates(run, m0, counters(h))
    if tr.enabled:
        serve_layers(run, h, done, [d])
    check(run, Oracle(led.rows, led.dead), done + opened, batch)
    check_sha(run, d, led)


WORKLOADS = {"serve_tail": serve_tail, "ingest_update": ingest_update}
