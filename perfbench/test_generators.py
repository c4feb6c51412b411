"""Tests of the benchmark's own generators and drivers (no Spark).

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import sys
import time
from collections import Counter
from itertools import islice
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import gen  # noqa: E402
import loops  # noqa: E402
from spans import Tracer  # noqa: E402

from katta_spark.tokenizer import py_tokenize  # noqa: E402

N = 2048


def test_same_seed_same_inputs():
    a, b = gen.make_corpus(5, 512), gen.make_corpus(5, 512)
    assert a.digest() == b.digest()
    c = gen.make_corpus(6, 512)
    assert c.digest() != a.digest()
    qa = [q.key for q in islice(gen.tail_stream(a), 500)]
    assert qa == [q.key for q in islice(gen.tail_stream(b), 500)]
    assert qa != [q.key for q in islice(gen.tail_stream(a, salt=1), 500)]
    pa, pb = gen.head_pool(a, 300), gen.head_pool(b, 300)
    assert [q.key for q in pa] == [q.key for q in pb]
    assert ([q.key for q in islice(gen.head_stream(pa), 500)]
            == [q.key for q in islice(gen.head_stream(pb), 500)])
    # another seed: other words, the same traffic shape
    qc = list(islice(gen.tail_stream(c), 500))
    assert [q.key for q in qc] != qa
    assert [q.cls for q in qc] == [k[0] for k in qa]
    ranks = {w: i for i, w in enumerate(a.vocab)}
    ranks_c = {w: i for i, w in enumerate(c.vocab)}
    pc = gen.head_pool(c, 300)
    assert [q.cls for q in pc] == [q.cls for q in pa]
    assert ([sorted(ranks[t] for t in q.terms) for q in pa
             if q.cls != "phrase"]
            == [sorted(ranks_c[t] for t in q.terms) for q in pc
                if q.cls != "phrase"])


def test_df_spans_hot_mid_rare():
    c = gen.make_corpus(1, N)
    df = Counter()
    for text in c.content:
        df.update(set(py_tokenize(text)))
    vocab = set(c.vocab)
    frac = sorted((d / N for t, d in df.items() if t in vocab), reverse=True)
    hot = sum(f > 0.5 for f in frac)
    rare = sum(f < 0.001 for f in frac)
    mid = sum(0.01 <= f <= 0.1 for f in frac)
    assert hot >= 3, frac[:10]
    assert mid >= 100
    assert rare >= 1000
    # every vocabulary word is one token: the generator's words are the
    # index's terms
    assert all(py_tokenize(w) == [w] for w in c.vocab[:200])


def test_tail_stream_rarely_repeats_and_mixes_classes():
    c = gen.make_corpus(2, N)
    qs = list(islice(gen.tail_stream(c), 2100))
    repeats = len(qs) - len({q.key for q in qs})
    assert repeats / len(qs) < 0.1
    share = Counter(q.cls for q in qs)
    assert set(share.values()) == {len(qs) // len(gen.CLASSES)}, share


def test_zipf_head_share():
    c = gen.make_corpus(3, 512)
    pool = gen.head_pool(c, 2000)
    assert len({q.key for q in pool}) == 2000
    top = {q.key for q in pool[:20]}
    draws = list(islice(gen.head_stream(pool), 40000))
    got = sum(q.key in top for q in draws) / len(draws)
    want = gen.head_share(2000, 20)
    assert 0.5 < want < 0.6  # s = 1.1 over 2,000 queries
    assert abs(got - want) < 0.015


class _Stall:
    """Fake handle: the first request stalls, the rest are quick."""

    def __init__(self, stall_s: float):
        self.stall_s = stall_s
        self.n = 0

    def topk(self, *a, **k):
        self.n += 1
        time.sleep(self.stall_s if self.n == 1 else 0.001)
        return []


def test_open_loop_times_from_due():
    q = gen.Query("topk_or", ("a",))
    stream = iter([q] * 100)
    rate, stall = 100.0, 0.2
    r = loops.open_loop(_Stall(stall), stream, rate, 0.5, limit_s=0.05)
    lat = [d.lat_s for d in r["done"]]
    # request i was due i/rate after the first; the stall delays its
    # start, and that wait is part of its latency
    for i in range(1, 10):
        assert lat[i] >= stall - i / rate - 0.005, (i, lat[i])
    assert r["good"] < len(r["done"])
    assert r["goodput_qps"] <= r["good"] * rate / len(r["done"])
    assert r["late_max_ms"] >= (stall - 1 / rate) * 1e3 - 5


def test_open_loop_goodput_is_the_rate_when_keeping_up():
    q = gen.Query("topk_or", ("a",))
    r = loops.open_loop(_Stall(0.001), iter([q] * 50), 100.0, 0.5,
                        limit_s=0.05)
    assert r["good"] == 50
    assert 95.0 < r["goodput_qps"] < 100.0


def test_open_loop_counts_timeouts(monkeypatch):
    monkeypatch.setattr(loops, "TIMEOUT_S", 0.1)
    q = gen.Query("topk_or", ("a",))
    r = loops.open_loop(_Stall(0.15), iter([q] * 10), 100.0, 0.1,
                        limit_s=1.0)
    errors = [d.error for d in r["done"]]
    # the stalled request and those queued behind it past 0.1 s fail
    assert errors[0].startswith("timeout")
    assert errors[-1] is None
    assert r["good"] == errors.count(None)


def test_windows_end_at_every_nth_miss():
    q = gen.Query("topk_or", ("a",))
    done = [loops.Done(q, 0.01, hit=i % 3 == 0, at=0.01 * i)
            for i in range(20)]
    wins = loops.windows(done, 4)
    # misses are the requests i % 3 != 0; a window closes at its 4th
    assert [len(w) for w in wins] == [6, 6, 6]
    assert all(sum(not d.hit for d in w) == 4 for w in wins)
    assert wins[1][0] is done[6]
    # too short for one window: the whole loop is the window
    assert loops.windows(done[:3], 4) == [done[:3]]


def test_self_time():
    tr = Tracer(True)
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.03)
    st = tr.self_times()
    assert 0.015 < st["outer"] < 0.03
    assert 0.025 < st["inner"] < 0.045
    assert tr.spans[1].parent == 0
