"""Request dispatch and the closed- and open-loop drivers."""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np

from gen import Query

#: a request slower than this counts as failed (timed out); the engine's
#: own deadlines stay off so every request takes its normal code path
TIMEOUT_S = 5.0
SORT_COLS = [("lang", "asc"), ("dl", "desc")]


def call(h, q: Query):
    """Issue ``q`` against a LocalSearcher or ShardedSearcher."""
    t = list(q.terms)
    if q.cls == "topk_or":
        return h.topk(t, k=q.k, offset=q.offset)
    if q.cls == "topk_and":
        return h.topk(t, k=q.k, offset=q.offset, mode="and")
    if q.cls == "count":
        return h.count(t)
    if q.cls in ("query", "phrase"):
        return h.query(q.q, k=q.k, offset=q.offset)
    if q.cls == "facet":
        return h.facet(t, "lang", n=7)
    if q.cls == "sorted":
        return h.sorted_query(t, SORT_COLS, ["lang", "dl"], q.k,
                              offset=q.offset)
    raise ValueError(q.cls)


def pct(xs, p: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=np.float64), p))


@dataclass
class Done:
    """One completed (or failed) request."""
    q: Query
    lat_s: float
    result: object = None
    error: str | None = None
    traced: bool = False
    #: result-cache hit, classified from the handle's counters (traced
    #: requests only)
    hit: bool | None = None
    #: when the request went out, in seconds from the start of its loop
    at: float = 0.0


def closed_loop(h, stream, seconds: float, tracer, module: str,
                hits=None) -> list[Done]:
    """One client: the next request goes out when the previous one
    returns.  ``hits()`` reads the handle's result-cache hit counter
    around each request, outside the timed window, to mark each one a
    hit or a miss.  With tracing on, every other request is traced and
    the rest run bare, so the difference of the two halves is the
    tracing overhead."""
    out: list[Done] = []
    start = time.perf_counter()
    end = start + seconds
    i = 0
    while time.perf_counter() < end:
        q = next(stream)
        traced = tracer.enabled and i % 2 == 0
        h0 = hits() if hits else None
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.span(f"{module}.{q.cls}", request=i):
                    r = call(h, q)
            else:
                r = call(h, q)
            err = None
        except Exception as e:  # counted, never raised
            r, err = None, f"{type(e).__name__}: {e}"
        lat = time.perf_counter() - t0
        if err is None and lat > TIMEOUT_S:
            err = f"timeout: {lat:.3f}s"
        d = Done(q, lat, r, err, traced, at=t0 - start)
        if h0 is not None:
            d.hit = hits() > h0
        out.append(d)
        i += 1
    return out


def windows(done: list[Done], misses: int) -> list[list[Done]]:
    """The closed loop's requests, in order, cut into windows that each
    end at their ``misses``-th result-cache miss (a trailing part
    window is dropped; a loop too short for one window is one window).
    The stream and the cache are deterministic, so window i holds the
    same requests in every run whatever the host's speed."""
    out: list[list[Done]] = []
    cur: list[Done] = []
    n = 0
    for d in done:
        cur.append(d)
        n += not d.hit
        if n == misses:
            out.append(cur)
            cur, n = [], 0
    return out or [done]


def open_loop(h, stream, rate: float, seconds: float,
              limit_s: float) -> dict:
    """Requests fall due every ``1/rate`` s whether or not the previous
    one returned; one sender issues each as soon as it is due and it is
    free, and each request is timed from when it was DUE, so a stall
    shows up in the latency of every request queued behind it.
    Goodput is the requests done within ``limit_s`` per second of the
    phase, which spans the n arrival gaps up to the last due time and
    then the last response's latency: just over ``n / rate`` when the
    handle keeps up, longer when it falls behind."""
    n = max(1, int(round(rate * seconds)))
    t0 = time.perf_counter() + 0.01
    late: list[float] = []
    done: list[Done] = []
    for i in range(n):
        due = t0 + i / rate
        now = time.perf_counter()
        if now < due:
            time.sleep(due - now)
        start = time.perf_counter()
        late.append(start - due)
        q = next(stream)
        try:
            r, err = call(h, q), None
        except Exception as e:  # counted, never raised
            r, err = None, f"{type(e).__name__}: {e}"
        end = time.perf_counter()
        lat = end - due
        if err is None and lat > TIMEOUT_S:
            err = f"timeout: {lat:.3f}s"
        done.append(Done(q, lat, r, err))
    good = sum(d.error is None and d.lat_s <= limit_s for d in done)
    return {
        "done": done, "good": good,
        "goodput_qps": good / (end - t0 + 1 / rate),
        "late_p50_ms": pct(late, 50) * 1e3,
        "late_max_ms": max(late) * 1e3,
    }
