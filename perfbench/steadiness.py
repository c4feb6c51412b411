"""Steadiness report: run each workload on several seeds and report, per
end-to-end metric, the median, the quartiles and the quartile spread as a
share of the median next to the metric's bound in BENCHMARK.json.

Usage (from the repository root):

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads serve_tail]
        [--out set1.md]
    # render saved raw results ({label: {workload: results}}) of one or
    # more sets; the medians of every pair of sets are compared
    python3 perfbench/steadiness.py --from set1.json,set2.json \
        --out perfbench/STEADINESS.md

Runs are sequential (one Spark JVM at a time); each takes about a minute
on a 4-core host.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",")]


def host_facts() -> dict:
    import pyarrow
    import pyspark

    mem = ""
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal"):
                mem = line.split(":", 1)[1].strip()
    except OSError:
        pass
    return {
        "nproc": os.cpu_count(), "mem_total": mem,
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "machine": platform.machine(),
    }


def capacity(seconds: float = 0.3) -> float:
    """Busy-loop iterations per second on one core: sampled before each
    run, its spread is the host's CPU-grant noise (BENCH/BASELINE.md
    "Cross-run variance")."""
    n, end = 0, time.perf_counter() + seconds
    while time.perf_counter() < end:
        for _ in range(1000):
            n += 1
    return n / seconds


def run_one(workload: str, seed: int, secs: int) -> dict:
    cap = capacity()
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(secs), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:"
                           f"\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    out["info"] = next((json.loads(x[5:]) for x in lines
                        if x.startswith("info ")), {})
    out["wall_s"] = wall
    out["capacity"] = cap
    return out


def spread(vals: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, med, q3, (q3 - q1) / med if med else 0.0


def render(sets: list[tuple[str, dict]], spec: dict) -> str:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    lines = ["# Benchmark steadiness", "",
             f"Rendered {time.strftime('%Y-%m-%d %H:%M UTC', time.gmtime())}"
             f" by `perfbench/steadiness.py`; `run_seconds` = "
             f"{spec['run_seconds']}; spread = (q3 - q1) / median over the "
             "runs of a set, as the benchmark contract computes it.", "",
             "Host: " + ", ".join(f"{k} {v}" for k, v in
                                  host_facts().items()), ""]
    for label, raw in sets:
        for w, rs in raw.items():
            walls = [r["wall_s"] for r in rs]
            _, cmed, _, csp = spread([r["capacity"] for r in rs])
            lines += [f"## {w}, {label}", "",
                      f"{len(rs)} runs, all correct: "
                      f"{all(r['correct'] and r['failed'] == 0 for r in rs)};"
                      f" run wall median {statistics.median(walls):.1f} s, "
                      f"max {max(walls):.1f} s.  Host CPU grant before each "
                      f"run (busy-loop, one core): median {cmed:.3g} it/s, "
                      f"quartile spread {csp:.3f}.", "",
                      "| metric | unit | q1 | median | q3 | spread | bound |",
                      "|---|---|---|---|---|---|---|"]
            for m in spec["end_to_end"]:
                vals = [r["metrics"][m["name"]]["value"] for r in rs]
                q1, med, q3, sp = spread(vals)
                lines.append(f"| {m['name']} | {m['unit']} | {q1:.4g} | "
                             f"{med:.4g} | {q3:.4g} | {sp:.3f} | "
                             f"{bounds[m['name']]} |")
            lines.append("")
    for i, earlier in enumerate(sets):
        for later in sets[i + 1:]:
            lines += compare(earlier, later, spec)
    return "\n".join(lines)


def compare(a: tuple[str, dict], b: tuple[str, dict], spec: dict
            ) -> list[str]:
    """Median of set b against set a per workload and metric, as a share
    of a's median in the direction that is worse, next to the bound."""
    lines = [f"## Medians of {b[0]} against {a[0]}", "",
             "Change = (median b - median a) / median a, signed so that "
             "a positive change is worse.", "",
             "| workload | metric | median a | median b | change | bound "
             "| within |", "|---|---|---|---|---|---|---|"]
    for w in a[1]:
        if w not in b[1]:
            continue
        for m in spec["end_to_end"]:
            ma, mb = (statistics.median(r["metrics"][m["name"]]["value"]
                                        for r in rs)
                      for rs in (a[1][w], b[1][w]))
            sign = 1 if m["better"] == "lower" else -1
            ch = sign * (mb - ma) / ma if ma else 0.0
            lines.append(f"| {w} | {m['name']} | {ma:.4g} | {mb:.4g} | "
                         f"{ch:+.3f} | {m['bound']} | "
                         f"{'yes' if ch <= m['bound'] else 'NO'} |")
    lines.append("")
    return lines


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    ap.add_argument("--label", default="",
                    help="the set's heading (default: its seeds)")
    ap.add_argument("--from", dest="saved", default="",
                    help="render saved raw results instead of running")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.saved:
        sets = [kv for f in args.saved.split(",")
                for kv in json.loads(Path(f).read_text()).items()]
    else:
        names = ([w for w in args.workloads.split(",") if w]
                 or [w["name"] for w in spec["workloads"]])
        raw: dict[str, list[dict]] = {}
        for w in names:
            raw[w] = []
            for s in seeds(args.seeds):
                r = run_one(w, s, spec["run_seconds"])
                raw[w].append(r)
                print(w, s, f"{r['wall_s']:.1f}s", r["correct"],
                      {k: round(v["value"], 4)
                       for k, v in r["metrics"].items()}, flush=True)
        sets = [(args.label or f"seeds {args.seeds}", raw)]
    if args.out:
        Path(args.out).parent.mkdir(parents=True, exist_ok=True)
        Path(args.out).with_suffix(".json").write_text(
            json.dumps(dict(sets), indent=1))
    text = render(sets, spec)
    print(text)
    if args.out:
        Path(args.out).write_text(text)


if __name__ == "__main__":
    main()
