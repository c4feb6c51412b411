"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve_tail --seed 1 --seconds 12 --trace 0

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the ``end_to_end`` list of BENCHMARK.json; with
``--trace 1`` the ``per_layer`` list, and the spans are written to
``perfbench/out/trace-<workload>-<seed>.json``.

Every file the run writes stays inside the repository checkout: the
index directories, Spark's local and temp dirs live under
``perfbench/.work/`` and are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = spec["per_layer" if args.trace else "end_to_end"]
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]
    try:
        import katta_spark  # noqa: F401
        import oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}",
              file=sys.stderr)
        return 2

    from spans import Tracer
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # the engine's Python workers import katta_spark and the oracle from
    # the checkout; temp files of Python and of every JVM stay inside
    # it (no hsperfdata in /tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(ROOT / "tests"), str(HERE)]
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
           if p])
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}"]))
    tempfile.tempdir = str(tmp)
    run = Run(Tracer(bool(args.trace)), work, args.seed, args.seconds)
    try:
        WORKLOADS[args.workload](run)
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's work dir is still there
            pass
    run.e2e["success_rate"] = 1.0 - run.failed / max(run.attempted, 1)
    got = run.layer if args.trace else run.e2e
    if args.trace:
        out = HERE / "out"
        out.mkdir(exist_ok=True)
        run.tracer.dump(out / f"trace-{args.workload}-{args.seed}.json")
        for name, s in sorted(run.tracer.self_times().items()):
            print(f"self_s {name} {s:.6f}")
    for note in run.notes:
        print(f"failure: {note}")
    print("info " + json.dumps(run.info, default=str))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(got[m["name"]]),
                                "unit": m["unit"]} for m in metrics},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
