"""Run one workload several times and report how steady each metric is.

    python3 perfbench/steady.py --workload search_interactive --runs 10 [--first-seed 1] [--trace]

Each run uses its own seed (``first-seed``, ``first-seed + 1``, ...) and
the ``run_seconds`` of BENCHMARK.json.  For every metric it prints the
median, the quartiles (``statistics.quantiles(values, n=4)``), the spread
(q3 - q1) / median and the max/min ratio, next to the metric's bound.  A
spread at or above a third of the bound is marked ``UNSTEADY`` (``setup_s``
excepted: its bound limits drift of the median, not spread).  With
``--trace`` each seed also runs traced, and the tracing overhead — traced
over untraced median CPU per operation — is reported.  Run from the root of a
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"run failed: seed {seed} exit {out.returncode}")
    return json.loads(lines[-1])


def summarize(name: str, values: list[float], bound: float | None) -> str:
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else float("nan")
    lo, hi = min(values), max(values)
    ratio = hi / lo if lo else float("inf")
    flag = ""
    if bound is not None and name != "setup_s" and not spread < bound / 3:
        flag = "  UNSTEADY"
    b = f"{bound:.2f}" if bound is not None else "-"
    return (f"{name:32s} median {med:14.4f}  q1 {q1:14.4f}  q3 {q3:14.4f}  "
            f"spread {spread:6.3f}  max/min {ratio:6.3f}  bound {b}{flag}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    runs, traced = [], []
    for i in range(args.runs):
        seed = args.first_seed + i
        r = one_run(args.workload, seed, bench["run_seconds"], 0)
        runs.append(r)
        print(f"seed {seed}: " + json.dumps({k: round(v["value"], 4) for k, v in r["metrics"].items()}),
              flush=True)
        if args.trace:
            traced.append(one_run(args.workload, seed, bench["run_seconds"], 1))

    print(f"\n{args.workload}: {args.runs} runs, seeds {args.first_seed}..{args.first_seed + args.runs - 1}")
    for name in runs[0]["metrics"]:
        print(summarize(name, [r["metrics"][name]["value"] for r in runs], bounds.get(name)))
    if traced:
        for name in traced[0]["metrics"]:
            print(summarize(name, [r["metrics"][name]["value"] for r in traced], None))
        untraced = statistics.median(r["metrics"]["cpu_ms_per_op"]["value"] for r in runs)
        with_trace = statistics.median(r["metrics"]["op.cpu_ms_per_op"]["value"] for r in traced)
        print(f"tracing overhead: median CPU per op traced / untraced = {with_trace / untraced:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
