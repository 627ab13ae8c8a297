"""Steadiness check: run one workload K times, each with another seed, and
print every metric's median and spread (IQR / median, the quartiles as
``statistics.quantiles(values, n=4)`` gives them).

    python3 perfbench/steady.py --workload stream_ingest --runs 5
    python3 perfbench/steady.py --workload interactive_sql --runs 10 \
        --seed0 100 --trace 1 --json out.json

Run from the root of a source checkout. ``--seconds`` defaults to
``run_seconds`` of BENCHMARK.json, and each spread is compared with the
metric's bound there (flagged when above a third of it). With ``--json``
the raw values are saved too, e.g. to compare a traced set with an
untraced one for the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    if out.returncode != 0:
        sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["wall_s"] = time.perf_counter() - t0
    stamps = [ln for ln in lines if ln.startswith("perfbench-env ")]
    if stamps:
        res["env"] = json.loads(stamps[-1].split(" ", 1)[1])
    return res


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--json", help="write the raw per-run values here")
    args = p.parse_args()

    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for i in range(args.runs):
        res = run_once(args.workload, args.seed0 + i, args.seconds,
                       args.trace)
        runs.append(res)
        print(f"run {i + 1}/{args.runs} seed {args.seed0 + i}: "
              f"correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} wall={res['wall_s']:.1f}s "
              f"phases={res.get('env', {}).get('phase_s')} "
              f"{res.get('env', {}).get('workload_phase_s')}",
              flush=True)
    names = list(runs[0]["metrics"])
    print(f"\n{args.workload}: {args.runs} runs, trace={args.trace}")
    print(f"{'metric':34s} {'median':>12s} {'iqr/med':>8s} {'bound':>6s}")
    for n in names:
        vals = [r["metrics"][n]["value"] for r in runs]
        s = spread(vals) if len(vals) >= 2 else 0.0
        b = bounds.get(n)
        flag = " <-- above bound/3" if b and s > b / 3 else ""
        print(f"{n:34s} {statistics.median(vals):12.4f} {s:8.4f} "
              f"{'' if b is None else b:>6}{flag}")
    walls = [r["wall_s"] for r in runs]
    print(f"run wall time: median {statistics.median(walls):.1f}s, "
          f"max {max(walls):.1f}s")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "trace": args.trace,
                       "seed0": args.seed0, "runs": runs}, f)
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
