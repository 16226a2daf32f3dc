"""Steadiness of the benchmark: repeat it and compare the spread with the bounds.

    python3 perfbench/steady.py [--runs K] [--workloads a,b] [--seed0 N] [--trace]

Runs ``perfbench/run.py`` K times per workload, one after another, each with
another seed, and prints per workload and end-to-end metric the median, the
quartiles and the spread (interquartile distance / median) next to the
metric's bound in BENCHMARK.json. A spread must stay below the bound (for all
metrics but ``setup_s``) for the benchmark to tell a change from noise.
``--trace`` also makes one traced run per workload and prints its per-layer
metrics and the tracing overhead (traced ``trace.wall_s`` minus the untraced
median ``wall_s``). Each run's telemetry (nproc, loadavg, crossing probe,
versions) is printed as it arrives; nothing is retried or gated on load.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    tele = next(
        json.loads(line.split(" ", 1)[1])
        for line in proc.stderr.splitlines()
        if line.startswith("perfbench-telemetry ")
    )
    return json.loads(proc.stdout.strip().splitlines()[-1]), tele


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8"))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    seconds = spec["run_seconds"]
    for workload in args.workloads.split(","):
        results = []
        for k in range(args.runs):
            res, tele = run_once(workload, args.seed0 + k, seconds, 0)
            results.append(res)
            print(f"# {workload} seed {args.seed0 + k}: {json.dumps(tele)}", flush=True)
        shares = {r["failed"] / r["attempted"] for r in results}
        print(f"{workload}: runs={len(results)} failed/attempted={sorted(shares)} "
              f"correct={all(r['correct'] for r in results)}")
        medians = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            med, q1, q3, sp = spread(vals)
            medians[m["name"]] = med
            flag = "" if sp < m["bound"] or m["name"] == "setup_s" else "  OVER BOUND"
            print(f"  {m['name']:<12} median={med:.4f} q1={q1:.4f} q3={q3:.4f} {m['unit']} "
                  f"spread={sp:.4f} bound={m['bound']}{flag}")
        if args.trace:
            res, tele = run_once(workload, args.seed0, seconds, 1)
            print(f"# {workload} traced: {json.dumps(tele)}")
            for name, v in res["metrics"].items():
                print(f"  {name:<28} {v['value']:.4f} {v['unit']}")
            over = res["metrics"]["trace.wall_s"]["value"] - medians["wall_s"]
            print(f"  tracing overhead (trace.wall_s - median wall_s): {over:.4f} s")
        sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
