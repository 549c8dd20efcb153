#!/usr/bin/env python3
"""Steadiness report: run one workload on several seeds and show how much
each end-to-end metric spreads, against its regression bound.

    python3 perfbench/steady.py --workload etl_sql_llm --runs 10 [--first-seed 1] [--overhead 3]

Run from the repository root. Each run is a fresh ``perfbench/run.py``
process with its own seed and ``run_seconds`` from ``BENCHMARK.json``. For
every end-to-end metric the report prints the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them), the spread (quartile
distance over the median) and whether the spread is under a third of the
metric's bound. ``--overhead N`` adds traced runs on the first N seeds and
prints, for each end-to-end metric, the median of the traced runs over the
median of the untraced runs on the same seeds: the cost of tracing. Each
traced run follows the untraced run of its seed, so both see the host in
the same state.
Raw results go to ``.perfbench_runs/steady-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """Run once; returns the report line's JSON plus the result line's."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    try:
        stdout, stderr = proc.communicate(timeout=600)
    except subprocess.TimeoutExpired:
        # SIGTERM lets the run stop the JVM it started; SIGKILL would orphan it
        proc.terminate()
        stdout, stderr = proc.communicate()
    lines = stdout.strip().splitlines()
    report = next((json.loads(ln.split(" ", 1)[1]) for ln in lines if ln.startswith("perfbench-report ")), None)
    if report is None:
        sys.stderr.write(stderr[-3000:])
        raise SystemExit(f"run {workload} seed {seed} exited {proc.returncode} without a result")
    return {"report": report, "result": json.loads(lines[-1]), "exit": proc.returncode}


def spread_table(runs: list[dict], spec: dict) -> list[str]:
    out = [f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}  ok"]
    for m in spec["end_to_end"]:
        values = [r["report"]["end_to_end"][m["name"]] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med
        ok = "setup" if m["name"] == "setup_s" else ("yes" if spread < m["bound"] / 3 else "NO")
        out.append(f"{m['name']:<16}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>9.3f}{m['bound']:>7.2f}  {ok}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--overhead", type=int, default=0, metavar="N")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs, traced = [], []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        runs.append(one_run(args.workload, seed, spec["run_seconds"], 0))
        if seed < args.first_seed + args.overhead:
            traced.append(one_run(args.workload, seed, spec["run_seconds"], 1))
        e2e = runs[-1]["report"]["end_to_end"]
        failed = runs[-1]["result"]["failed"]
        steal = runs[-1]["report"]["host"]["steal_share"]
        print(f"seed {seed}: failed={failed} steal={steal:.2f} " + " ".join(f"{k}={v:.4g}" for k, v in e2e.items()),
              flush=True)
        for msg in runs[-1]["report"]["failures"]:
            print(f"  FAILED {msg}", flush=True)
    result = {"workload": args.workload, "runs": runs}
    if len(runs) >= 2:
        print("\n".join(spread_table(runs, spec)))
    if args.overhead:
        seeds = range(args.first_seed, args.first_seed + len(traced))
        ratio = {
            k: statistics.median(t["report"]["end_to_end"][k] for t in traced)
            / statistics.median(r["report"]["end_to_end"][k] for r in runs[: len(traced)])
            for k in traced[0]["report"]["end_to_end"]
        }
        print(f"traced/untraced medians, seeds {seeds.start}-{seeds.stop - 1}: "
              + " ".join(f"{k}={v:.3f}" for k, v in ratio.items()))
        result["traced"] = traced
        result["overhead_ratio"] = ratio
    os.makedirs(os.path.join(os.getcwd(), ".perfbench_runs"), exist_ok=True)
    with open(os.path.join(os.getcwd(), ".perfbench_runs", f"steady-{args.workload}.json"), "w") as f:
        json.dump(result, f, indent=1)
    return 1 if any(r["result"]["failed"] for r in runs + traced) else 0


if __name__ == "__main__":
    sys.exit(main())
