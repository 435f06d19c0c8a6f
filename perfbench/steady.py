#!/usr/bin/env python3
"""Steadiness of the benchmark: run one workload N times, each with its own
seed, and print each metric's median, quartiles and spread (interquartile
range over median), next to the bound BENCHMARK.json gives it.

    python3 perfbench/steady.py --workload batch_fit --runs 10
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def one_run(workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], cwd=ROOT, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, timeout=900)
    if proc.returncode != 0:
        raise SystemExit(f"run with seed {seed} failed ({proc.returncode})")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    checks = BENCH / "out" / workload / "checks.json"
    result["failed_checks"] = [c for c in json.loads(checks.read_text())
                               if not c["ok"]]
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None,
                    help="defaults to run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    runs = []
    for i in range(args.runs):
        seed = args.first_seed + i
        r = one_run(args.workload, seed, seconds, args.trace)
        runs.append(r)
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']}/"
              f"{r['attempted']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)
        for c in r["failed_checks"]:
            print(f"  check {c['check']} failed: {c['detail']}", flush=True)

    summary = {}
    print(f"\n{'metric':28} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        summary[name] = {"values": vals, "median": med, "q1": q1, "q3": q3,
                         "spread": spread, "bound": bound}
        print(f"{name:28} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:7.3f} "
              f"{'' if bound is None else bound:>6}")
    shares = sorted({r["failed"] / r["attempted"] for r in runs})
    print(f"failed share per run: {shares}; all correct: "
          f"{all(r['correct'] for r in runs)}")
    out = BENCH / "out" / f"steady-{args.workload}-trace{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({"runs": runs, "summary": summary}, indent=1))


if __name__ == "__main__":
    main()
