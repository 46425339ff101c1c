"""Steadiness check: run each workload K times with different seeds and print,
per end-to-end metric, the median, the quartiles, the quartile spread as a
share of the median (the figure each bound in BENCHMARK.json is set from)
and the max/min ratio.

    python3 perfbench/steady.py --runs 10 [--first-seed 1]

Runs one at a time from the checkout root, each for BENCHMARK.json's
run_seconds; each run's result line, with its per-op times and host steal
shares, is also appended to .perfbench_out/steady.jsonl.
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


LOG = os.path.join(ROOT, ".perfbench_out", "steady.jsonl")


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    if not res["correct"] or res["failed"]:
        sys.stderr.write(proc.stderr[-4000:])
    # per-op times and host steal shares, as run.py prints them on stderr
    fields = [line.split() for line in proc.stderr.splitlines() if line.startswith("op ")]
    res["ops"] = [[f[2], float(f[3]), float(f[6])] for f in fields]
    return res


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / med if med else float("inf"),
        "max_over_min": max(values) / min(values) if min(values) else float("inf"),
    }


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for workload in (w["name"] for w in bench["workloads"]):
        results = []
        for k in range(args.runs):
            seed = args.first_seed + k
            res = run_once(workload, seed, bench["run_seconds"])
            results.append(res)
            with open(LOG, "a") as f:
                f.write(json.dumps({"workload": workload, "seed": seed, **res}) + "\n")
            vals = " ".join(f"{n}={v['value']:.4g}" for n, v in res["metrics"].items())
            print(f"{workload} seed={seed} correct={res['correct']} attempted={res['attempted']} failed={res['failed']} {vals}", flush=True)
        shares = {r["failed"] / r["attempted"] for r in results}
        print(f"{workload}: failed shares {sorted(shares)}; all correct: {all(r['correct'] for r in results)}")
        for name, bound in bounds.items():
            s = summary([r["metrics"][name]["value"] for r in results])
            print(
                f"  {name:16s} median {s['median']:10.4f}  q1 {s['q1']:10.4f}  q3 {s['q3']:10.4f}  "
                f"iqr/median {s['iqr_share']:.3f} (bound {bound}, a third {bound / 3:.3f})  max/min {s['max_over_min']:.3f}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
