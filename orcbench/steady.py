"""Run each workload over several seeds and report, per end-to-end
metric, the median, the quartiles and the spread (interquartile range
as a share of the median), next to the bound in ``BENCHMARK.json``.

    python3 orcbench/steady.py --seeds 101-110 [--workloads cdc_upsert] [--out FILE]

Runs are sequential, one process at a time, from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf")}


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    parser = argparse.ArgumentParser()
    parser.add_argument("--seeds", required=True, help="e.g. 101-110")
    parser.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    parser.add_argument("--out", help="write the summary here as JSON")
    args = parser.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    summary = {}
    for workload in args.workloads:
        runs = []
        for seed in _seeds(args.seeds):
            cmd = [*spec["command"], "--workload", workload, "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            lines = proc.stderr.strip().splitlines()
            # the run's closing log line: sample counts and wall times
            result["log"] = lines[-1]
            # the unscaled timings and the reference job's samples
            result["notes"] = [line.split("] ", 1)[-1] for line in lines if "unscaled" in line or "reference (" in line]
            runs.append(result)
            print(f"{workload} seed={seed} correct={result['correct']} failed={result['failed']} {result['log']}", file=sys.stderr, flush=True)
        metrics = {}
        for name in bounds:
            values = [r["metrics"][name]["value"] for r in runs]
            stats = summarize(values)
            stats["bound"] = bounds[name]
            stats["values"] = values
            metrics[name] = stats
            print(f"  {name:18s} median {stats['median']:12.2f}  spread {stats['spread']:.3f}  bound {bounds[name]}")
        summary[workload] = {
            "seeds": args.seeds,
            "all_correct": all(r["correct"] and r["failed"] == 0 for r in runs),
            "logs": [r["log"] for r in runs],
            "notes": [r["notes"] for r in runs],
            "metrics": metrics,
        }
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
