"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload ingest --seeds 1 2 3 4 5

Runs ``run.py`` once per seed, one after another, with the run length from
BENCHMARK.json, and prints per metric the median and the distance between
the first and third quartiles as a share of the median (Python's
``statistics.quantiles(values, n=4)``), next to the metric's bound.
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    walls, failed = [], 0
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        walls.append(time.perf_counter() - t0)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        failed += result["failed"] + (not result["correct"])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(json.dumps({"seed": seed, "wall_s": round(walls[-1], 1),
                          **{k: v["value"] for k, v in result["metrics"].items()}}),
              file=sys.stderr)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {"workload": args.workload, "runs": len(args.seeds), "failed": failed,
               "wall_s_median": statistics.median(walls), "metrics": {}}
    for name, vals in values.items():
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary["metrics"][name] = {
            "median": med, "spread": (q3 - q1) / med, "bound": bounds.get(name)}
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
