"""Run the benchmark once per seed and report each end-to-end metric's
spread: the distance between the first and third quartile of its
values (``statistics.quantiles(values, n=4)``) as a share of their
median, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steadiness.py --workload lake --seeds 1-10 [--out FILE]

Runs are sequential, one Spark session at a time.
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
    return (q3 - q1) / med


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    runs = []
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": wall, **result})
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1), "correct": result["correct"],
                          **{k: v["value"] for k, v in result["metrics"].items()}}), flush=True)
    report = {"workload": args.workload, "runs": runs, "metrics": {}}
    for m in bench["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        report["metrics"][m["name"]] = {
            "median": statistics.median(values),
            "spread": spread(values),
            "bound": m["bound"],
        }
        print(f"{m['name']:<30} median {statistics.median(values):12.6g}  "
              f"spread {spread(values):.4f}  bound {m['bound']}", flush=True)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            json.dump(report, fh, indent=1)
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
