#!/usr/bin/env python3
"""Run the benchmark over several seeds and report how much each
end-to-end metric spreads: the distance between the first and third
quartile as a share of the median, next to the metric's bound.

    python3 perfbench/steadiness.py --workload sql_analytics --seeds 1-10 \
        --out perfbench/runs/sql_analytics.json

Run from the repository root, with nothing else loading the machine.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import re
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    runs = []
    for seed in _seeds(args.seeds):
        t = time.monotonic()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        steal = re.search(r"host_steal=([0-9.]+)", lines[0]) if lines else None
        runs.append(
            {"seed": seed, "rc": proc.returncode, "wall_s": time.monotonic() - t,
             "host_steal": float(steal.group(1)) if steal else None,
             "summary": lines[:-1] if result else proc.stderr[-2000:], "result": result}
        )
        print(f"seed {seed}: rc={proc.returncode} {runs[-1]['wall_s']:.0f}s "
              f"{lines[0] if lines else ''}", flush=True)
    spread = {}
    for m in spec["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs if r["result"]]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread[m["name"]] = {
            "median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med,
            "bound": m["bound"], "unit": m["unit"],
        }
        print(f"{m['name']}: median={med:.4g} iqr/median={(q3 - q1) / med:.3f} bound={m['bound']}")
    report = {
        "workload": args.workload,
        "run_seconds": spec["run_seconds"],
        "host": {"cpus": len(os.sched_getaffinity(0)), "machine": platform.machine()},
        "all_correct": all(r["result"] and r["result"]["correct"] for r in runs),
        "host_steal": [r["host_steal"] for r in runs],
        "spread": spread,
        "runs": runs,
    }
    if args.out:
        os.makedirs(os.path.dirname(args.out), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
