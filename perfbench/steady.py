"""Steadiness check: repeat each workload with different seeds.

Usage (from the repository root):

    python3 perfbench/steady.py --runs 10 [--workloads etl_curation,serve_predict]
                                [--first-seed 1] [--trace 0]

Runs ``perfbench/run.py`` once per seed and workload, one run at a time,
with ``run_seconds`` from BENCHMARK.json. Prints, per workload and
metric, the median and the quartile spread (Q3 - Q1, as
``statistics.quantiles(values, n=4)`` gives them) relative to the median.
End-to-end metrics that spread more than a tenth are flagged with ``!``.
The last stdout line is the whole summary as JSON; each run's report
line is appended to ``.perfbench_work/steady-<workload>.jsonl``.
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
FLAG = 0.10


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    e2e = {m["name"] for m in bench["end_to_end"]}
    summary = {}
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        units: dict[str, str] = {}
        walls: list[float] = []
        bad = 0
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                   "--trace", str(args.trace)]
            t = time.time()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=600)
            walls.append(time.time() - t)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                bad += 1
                continue
            result = json.loads(lines[-1])
            if len(lines) > 1:
                with open(os.path.join(ROOT, ".perfbench_work", f"steady-{wl}.jsonl"), "a") as f:
                    f.write(lines[-2] + "\n")
            bad += 0 if result["correct"] else 1
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
                units[k] = v["unit"]
            print(f"{wl} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                if k in e2e), file=sys.stderr, flush=True)
        summary[wl] = {"runs": args.runs, "incorrect_or_failed_runs": bad,
                       "run_wall_s": {"median": statistics.median(walls),
                                      "max": max(walls), "total": sum(walls)},
                       "metrics": {}}
        print(f"\n{wl}: {args.runs} runs, {bad} incorrect or failed, "
              f"wall per run median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            s = spread(vs)
            flag = "!" if k in e2e and s > FLAG else " "
            summary[wl]["metrics"][k] = {"median": statistics.median(vs),
                                         "spread": s, "unit": units[k]}
            print(f" {flag} {k:45s} median {statistics.median(vs):12.5g} "
                  f"{units[k]:11s} spread {s:6.3f}")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
