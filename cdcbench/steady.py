"""Steadiness tool: run one workload repeatedly and report the spread.

    python3 cdcbench/steady.py --workload backlog_catchup --runs 5 --seconds 15
    python3 cdcbench/steady.py --workload query_mix --counters --seed 7 --seconds 15

For each end-to-end metric it prints the median, the quartiles, the
interquartile range as a share of the median (the figure the bounds in
BENCHMARK.json are held against) and the max/min ratio.  The drift
check prints, per run, the median of the second half of the measured
window against the first half; a warm-up that is too short shows as a
consistent negative drift.  ``--counters`` instead makes two traced
runs on one seed and lists the per-layer metrics that repeat exactly.

Runs are sequential, each a fresh ``run.py`` process, from the root of
the checkout this file sits in.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    cmd = [sys.executable, os.path.join("cdcbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    result = json.loads(lines[-1])
    with open(os.path.join(ROOT, ".cdcbench_out", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        sidecar = json.load(f)
    return result, sidecar, wall


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {
        "median": q2, "q1": q1, "q3": q3,
        "iqr_share": (q3 - q1) / q2 if q2 else None,
        "max_min": max(values) / min(values) if min(values) else None,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1, help="first seed; run i uses seed + i")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--counters", action="store_true",
                    help="two traced runs on one seed: which per-layer metrics repeat exactly")
    args = ap.parse_args()

    if args.counters:
        (a, _, _), (b, _, _) = (run_once(args.workload, args.seed, args.seconds, 1) for _ in range(2))
        same = sorted(k for k in a["metrics"] if a["metrics"][k]["value"] == b["metrics"][k]["value"])
        diff = {k: (a["metrics"][k]["value"], b["metrics"][k]["value"])
                for k in a["metrics"] if k not in same}
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "repeat_exactly": same, "differ": diff}, indent=1))
        return 0

    per_metric: dict[str, list[float]] = {}
    drifts, walls = [], []
    for i in range(args.runs):
        res, side, wall = run_once(args.workload, args.seed + i, args.seconds, 0)
        walls.append(wall)
        for k, m in res["metrics"].items():
            per_metric.setdefault(k, []).append(m["value"])
        drift = side["summary"]["halves_drift"]
        drifts.append(drift)
        print(f"run {i + 1}/{args.runs} seed {args.seed + i}: "
              + ", ".join(f"{k} {m['value']:.4g}" for k, m in res["metrics"].items())
              + f"; drift {drift if drift is None else round(drift, 4)}; wall {wall:.1f} s",
              flush=True)
    report = {k: spread(v) for k, v in per_metric.items()}
    known = [d for d in drifts if d is not None]
    report["drift"] = {"per_run": drifts, "median": statistics.median(known) if known else None}
    report["run_wall_s"] = spread(walls)
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
