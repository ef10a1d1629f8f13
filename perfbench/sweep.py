"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py --workloads dsjoin_hot,dsjoin_drift \
        --seeds 1-10 --seconds 30 --trace 0 --out .bench_data/sweep.json

Runs one seed after another (never in parallel) from the repository
root and prints, per workload and metric, the median, the quartiles
(``statistics.quantiles(n=4)``) and the spread: the distance between
the quartiles as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "values": values,
    }


def run_one(workload: str, seed: int, seconds: float, trace: int, env: dict) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return {"seed": seed, "exit": p.returncode, "result": res, "stdout": lines[:-1]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    env = dict(os.environ)
    report = {}
    for w in args.workloads.split(","):
        runs = []
        for seed in parse_seeds(args.seeds):
            r = run_one(w, seed, args.seconds, args.trace, env)
            ok = r["exit"] == 0 and r["result"] and r["result"]["correct"]
            print(f"{w} seed={seed} exit={r['exit']} correct={bool(ok)}", flush=True)
            runs.append(r)
        metrics: dict[str, list[float]] = {}
        for r in runs:
            for k, v in (r["result"] or {}).get("metrics", {}).items():
                metrics.setdefault(k, []).append(v["value"])
        summary = {k: summarise(v) for k, v in metrics.items()}
        for k, s in summary.items():
            print(
                f"  {w:14s} {k:30s} median={s['median']:.4f} "
                f"q1={s['q1']:.4f} q3={s['q3']:.4f} spread={s['spread']:.3f}"
            )
        report[w] = {
            "runs": [{k: r[k] for k in ("seed", "exit", "result")} for r in runs],
            "summary": summary,
            "info": [[l for l in r["stdout"] if not l.startswith("  ")] for r in runs],
        }
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
