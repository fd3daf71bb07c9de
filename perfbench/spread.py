"""Run a workload once per seed and summarize each metric: median,
quartiles, and the quartile spread as a share of the median (what the
benchmark's bounds are compared against).

    python3 perfbench/spread.py --workload query-floor --seeds 1-10 [--trace 1] [--out FILE]

Each run's result line is kept in the output next to the summary.
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


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(results: list[dict]) -> dict:
    if len(results) < 2:
        return {}
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(values, n=4)
        out[name] = {
            "unit": results[0]["metrics"][name]["unit"],
            "median": med,
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / med if med else None,
        }
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=run_seconds)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    runs = []
    for seed in _seeds(args.seeds):
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900, check=True)
        lines = proc.stdout.strip().splitlines()
        detail = json.loads(lines[-2].removeprefix("detail: "))
        runs.append({"seed": seed, "result": json.loads(lines[-1]), "provenance": detail["provenance"]})
        print(json.dumps(runs[-1]["result"]), file=sys.stderr, flush=True)
    report = {
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "summary": summarize([r["result"] for r in runs]),
        "runs": runs,
    }
    text = json.dumps(report, indent=1, sort_keys=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
