"""Open-loop load generator for the sensor-stream workload.

Runs as its own process. File ``i`` is due at ``t0 + (i + 1) * period``;
it is rendered ahead of time and renamed into the watched directory
when due (a dot-prefixed temp name keeps the file source from seeing a
partial file). It never waits for the engine, so a slow engine faces a
growing backlog. The manifest records, per file, when it was due and
when it was actually written.

Usage: python3 -m perfbench.streamgen --out DIR --manifest PATH --seed N
       --rows-per-s R --period-s P --seconds S --t0 EPOCH
"""

from __future__ import annotations

import argparse
import json
import os
import time

from perfbench.datagen import STREAM_DEFAULTS, sensor_file


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows-per-s", type=int, required=True)
    ap.add_argument("--period-s", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--first-index", type=int, default=0)
    args = ap.parse_args()

    rows = int(args.rows_per_s * args.period_s)
    n_files = max(1, int(round(args.seconds / args.period_s)))
    files = []
    for i in range(n_files):
        index = args.first_index + i
        data, bad = sensor_file(args.seed, index, rows, args.period_s)
        name = f"live-{index:05d}.jsonl"
        due = args.t0 + (i + 1) * args.period_s
        tmp = os.path.join(args.out, "." + name)
        with open(tmp, "wb") as f:
            f.write(data)
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(tmp, os.path.join(args.out, name))
        files.append({"file": name, "due": due, "written": time.time(), "rows": rows, "corrupt": bad})
    with open(args.manifest, "w") as f:
        json.dump({"settings": STREAM_DEFAULTS, "rows_per_s": args.rows_per_s, "files": files}, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
