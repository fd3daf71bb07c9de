"""Rewrite ``costs.json``: the reference warm time of every pool query.

The pool runs three times in one session, each pass in a different
shuffled order; a query's cost is the mean of its two warm passes, so
it is measured among other queries, as in a benchmark pass. The mixes
use these costs only to balance each seed's sample (``mix.sample``);
they are never used as measurements. Run alone on an idle host:

    python3 perfbench/calibrate.py
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path[0] = ROOT  # this directory's modules import as perfbench.*
    from perfbench import batch, datagen, mix
    from perfbench.harness import prepare_process, provenance, start_session, stop_session

    run_dir = os.path.join(ROOT, ".perfbench_run", f"calibrate-{os.getpid()}")
    os.makedirs(run_dir)
    prepare_process(run_dir)
    try:
        data_dir = os.path.join(run_dir, "data")
        datagen.write_tables(data_dir, 0, batch.SF)
        spark = start_session(run_dir)
        from sensor_data_pipeline_spark.plans import REGISTRY

        from sensor_data_pipeline_spark.sources.tables import load_table

        batch._warmup(spark, data_dir, load_table)
        names = sorted({q for cats, _ in mix.MIXES.values() for q in mix.pool(REGISTRY, cats)})
        runs: dict[str, list[float]] = {q: [] for q in names}
        for p in range(3):
            order = random.Random(p).sample(names, len(names))
            for q in order:
                t0 = time.perf_counter()
                batch._materialize(REGISTRY[q].spark(spark, data_dir))
                runs[q].append(time.perf_counter() - t0)
            print(f"pass {p} done", flush=True)
        warm = {q: round((t[1] + t[2]) / 2, 3) for q, t in runs.items()}
        prov = provenance(spark, 0)
        stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(mix.COSTS_PATH, "w") as f:
        json.dump({"provenance": prov, "scale_factor": batch.SF, "warm_s": warm}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
