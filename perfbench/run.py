"""Benchmark entry point.

    python3 perfbench/run.py --workload query-floor --seed 1 --seconds 16 --trace 0

Runs one workload against the engine in this checkout and prints, as
the last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (every end-to-end metric with ``--trace 0``,
every per-layer metric with ``--trace 1``; each as
``{"value": ..., "unit": ...}``). A second line before it, prefixed
``detail:``, carries provenance, the query mix and every failure.
Inputs are generated from ``--seed`` into a per-run directory under
``.perfbench_run/`` that is removed when the run ends; span traces of
traced runs are kept under ``.perfbench_run/traces/``.

Workloads and metrics are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("query-floor", "sensor-stream")

#: name -> unit, for every metric the benchmark declares
END_TO_END = {"setup_s": "s", "cpu_per_op_ms": "ms"}
PER_LAYER = {
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "first_pass_s": "s",
    "session.start_s": "s",
    "session.import_s": "s",
    "session.warmup_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_job_share": "ratio",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.collect_s": "s",
    "spark.transfer_tail_s": "s",
    "spark.result_rows": "count",
    "spark.result_bytes": "bytes",
    "driver.cpu_s": "s",
    "jvm.heap_peak_mb": "MB",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.batches": "count",
    "streaming.empty_batch_frac": "ratio",
    "streaming.rows_per_batch": "count",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.sink_write_s": "s",
    "streaming.gen_late_max_s": "s",
    "streaming.backlog_files_end": "count",
    "trace.overhead_s": "s",
}


def _format(result: dict, trace: bool) -> dict:
    """The result line: every declared metric of the run's kind. A layer
    the workload does not exercise reads 0 (sensor-stream builds no
    query plans; the batch workloads run no stream)."""
    declared = PER_LAYER if trace else END_TO_END
    measured = result["metrics"]
    unknown = set(measured) - set(declared)
    if unknown:
        raise RuntimeError(f"undeclared metrics {sorted(unknown)}")
    metrics = {}
    for name, unit in declared.items():
        value, got_unit = measured.get(name, (0, unit))
        if got_unit != unit:
            raise RuntimeError(f"{name}: unit {got_unit} != declared {unit}")
        metrics[name] = {"value": value, "unit": unit}
    return {
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sensor_data_pipeline_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    sys.path[0] = ROOT  # this directory's modules import as perfbench.*
    from perfbench.harness import prepare_process

    prepare_process(run_dir)
    try:
        if args.workload == "sensor-stream":
            from perfbench import stream as workload
        else:
            from perfbench import batch as workload
        result = workload.run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("detail: " + json.dumps(result["detail"], sort_keys=True, default=str))
    print(json.dumps(_format(result, bool(args.trace))))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
