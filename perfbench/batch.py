"""The closed-loop batch workload, query-floor.

One client runs a seeded, cost-balanced mix of registered queries over
seeded tables: a first pass in the fresh session, then a fixed number of
warm passes, one per ``PASS_S`` seconds of measuring time. Every query is materialized with
``toPandas`` (the Arrow path a client uses). Each first-pass result is
checked against the query's DuckDB oracle after the timed passes.

With tracing on, each query is split into build (``spec.spark``), plan
(``executedPlan()``) and collect, with Spark jobs tagged by
``setJobGroup("<query>|<pass>|<phase>")`` and executor metrics parsed
from the run's event log.
"""

from __future__ import annotations

import os
import time
import traceback

from perfbench import check, datagen, mix
from perfbench.harness import heap_peak_mb, provenance, start_session, stop_session, tree_cpu_s
from perfbench.tracing import Tracer, find_event_log, median, parse_event_log

#: scale factor of the generated tables (0.01 = 60k lineitem rows)
SF = 0.01
#: seconds of measuring time per warm pass (about one pass of the mix
#: on a 4-core host)
PASS_S = 8


def _warmup(spark, data_dir: str, load_table) -> None:
    """Engine spin-up shared by every query, outside the passes: the
    first job of a fresh JVM, the pandas/Arrow Python worker pool, and
    a read-through of every base table (no cache). Per-query spin-up
    (plan codegen, per-plan Python functions) is left to the first
    pass, which measures it."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _one(x):
        return x * 1.0

    spark.range(1000).select(_one(F.col("id").cast("double"))).collect()
    _scan_all(spark, data_dir, load_table)


def _scan_all(spark, data_dir: str, load_table) -> None:
    for t in datagen.TABLES:
        load_table(spark, t, data_dir).write.format("noop").mode("overwrite").save()


def _materialize(df):
    try:
        return df.toPandas()
    except Exception:
        # types Arrow cannot carry; a genuinely failing query fails here too
        return df.collect()


def _result_bytes(result) -> int:
    if isinstance(result, list):
        return sum(len(repr(r)) for r in result)
    return int(result.memory_usage(index=False, deep=True).sum())


class _Runner:
    def __init__(self, spark, registry, data_dir: str, tracer: Tracer | None) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.registry = registry
        self.data_dir = data_dir
        self.tracer = tracer
        self.failures: dict[str, str] = {}
        self.records: list[dict] = []

    def run(self, name: str, pass_id: str):
        """Run one query; returns (seconds, result, schema) or None on
        failure."""
        spec = self.registry[name]
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                df = spec.spark(self.spark, self.data_dir)
                result = _materialize(df)
            else:
                df, result = self._run_traced(name, pass_id, spec)
        except Exception as e:  # keep running; the failure is counted
            traceback.print_exc()
            self.failures.setdefault(f"{name}@{pass_id}", str(e).splitlines()[0][:200] if str(e) else repr(e))
            return None
        return time.perf_counter() - t0, result, df.schema

    def _run_traced(self, name: str, pass_id: str, spec):
        tr, sc = self.tracer, self.sc
        rec = {"query": name, "pass": pass_id}
        cpu0 = time.process_time()
        with tr.span("query", name):
            sc.setJobGroup(f"{name}|{pass_id}|build", name)
            with tr.span("plans.build", name) as s:
                df = spec.spark(self.spark, self.data_dir)
            rec["build_s"] = s["end"] - s["start"]
            sc.setJobGroup(f"{name}|{pass_id}|plan", name)
            with tr.span("spark.plan", name) as s:
                df._jdf.queryExecution().executedPlan()
            rec["plan_s"] = s["end"] - s["start"]
            sc.setJobGroup(f"{name}|{pass_id}|collect", name)
            with tr.span("spark.collect", name) as s:
                result = _materialize(df)
            rec["collect_s"] = s["end"] - s["start"]
            rec["collect_end"] = s["end"]
        sc.setJobGroup("idle", "idle")
        rec["driver_cpu_s"] = time.process_time() - cpu0
        rec["result_rows"] = len(result)
        rec["result_bytes"] = _result_bytes(result)
        self.records.append(rec)
        return df, result

    def run_pass(self, names: list[str], pass_id: str, keep: dict | None = None) -> tuple[float, dict[str, float]]:
        """Run the mix once; returns (wall seconds, seconds per query
        that succeeded)."""
        times = {}
        t0 = time.perf_counter()
        for q in names:
            out = self.run(q, pass_id)
            if out is None:
                continue
            times[q] = out[0]
            if keep is not None:
                keep[q] = out[1:]
        return time.perf_counter() - t0, times


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    data_dir = os.path.join(run_dir, "data")
    datagen.write_tables(data_dir, seed, SF)
    tracer = Tracer(f"{workload}-{seed}")
    ev_dir = os.path.join(run_dir, "eventlog") if trace else None

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_session(run_dir, ev_dir)
    with tracer.span("session.import"):
        from sensor_data_pipeline_spark.plans import REGISTRY
        from sensor_data_pipeline_spark.sources.tables import load_table
    with tracer.span("session.warmup"):
        if trace:
            spark.sparkContext.setJobGroup("warmup", "warmup")
        _warmup(spark, data_dir, load_table)
    setup_s = time.perf_counter() - t0
    phases = {f"{name}_s": tracer.total(name) for name in ("session.start", "session.import", "session.warmup")}

    categories, n = mix.MIXES[workload]
    names = mix.sample(mix.pool(REGISTRY, categories), n, seed, mix.load_costs())
    runner = _Runner(spark, REGISTRY, data_dir, None)

    first: dict = {}
    first_pass_s, first_times = runner.run_pass(names, "first", keep=first)

    # A fixed amount of warm work: one pass per PASS_S of `seconds`.
    # Passes keep getting faster while the JVM compiles hot code, so a
    # window bounded by time would run more (and faster) passes on a
    # faster host and amplify the host's noise.
    passes = max(1, round(seconds / PASS_S))
    cpu0 = tree_cpu_s()
    per_query = [runner.run_pass(names, f"warm{i}")[1] for i in range(passes)]
    warm_cpu_s = tree_cpu_s() - cpu0
    warm_times = [t for times in per_query for t in times.values()]
    overhead_s = 0.0
    if trace:
        # a traced pass between two untraced ones: the difference is the
        # tracing overhead
        runner.tracer = tracer
        traced_wall, _ = runner.run_pass(names, "warm")
        runner.tracer = None
        after_wall, _ = runner.run_pass(names, "after")
        before_wall = sum(per_query[-1].values())
        overhead_s = traced_wall - (before_wall + after_wall) / 2

    scan_s = 0.0
    if trace:
        # a warm noop read of every base table: one read to warm, one timed
        spark.sparkContext.setJobGroup("scan", "scan")
        _scan_all(spark, data_dir, load_table)
        with tracer.span("sources.scan") as sp:
            _scan_all(spark, data_dir, load_table)
        scan_s = sp["end"] - sp["start"]
        jobs = _group_jobs(spark, runner.records)

    heap_mb = heap_peak_mb(spark)
    prov = provenance(spark, seed)

    # output checks, outside every timed region
    con = check.duck_conn(data_dir)
    mismatches = {}
    for q in names:
        if q not in first:
            continue
        result, schema = first[q]
        problem = check.check_query(con, REGISTRY[q], result, schema)
        if problem:
            mismatches[q] = problem
    con.close()
    stop_session(spark)

    attempted = len(names) * (1 + passes + (2 if trace else 0))
    failed = len(runner.failures) + len(mismatches)
    detail = {
        "workload": workload,
        "mix": names,
        "first_s": first_times,
        "warm_s": per_query,
        "passes_warm": passes,
        "warm_samples": len(warm_times),
        "scale_factor": SF,
        "provenance": prov,
        "failures": runner.failures,
        "mismatches": mismatches,
        "phases": phases,
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "detail": detail}
    wall_metrics = {
        "ops_per_s": (len(warm_times) / sum(warm_times), "1/s"),
        "latency_p50_s": (median(warm_times), "s"),
    }
    if not trace:
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "cpu_per_op_ms": (1e3 * warm_cpu_s / len(warm_times), "ms"),
        }
        return result

    spans_path = os.path.join(os.path.dirname(run_dir), "traces", f"{workload}-{seed}.json")
    tracer.write(spans_path)
    detail["spans"] = spans_path
    groups = parse_event_log(find_event_log(ev_dir))
    result["metrics"] = _layer_metrics(runner.records, groups, jobs, phases, scan_s, heap_mb, overhead_s)
    result["metrics"].update(wall_metrics, first_pass_s=(first_pass_s, "s"))
    return result


def _group_jobs(spark, records) -> dict[str, int]:
    """Jobs per ``<query>|warm|<phase>`` group, from ``statusTracker()``."""
    st = spark.sparkContext.statusTracker()
    return {
        f"{r['query']}|warm|{p}": len(st.getJobIdsForGroup(f"{r['query']}|warm|{p}"))
        for r in records
        if r["pass"] == "warm"
        for p in ("build", "plan", "collect")
    }


def _layer_metrics(records, groups, jobs_by_group, phases, scan_s, heap_mb, overhead_s) -> dict:
    """Per-query means over the traced warm pass. Job counts come from
    ``statusTracker()``; stages, tasks and executor metrics from the
    event log."""
    warm = [r for r in records if r["pass"] == "warm"]
    n = max(1, len(warm))

    def g(q: str, phase: str) -> dict:
        return groups.get(f"{q}|warm|{phase}", {})

    def total(field: str, phases=("build", "plan", "collect")) -> float:
        return sum(g(r["query"], p).get(field, 0) for r in warm for p in phases)

    def count_jobs(phases=("build", "plan", "collect")) -> int:
        return sum(jobs_by_group.get(f"{r['query']}|warm|{p}", 0) for r in warm for p in phases)

    jobs = count_jobs()
    build_jobs = count_jobs(("build",))
    tails = []
    for r in warm:
        end_ms = max(g(r["query"], p).get("last_job_end_ms", 0) for p in ("build", "plan", "collect"))
        if end_ms:
            tails.append(max(0.0, r["collect_end"] - end_ms / 1000.0))
    return {
        "session.start_s": (phases["session.start_s"], "s"),
        "session.import_s": (phases["session.import_s"], "s"),
        "session.warmup_s": (phases["session.warmup_s"], "s"),
        "sources.scan_s": (scan_s, "s"),
        "sources.input_bytes": (total("input_bytes") / n, "bytes"),
        "sources.input_rows": (total("input_rows") / n, "count"),
        "plans.build_s": (sum(r["build_s"] for r in warm) / n, "s"),
        "plans.build_jobs": (build_jobs / n, "count"),
        "plans.build_job_share": (build_jobs / jobs if jobs else 0.0, "ratio"),
        "spark.plan_s": (sum(r["plan_s"] for r in warm) / n, "s"),
        "spark.jobs": (jobs / n, "count"),
        "spark.stages": (total("stages") / n, "count"),
        "spark.tasks": (total("tasks") / n, "count"),
        "spark.task_run_s": (total("run_ms") / 1e3 / n, "s"),
        "spark.task_cpu_s": (total("cpu_ns") / 1e9 / n, "s"),
        "spark.gc_s": (total("gc_ms") / 1e3 / n, "s"),
        "spark.shuffle_write_bytes": (total("shuffle_write_bytes") / n, "bytes"),
        "spark.shuffle_read_bytes": (total("shuffle_read_bytes") / n, "bytes"),
        "spark.spill_bytes": (total("spill_bytes") / n, "bytes"),
        "spark.collect_s": (sum(r["collect_s"] for r in warm) / n, "s"),
        "spark.transfer_tail_s": (sum(tails) / max(1, len(tails)), "s"),
        "spark.result_rows": (sum(r["result_rows"] for r in warm) / n, "count"),
        "spark.result_bytes": (sum(r["result_bytes"] for r in warm) / n, "bytes"),
        "driver.cpu_s": (sum(r["driver_cpu_s"] for r in warm) / n, "s"),
        "jvm.heap_peak_mb": (heap_mb, "MB"),
        "trace.overhead_s": (overhead_s, "s"),
    }
