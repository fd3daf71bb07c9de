"""The sensor-stream workload: the paper's consumer dataflow on a file
stream.

MQTT_MESSAGE rows (JSONL) -> ``route_corrupt`` -> ``iso8601_parse`` and
888.8 sentinel defaults -> ``staleness_monitor_stream`` keyed by device
-> a foreachBatch parquet sink; corrupt rows go to a JSON dead-letter
sink. Three phases in one session:

1. a cold drain of a small backlog with ``availableNow`` (first_pass_s);
2. a live phase fed by an open-loop generator process at a fixed row
   rate; each row's latency runs from the time its file was due to the
   commit of the batch that claimed the file, read from the
   checkpoint's ``sources/0`` and ``commits`` logs;
3. a drain of a larger pre-generated backlog (ops_per_s, rows/s).

Checks: fresh sink rows equal generated minus corrupt rows, the
dead-letter count equals the corrupt count, and every file is claimed
by exactly one committed batch of each query.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from perfbench import datagen
from perfbench.harness import REPO, heap_peak_mb, provenance, start_session, stop_session, tree_cpu_s
from perfbench.tracing import (
    Tracer,
    commit_times,
    find_event_log,
    median,
    parse_event_log,
    source_file_batches,
    tail_percentile,
    weighted_median,
)

ROWS_PER_S = 2000
PERIOD_S = 0.5
WARM_FILES = 4
DRAIN_FILES = 80
MAX_FILES_PER_TRIGGER = 10
#: device staleness tolerance; short, so availableNow drains end soon after the data
TOLERANCE_S = 2
CATCH_UP_S = 60


def _write_backlog(path: str, seed: int, first_index: int, n: int) -> list[dict]:
    os.makedirs(path, exist_ok=True)
    rows = int(ROWS_PER_S * PERIOD_S)
    files = []
    for index in range(first_index, first_index + n):
        data, bad = datagen.sensor_file(seed, index, rows, PERIOD_S)
        name = f"backlog-{index:05d}.jsonl"
        with open(os.path.join(path, name), "wb") as f:
            f.write(data)
        files.append({"file": name, "rows": rows, "corrupt": bad})
    return files


class _Pipeline:
    """The two streaming queries of one phase, each with its own
    checkpoint, over one input directory."""

    def __init__(self, spark, root: str, in_dir: str, available_now: bool) -> None:
        """A drain (``available_now``) takes at most MAX_FILES_PER_TRIGGER
        files per batch; the live query takes whatever has arrived."""
        from pyspark.sql import functions as F

        from sensor_data_pipeline_spark.functions.json_wire import route_corrupt
        from sensor_data_pipeline_spark.functions.timefn import iso8601_parse
        from sensor_data_pipeline_spark.schemas import MQTT_MESSAGE, READINGS_WIRE, SENTINEL_MISSING
        from sensor_data_pipeline_spark.streaming.stateful import staleness_monitor_stream

        self.ckpt_good = os.path.join(root, "ckpt-good")
        self.ckpt_dead = os.path.join(root, "ckpt-dead")
        self.checkpoints = {"good": self.ckpt_good, "dead": self.ckpt_dead}
        self.sink_dir = os.path.join(root, "sink")
        self.dead_dir = os.path.join(root, "dead")
        reader = spark.readStream.schema(MQTT_MESSAGE)
        if available_now:
            reader = reader.option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        raw = reader.json(in_dir)
        msgs = raw.withColumn("k", F.regexp_extract("topic", r"^sensors/([^/]+)/", 1))
        good, bad = route_corrupt(msgs, "payload", READINGS_WIRE)
        readings = good.select(
            "k",
            iso8601_parse(F.col("timestamp_utc")).alias("event_ts"),
            F.coalesce("temp_outdoor_celsius", F.lit(SENTINEL_MISSING)).alias("temp_outdoor_celsius"),
            F.coalesce("rh_outdoor", F.lit(SENTINEL_MISSING)).alias("rh_outdoor"),
        )
        stale = staleness_monitor_stream(readings, tolerance_sec=TOLERANCE_S)
        sink_dir = self.sink_dir
        sink_times = self.sink_times = []

        def sink(batch_df, batch_id: int) -> None:
            t0 = time.perf_counter()
            batch_df.write.mode("overwrite").parquet(os.path.join(sink_dir, f"batch={batch_id}"))
            sink_times.append(time.perf_counter() - t0)

        w_good = stale.writeStream.foreachBatch(sink).option("checkpointLocation", self.ckpt_good)
        w_dead = (
            bad.select("topic", "payload")
            .writeStream.format("json")
            .option("path", self.dead_dir)
            .option("checkpointLocation", self.ckpt_dead)
        )
        if available_now:
            w_good, w_dead = w_good.trigger(availableNow=True), w_dead.trigger(availableNow=True)
        self.queries = [w_good.queryName("good").start(), w_dead.queryName("dead").start()]

    def run_ids(self) -> list[str]:
        return [str(q.runId) for q in self.queries]

    def committed(self, files: list[str]) -> bool:
        for ckpt in self.checkpoints.values():
            claims, commits = source_file_batches(ckpt), commit_times(ckpt)
            if any(not claims.get(f) or not claims[f] <= commits.keys() for f in files):
                return False
        return True

    def await_committed(self, files: list[str], timeout: float) -> bool:
        """Poll the checkpoints until every file is claimed by a
        committed batch of both queries. The staleness operator's
        processing-time timeouts keep scheduling batches, so even an
        availableNow query never ends on its own."""
        deadline = time.time() + timeout
        while not self.committed(files):
            if time.time() > deadline:
                return False
            time.sleep(0.1)
        return True

    def stop(self) -> None:
        for q in self.queries:
            q.stop()

    def last_data_commit(self) -> float:
        end = 0.0
        for ckpt in self.checkpoints.values():
            commits = commit_times(ckpt)
            batches = {b for ids in source_file_batches(ckpt).values() for b in ids}
            end = max([end] + [commits[b] for b in batches if b in commits])
        return end


def _check_phase(spark, pipe: _Pipeline, files: list[dict]) -> list[str]:
    problems = []
    names = [f["file"] for f in files]
    for label, ckpt in pipe.checkpoints.items():
        claims, commits = source_file_batches(ckpt), commit_times(ckpt)
        for n in names:
            ids = claims.get(n, set())
            if len(ids) != 1 or not ids <= commits.keys():
                problems.append(f"{label}: {n} claimed by batches {sorted(ids)}")
    rows = sum(f["rows"] for f in files)
    corrupt = sum(f["corrupt"] for f in files)
    fresh = spark.read.parquet(pipe.sink_dir).filter("is_stale = 'fresh'").count()
    dead = spark.read.json(pipe.dead_dir).count() if corrupt else 0
    if fresh != rows - corrupt:
        problems.append(f"sink holds {fresh} fresh rows, expected {rows - corrupt}")
    if dead != corrupt:
        problems.append(f"dead-letter holds {dead} rows, expected {corrupt}")
    return problems


def _progress_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            state = p.stateOperators[0] if p.stateOperators else None
            self.events.append(
                {
                    "run": str(p.runId),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state_commit_ms": state.commitTimeMs if state else 0,
                    "state_rows": state.numRowsTotal if state else 0,
                    "state_bytes": state.memoryUsedBytes if state else 0,
                }
            )

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    return Progress()


def _drain(spark, root: str, files_dir: str, files: list[dict]) -> tuple[float, _Pipeline]:
    """Drain a backlog with availableNow; returns (seconds from start to
    the commit of the last batch that carried data, pipeline)."""
    t0 = time.time()
    pipe = _Pipeline(spark, root, files_dir, True)
    done = pipe.await_committed([f["file"] for f in files], CATCH_UP_S)
    pipe.stop()
    if not done:
        raise RuntimeError(f"drain of {files_dir} did not finish within {CATCH_UP_S}s")
    return pipe.last_data_commit() - t0, pipe


def _live(spark, work: str, live_dir: str, seed: int, seconds: float) -> tuple[_Pipeline, list, int]:
    """Run the live query while the generator process feeds it; returns
    (pipeline, the generator's file manifest, files not yet committed
    when the generator finished)."""
    live = _Pipeline(spark, os.path.join(work, "live"), live_dir, False)
    manifest = os.path.join(work, "live-manifest.json")
    cmd = [
        sys.executable, "-m", "perfbench.streamgen", "--out", live_dir, "--manifest", manifest,
        "--seed", str(seed), "--rows-per-s", str(ROWS_PER_S), "--period-s", str(PERIOD_S),
        "--seconds", str(seconds), "--t0", str(time.time() + 0.5), "--first-index", str(WARM_FILES),
    ]
    gen = subprocess.Popen(cmd, cwd=REPO)
    try:
        rc = gen.wait(timeout=seconds + CATCH_UP_S)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if rc != 0:
        live.stop()
        raise RuntimeError(f"stream generator exited with {rc}")
    with open(manifest) as f:
        files = json.load(f)["files"]
    names = [f["file"] for f in files]
    claims, commits = source_file_batches(live.ckpt_good), commit_times(live.ckpt_good)
    backlog = sum(1 for n in names if not (claims.get(n) and claims[n] <= commits.keys()))
    live.await_committed(names, CATCH_UP_S)
    live.stop()
    return live, files, backlog


def _latencies(pipe: _Pipeline, files: list[dict]) -> list[tuple[float, int]]:
    """(seconds from a file's due time to the commit of the batch that
    claimed it, rows in the file) for every committed file."""
    claims, commits = source_file_batches(pipe.ckpt_good), commit_times(pipe.ckpt_good)
    out = []
    for f in files:
        ids = claims.get(f["file"])
        if ids and ids <= commits.keys():
            out.append((min(commits[b] for b in ids) - f["due"], f["rows"]))
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    work = os.path.join(run_dir, "stream")
    ev_dir = os.path.join(run_dir, "eventlog") if trace else None
    warm_dir, live_dir, drain_dir = (os.path.join(work, d) for d in ("in-warm", "in-live", "in-drain"))
    warm_files = _write_backlog(warm_dir, seed, 0, WARM_FILES)
    os.makedirs(live_dir)
    tracer = Tracer(f"{workload}-{seed}")

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        # state partitions sized to the host, as a deployment of this app
        # would: at the engine's default of 32, each micro-batch of 64
        # device groups runs 32 Python state tasks (about 10 s a batch on
        # 4 cores)
        spark = start_session(run_dir, ev_dir, {"spark.sql.shuffle.partitions": str(os.cpu_count())})
    with tracer.span("session.import"):
        import sensor_data_pipeline_spark.streaming.stateful  # noqa: F401
    with tracer.span("session.warmup"):
        spark.range(1).collect()
    setup_s = time.perf_counter() - t0
    phases = {f"{name}_s": tracer.total(name) for name in ("session.start", "session.import", "session.warmup")}

    listener = _progress_listener() if trace else None
    problems: list[str] = []

    with tracer.span("streaming.cold"):
        first_s, warm_pipe = _drain(spark, os.path.join(work, "warm"), warm_dir, warm_files)
    problems += _check_phase(spark, warm_pipe, warm_files)

    if listener:
        spark.streams.addListener(listener)
    cpu0 = time.process_time()
    with tracer.span("streaming.live"):
        live, live_files, backlog_end = _live(spark, work, live_dir, seed, seconds)
    live_cpu_s = time.process_time() - cpu0
    if listener:
        spark.streams.removeListener(listener)
    lat = _latencies(live, live_files)
    problems += _check_phase(spark, live, live_files)

    drain_files = _write_backlog(drain_dir, seed, WARM_FILES + len(live_files), DRAIN_FILES)
    drain_rows = sum(f["rows"] for f in drain_files)
    cpu0 = tree_cpu_s()
    with tracer.span("streaming.drain"):
        drain_s, drain_pipe = _drain(spark, os.path.join(work, "drain"), drain_dir, drain_files)
    drain_cpu_s = tree_cpu_s() - cpu0
    problems += _check_phase(spark, drain_pipe, drain_files)
    overhead_s = 0.0
    if listener:
        # the same backlog again with the listener attached: the
        # difference is the tracing overhead
        spark.streams.addListener(listener)
        with tracer.span("streaming.drain_traced"):
            traced_s, traced_pipe = _drain(spark, os.path.join(work, "drain-traced"), drain_dir, drain_files)
        spark.streams.removeListener(listener)
        problems += _check_phase(spark, traced_pipe, drain_files)
        overhead_s = traced_s - drain_s

    heap_mb = heap_peak_mb(spark)
    prov = provenance(spark, seed)
    prov.update({"rows_per_s": ROWS_PER_S, "period_s": PERIOD_S, "generator": datagen.STREAM_DEFAULTS})
    live_runs = live.run_ids()
    drain_runs = traced_pipe.run_ids() if listener else []
    stop_session(spark)

    if not lat:
        raise RuntimeError("no live file was committed")
    files_all = warm_files + live_files + drain_files * (2 if listener else 1)
    attempted = 2 * len(files_all)
    late = [f["written"] - f["due"] for f in live_files]
    detail = {
        "workload": workload,
        "provenance": prov,
        "problems": problems[:20],
        "live_files": len(live_files),
        "live_latency_p90_s": tail_percentile([v for v, w in lat for _ in range(w)], 0.9) if lat else None,
        "phases": phases,
        "tolerance_s": TOLERANCE_S,
        "phase_wall_s": {sp["name"]: sp["end"] - sp["start"] for sp in tracer.spans},
    }
    result = {"correct": not problems, "attempted": attempted, "failed": len(problems), "detail": detail}
    wall_metrics = {
        "ops_per_s": (drain_rows / drain_s, "1/s"),
        "latency_p50_s": (weighted_median(lat), "s"),
        "first_pass_s": (first_s, "s"),
    }
    if not trace:
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "cpu_per_op_ms": (1e3 * drain_cpu_s / drain_rows, "ms"),
        }
        return result

    spans_path = os.path.join(os.path.dirname(run_dir), "traces", f"{workload}-{seed}.json")
    tracer.write(spans_path)
    detail["spans"] = spans_path
    ev = listener.events
    live_ev = [e for e in ev if e["run"] == live_runs[0]]
    drain_ev = [e for e in ev if e["run"] == drain_runs[0] and e["rows"] > 0]
    groups = parse_event_log(find_event_log(ev_dir))
    live_groups = [groups.get(r, {}) for r in live_runs]
    n_batches = max(1, sum(len([e for e in ev if e["run"] == r]) for r in live_runs))

    def per_batch(field: str, scale: float = 1.0) -> float:
        return sum(g.get(field, 0) for g in live_groups) / scale / n_batches

    def med(key: str) -> float:
        return median([e["ms"].get(key, 0) for e in live_ev]) if live_ev else 0.0

    data_batches = [e for e in live_ev if e["rows"] > 0]
    result["metrics"] = {
        **wall_metrics,
        "session.start_s": (phases["session.start_s"], "s"),
        "session.import_s": (phases["session.import_s"], "s"),
        "session.warmup_s": (phases["session.warmup_s"], "s"),
        "sources.input_bytes": (per_batch("input_bytes"), "bytes"),
        "sources.input_rows": (per_batch("input_rows"), "count"),
        "spark.jobs": (per_batch("jobs"), "count"),
        "spark.stages": (per_batch("stages"), "count"),
        "spark.tasks": (per_batch("tasks"), "count"),
        "spark.task_run_s": (per_batch("run_ms", 1e3), "s"),
        "spark.task_cpu_s": (per_batch("cpu_ns", 1e9), "s"),
        "spark.gc_s": (per_batch("gc_ms", 1e3), "s"),
        "spark.shuffle_write_bytes": (per_batch("shuffle_write_bytes"), "bytes"),
        "spark.shuffle_read_bytes": (per_batch("shuffle_read_bytes"), "bytes"),
        "spark.spill_bytes": (per_batch("spill_bytes"), "bytes"),
        "driver.cpu_s": (live_cpu_s / n_batches, "s"),
        "jvm.heap_peak_mb": (heap_mb, "MB"),
        "streaming.trigger_ms": (med("triggerExecution"), "ms"),
        "streaming.add_batch_ms": (med("addBatch"), "ms"),
        "streaming.wal_commit_ms": (med("walCommit"), "ms"),
        "streaming.commit_offsets_ms": (med("commitOffsets"), "ms"),
        "streaming.query_planning_ms": (med("queryPlanning"), "ms"),
        "streaming.latest_offset_ms": (med("latestOffset"), "ms"),
        "streaming.state_commit_ms": (median([e["state_commit_ms"] for e in live_ev]) if live_ev else 0.0, "ms"),
        "streaming.batches": (len(live_ev), "count"),
        "streaming.empty_batch_frac": (1 - len(data_batches) / len(live_ev) if live_ev else 0.0, "ratio"),
        "streaming.rows_per_batch": (median([e["rows"] for e in drain_ev]) if drain_ev else 0.0, "count"),
        "streaming.state_rows": (max([e["state_rows"] for e in drain_ev], default=0), "count"),
        "streaming.state_memory_bytes": (max([e["state_bytes"] for e in drain_ev], default=0), "bytes"),
        "streaming.sink_write_s": (median(live.sink_times) if live.sink_times else 0.0, "s"),
        "streaming.gen_late_max_s": (max(late), "s"),
        "streaming.backlog_files_end": (backlog_end, "count"),
        "trace.overhead_s": (overhead_s, "s"),
    }
    return result

