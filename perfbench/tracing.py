"""Measurement helpers: percentiles, in-memory spans, and parsers for the
logs Spark leaves behind (event log, streaming checkpoint).

Everything here reads the program from outside: spans wrap the
benchmark's own calls into a layer, counts come from the Spark event
log and the checkpoint's offset/commit logs.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time
from contextlib import contextmanager

#: a tail percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-quantile (0 < q < 1), or None when fewer than
    ``MIN_BEYOND`` samples lie beyond it — a tail percentile resting on
    a handful of samples is noise."""
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_BEYOND:
        return None
    return float(sorted(values)[rank - 1])


def weighted_median(pairs: list[tuple[float, int]]) -> float:
    """Median of values each repeated ``weight`` times (row latencies
    stored per file)."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    acc = 0
    for v, w in pairs:
        acc += w
        if 2 * acc >= total:
            return float(v)
    raise ValueError("empty")


class Tracer:
    """Spans kept in memory and written out once, at the end of a run.

    A span is (name, start, end, parent, run, query); ``self_s`` of a
    span is its duration minus the time its children cover."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, query: str | None = None):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "query": query,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child.get(i, 0.0)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, "self_s": self.self_times()}, f)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_GROUP_FIELDS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "input_rows", "last_job_end_ms",
)


def _group_row() -> dict:
    return dict.fromkeys(_GROUP_FIELDS, 0)


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: job, stage and task counts plus summed executor
    metrics (run time, CPU, GC, shuffle, spill, input) and the latest
    job completion time (epoch ms). Jobs without a group land in ""."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[ev["Job ID"]] = g
                row = groups.setdefault(g, _group_row())
                row["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                g = stage_group.get(info["Stage ID"])
                if g is not None:
                    groups[g]["stages"] += 1
            elif kind == "SparkListenerJobEnd":
                g = job_group.get(ev["Job ID"])
                if g is not None:
                    row = groups[g]
                    row["last_job_end_ms"] = max(row["last_job_end_ms"], ev.get("Completion Time", 0))
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                row = groups[g]
                row["tasks"] += 1
                row["run_ms"] += m.get("Executor Run Time", 0)
                row["cpu_ns"] += m.get("Executor CPU Time", 0)
                row["gc_ms"] += m.get("JVM GC Time", 0)
                row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                row["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                im = m.get("Input Metrics") or {}
                row["input_bytes"] += im.get("Bytes Read", 0)
                row["input_rows"] += im.get("Records Read", 0)
    return groups


def find_event_log(log_dir: str) -> str:
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


# ---------------------------------------------------------------------------
# streaming checkpoint logs
# ---------------------------------------------------------------------------


def _log_entries(path: str) -> list[dict]:
    with open(path) as f:
        lines = f.read().splitlines()
    if not lines or lines[0] != "v1":
        raise ValueError(f"{path}: not a v1 metadata log file")
    return [json.loads(x) for x in lines[1:] if x.strip()]


def source_file_batches(checkpoint: str, source: int = 0) -> dict[str, set[int]]:
    """File-stream source log: each input file -> the batch ids that
    claimed it. Reads every ``sources/<n>/<batch>`` file and every
    ``<batch>.compact`` file (a compact file repeats the entries of the
    batches it folds in, so ids are collected as sets)."""
    out: dict[str, set[int]] = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", str(source), "*")):
        base = os.path.basename(p)
        if base.startswith(".") or not base.split(".")[0].isdigit():
            continue
        for e in _log_entries(p):
            out.setdefault(os.path.basename(e["path"]), set()).add(int(e["batchId"]))
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> commit time (epoch seconds): the mtime of the
    batch's ``commits/<id>`` file, written when the batch finished."""
    out = {}
    for p in glob.glob(os.path.join(checkpoint, "commits", "*")):
        base = os.path.basename(p)
        if base.isdigit():
            out[int(base)] = os.stat(p).st_mtime
    return out
