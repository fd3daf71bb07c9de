"""Regenerate the parser fixtures under ``fixtures/``: a Spark event log
of two tagged jobs, and the ``sources/0`` and ``commits`` logs of a
file stream whose source log has compacted (``2.compact``).

    python3 perfbench/tests/make_fixtures.py
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
FIXTURES = os.path.join(HERE, "fixtures")


_KEEP = {
    "SparkListenerJobStart": ("Event", "Job ID", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Event", "Job ID", "Completion Time"),
    "SparkListenerStageCompleted": ("Event", "Stage Info"),
    "SparkListenerTaskEnd": ("Event", "Stage ID", "Task Metrics"),
}


def _trim_event_log(src: str, dst: str) -> None:
    """Keep the events and fields the parser reads."""
    with open(src) as f, open(dst, "w") as out:
        for line in f:
            ev = json.loads(line)
            keep = _KEEP.get(ev["Event"])
            if keep is None:
                continue
            ev = {k: ev[k] for k in keep if k in ev}
            if "Properties" in ev:
                ev["Properties"] = {k: v for k, v in ev["Properties"].items() if k == "spark.jobGroup.id"}
            if "Stage Info" in ev:
                ev["Stage Info"] = {"Stage ID": ev["Stage Info"]["Stage ID"]}
            out.write(json.dumps(ev) + "\n")


def _neutral_paths(log_dir: str, prefix: str) -> None:
    """Replace the run directory in logged file paths with ``/input``."""
    for name in os.listdir(log_dir):
        path = os.path.join(log_dir, name)
        with open(path) as f:
            text = f.read()
        with open(path, "w") as f:
            f.write(text.replace(prefix, "file:///input"))


def main() -> int:
    sys.path[0] = ROOT  # this directory's modules import as perfbench.*
    from perfbench.harness import prepare_process, start_session, stop_session

    os.makedirs(os.path.join(ROOT, ".perfbench_run"), exist_ok=True)
    work = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench_run"))
    prepare_process(work)
    try:
        from pyspark.sql import functions as F

        ev_dir = os.path.join(work, "ev")
        spark = start_session(work, ev_dir)
        sc = spark.sparkContext
        sc.setJobGroup("q1|warm|collect", "q1")
        spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 3).alias("z")).count().collect()
        sc.setJobGroup("q2|warm|build", "q2")
        spark.range(0, 100, 1, 2).collect()

        spark.conf.set("spark.sql.streaming.fileSource.log.compactInterval", "3")
        src = os.path.join(work, "in")
        os.makedirs(src)
        for i in range(4):
            with open(os.path.join(src, f"f{i}.txt"), "w") as f:
                f.write(f"line {i}\n")
        ckpt = os.path.join(work, "ckpt")
        q = (
            spark.readStream.option("maxFilesPerTrigger", 1)
            .text(src)
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        stop_session(spark)

        os.makedirs(FIXTURES, exist_ok=True)
        (log,) = glob.glob(os.path.join(ev_dir, "*"))
        _trim_event_log(log, os.path.join(FIXTURES, "eventlog.json"))
        out = os.path.join(FIXTURES, "checkpoint")
        shutil.rmtree(out, ignore_errors=True)
        for sub in ("sources/0", "commits"):
            shutil.copytree(os.path.join(ckpt, sub), os.path.join(out, sub), ignore=shutil.ignore_patterns(".*"))
        _neutral_paths(os.path.join(out, "sources", "0"), "file://" + src)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
