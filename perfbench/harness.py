"""Session start-up and provenance shared by every workload."""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    """40% of host RAM, between 1 and 8 GiB: the driver JVM also hosts
    the local executors, and the Python workers need the rest."""
    gib = host_mem_bytes() / 2**30
    return f"{max(1, min(8, int(gib * 0.4)))}g"


def prepare_process(run_dir: str) -> None:
    """Scratch and import paths for this process and everything it
    starts. Must run before the package is imported: some modules read
    their scratch location at import time."""
    for sub in ("tmp", "spark"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    # the package is not shipped to Python workers; they find it here
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "spark")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")


def start_session(run_dir: str, event_log_dir: str | None = None, conf: dict | None = None):
    """``get_spark`` with the package's own defaults, plus a host-sized
    heap, a quiet log, run-local scratch, ``conf`` and, when tracing, an
    event log."""
    from sensor_data_pipeline_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        **(conf or {}),
        "spark.driver.memory": driver_heap(),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) of this
    process and every process below it: the Python driver, the Spark
    JVM with its local executors, and the Python workers. Time the host
    steals from the guest is not counted."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        pid = int(entry)
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    ticks = os.sysconf("SC_CLK_TCK")
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        f = stats.get(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        todo += children.get(pid, [])
    return total / ticks


def heap_peak_mb(spark) -> float:
    """Sum of the peak usage of the driver JVM's heap pools."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().toString()) == "Heap memory":
            total += pool.getPeakUsage().getUsed()
    return total / 2**20


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=10, check=False
        )
        return out.stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def provenance(spark, seed: int) -> dict:
    import duckdb
    import pyspark

    jvm = spark._jvm.java.lang.System
    return {
        "host_cores": os.cpu_count(),
        "host_ram_gb": round(host_mem_bytes() / 2**30, 1),
        "master": spark.sparkContext.master,
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "java": str(jvm.getProperty("java.version")),
        "git_commit": _git_commit(),
        "seed": seed,
        "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
