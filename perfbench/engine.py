"""Session lifecycle and process accounting for the benchmark.

The engine runs on ``local[<usable cores>]`` from this process. Everything
Spark, the Python workers and DuckDB write goes under the work directory
inside the checkout, and every process started here is stopped and waited
for before the benchmark exits.
"""

from __future__ import annotations

import os
import signal
import sys
import time

# Session knobs read from the environment by the engine; a clean run uses
# the engine's own defaults, so inherited values are dropped.
_ENGINE_ENV = (
    "SPARK_MASTER",
    "SPARK_DRIVER_MEMORY",
    "SPARK_GRAFT_ADVISORY",
    "SPARK_GRAFT_OPEN_COST",
    "SPARK_GRAFT_BROADCAST_THRESHOLD",
)


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of the host's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 4 // 1024))


def prepare_environment(root: str, work: str) -> None:
    """Environment that the JVM and its Python workers inherit."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    for key in _ENGINE_ENV:
        os.environ.pop(key, None)
    # workers import the engine from the checkout, not from an install
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(usable_cores())
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM the launch starts keeps its temporary files in the work
    # directory; without UsePerfData HotSpot would still write to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp")


def build(app: str, work: str):
    from py_image_toolkit_spark.session import build_session

    cores = usable_cores()
    spark = build_session(
        app,
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": f"{driver_memory_mb()}m",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- processes ---------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid)
    return out


def python_workers() -> list[int]:
    """The PySpark daemon and the workers it forked."""
    out = []
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark.daemon" in fh.read():
                    out.append(pid)
        except OSError:
            continue
    return out


def workers_cpu_s() -> float:
    """User + system CPU of the live workers, plus that of reaped ones."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in python_workers():
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(f) for f in fields[11:15])
    return total / tick


def workers_peak_rss_mb() -> float:
    peak_kb = 0
    for pid in python_workers():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for every process started."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    killed = False
    deadline = time.monotonic() + 30
    alive = started
    while alive and time.monotonic() < deadline + 10:
        alive = [p for p in alive if _running(p)]
        if alive and not killed and time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)


def _running(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"
