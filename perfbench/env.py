"""Process set-up shared by the benchmark and its input generator."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import tempfile
import time

PERFBENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PERFBENCH)
# Everything a run writes stays under the checkout, in a directory the
# repository's .gitignore names.
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "inputs")
TMP = os.path.join(WORK, "tmp")
SPARK_LOCAL = os.path.join(WORK, "spark-local")

# Pinned driver heap (-Xms = -Xmx), so peak memory repeats run to run.
DRIVER_HEAP = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal), in clock ticks since boot."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests (steal): above a few percent the host
    was contended and the run's times are not comparable."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def ship_package() -> None:
    """Make ``mysql_binlog_spark`` importable in this process and in the
    Python workers Spark starts.  Workers inherit PYTHONPATH from the JVM,
    which inherits it from this process, so this must run before the
    session starts; without it a run started from any directory other
    than the checkout root fails in the workers with ModuleNotFoundError."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    parts = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if ROOT not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + parts)


def start_spark(app_name: str):
    """``local[cores]`` session with the engine's defaults
    (``mysql_binlog_spark.session.get_spark``).  Scratch files of this
    process, the JVM and the workers go under ``WORK``, not the system
    temporary directory."""
    ship_package()
    from mysql_binlog_spark.session import get_spark

    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP  # inherited by the JVM and the workers
    tempfile.tempdir = TMP
    # overrides spark.local.dir when set, so set it to the same place
    os.environ["SPARK_LOCAL_DIRS"] = SPARK_LOCAL
    n = cores()
    spark = get_spark(
        app_name=app_name,
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={TMP} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": SPARK_LOCAL,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for every
    process this run started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
