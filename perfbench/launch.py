"""Spark launch and teardown, the same for every run.

Every run starts Spark the same way and records how it did it
(``settings``): ``local[nproc]``, a driver heap below host RAM, the
repository on ``PYTHONPATH`` so Spark's Python workers can import the
engine, and every scratch directory inside the run's work directory.
``stop`` waits until the JVM and every process it started have ended.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

#: driver heap; ``get_spark`` defaults to 16g, which is above this
#: class of host's RAM, and the benchmark's indexes fit in far less
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit(root: Path) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def start(root: Path, work: Path):
    """Start Spark for one run; returns (spark, settings)."""
    cores = nproc()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    from tlhop_library_spark.session import get_spark

    master = f"local[{cores}]"
    extra = {
        # must be set before the context starts (CANNOT_MODIFY_CONFIG)
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
            "-XX:-UsePerfData"
        ),
    }
    spark = get_spark("perfbench", master=master, shuffle_partitions=cores,
                      extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    import pyarrow
    import pyspark

    settings = {
        "master": master,
        "nproc": cores,
        "shuffle_partitions": cores,
        "driver_memory": DRIVER_MEM,
        "pythonpath": os.environ["PYTHONPATH"],
        "extra_conf": extra,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }
    return spark, settings


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def rss_peak_mb(pid: int | None) -> float:
    """Peak resident set (VmHWM) of a live process, from /proc."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] == "Z":
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while _descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.2)
