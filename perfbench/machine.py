"""Session sizing and process-tree memory sampling for the benchmark.

Everything the benchmark writes (Spark scratch, temp files, the traced
run's event log, report and checkpoint directories) lives under one work
directory inside the checkout, so a run leaves nothing behind elsewhere.
"""

from __future__ import annotations

import os
import shlex
import sys
import threading
import time
from pathlib import Path


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A sixteenth of physical RAM, between 1 and 2 GiB: the workloads'
    cached and checkpointed data take well under a gigabyte of heap, and
    the Python workers need the rest."""
    return max(1024, min(2048, mem_total_mb() // 16))


def configure_environment(root: Path, work: Path, trace: bool) -> dict:
    """Set the variables the Spark launcher and its Python workers read.

    Must run before the first session is created: the driver heap, the
    scratch directories and the event log are fixed at JVM launch."""
    heap_mb = driver_heap_mb()
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    # Python workers start from the launcher's environment, not from this
    # process's sys.path: without the checkout on PYTHONPATH the first UDF
    # fails to import crawler_seo_spark
    path = [str(root)]
    if os.environ.get("PYTHONPATH"):
        path.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    confs = {
        "spark.local.dir": str(local),
        # the whole heap is committed and touched at launch, so the JVM's
        # share of the process tree's RSS does not depend on when the
        # collector chose to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{heap_mb}m -XX:+AlwaysPreTouch",
    }
    if trace:
        events = work / "events"
        events.mkdir(exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": events.as_uri(),
                      "spark.eventLog.compress": "false"})
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    # one core is left to the driver: its Python process, the JVM's
    # scheduler, collector and JIT threads. With every core running a task,
    # any time taken from one task thread stalls its whole stage.
    return {"cores": max(1, cpu_count() - 1), "nproc": cpu_count(),
            "driver_heap_mb": heap_mb}


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (driver JVM, Python daemon and workers) from ``/proc``. Each process
    counts its proportional set size: the Python workers are forked from
    one daemon and share its pages, which a plain sum of RSS would count
    once per worker."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue  # exited between listdir and open
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and the gateway JVM it runs in (the JVM exits once
    its stdin closes; its Python workers exit with it), then reap every
    child, so no process outlives the run."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout_s)
    reap_children(timeout_s)


def reap_children(timeout_s: float = 30.0) -> None:
    """Wait for child processes that are still exiting."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.1)
