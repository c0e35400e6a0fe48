"""Host hygiene: the per-run scratch directory, the session the
benchmark builds, host facts, and the process-tree RSS sampler.

Everything a run writes goes under ``<checkout>/.perfbench_run/<pid>``:
``TMPDIR`` and ``SPARK_LOCAL_DIRS`` point there (the report stream puts
its checkpoints under ``tempfile.gettempdir()`` and never removes them),
and the directory is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_BASE = os.path.join(ROOT, ".perfbench_run")
TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """An eighth of the machine, 1g to 4g: the package default (16g)
    does not fit a 15 GB machine shared with other processes."""
    return f"{max(1024, min(4096, mem_total_mb() // 8))}m"


def canary_s() -> float:
    """Wall of a fixed pure-Python loop, a reading of the host's speed
    at run start: it tells a slower host from a slower program when
    runs made minutes apart disagree."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i
    return time.perf_counter() - t0


def host_facts() -> dict:
    return {
        "cores": cores(),
        "mem_total_mb": mem_total_mb(),
        "driver_memory": driver_memory(),
        "load_avg": list(os.getloadavg()),
        "canary_s": round(canary_s(), 4),
    }


class RunDir:
    """A fresh scratch directory for one run; points TMPDIR,
    SPARK_LOCAL_DIRS and the package's warehouse directory at it, and
    removes it (restoring the environment) on exit."""

    _ENV = ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_WAREHOUSE", "SPARK_LAUNCHER_OPTS")

    def __enter__(self) -> str:
        self.path = os.path.join(RUN_BASE, f"{os.getpid()}-{time.time_ns()}")
        os.makedirs(os.path.join(self.path, "local"))
        self._saved = {k: os.environ.get(k) for k in self._ENV}
        self._saved_tempdir = tempfile.tempdir
        os.environ["TMPDIR"] = self.path
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.path, "local")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(self.path, "warehouse")
        # no /tmp/hsperfdata_<user> from the spark-submit launcher JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        tempfile.tempdir = self.path
        return self.path

    def __exit__(self, *exc) -> None:
        tempfile.tempdir = self._saved_tempdir
        for k, v in self._saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(RUN_BASE)  # only when no other run is using it
        except OSError:
            pass


def start_session(ui_port: int | None = None):
    """Build the session through the package's ``get_spark`` with
    ``cpus = nproc`` and an explicit driver memory; time the call and a
    first job. Returns (spark, start_s, first_job_s)."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import (
        session,
    )

    mem = driver_memory()
    conf = {
        "spark.driver.memory": mem,
        # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file.
        # -Xmn256m and 16 MB regions: G1 otherwise sizes its young
        # generation from the pause times it measures, and with 1 MB
        # regions every array of 512 KB or more is a humongous object,
        # most of which G1 reclaims only after a concurrent mark. Both
        # follow the host's timing, and so did the touched heap and
        # peak_rss_mb: behavior_batch 1134-1748 MB over five seeds
        # (1081-1102 MB with these flags), corpus_dedup 2014-2370 MB
        # with -Xmn256m alone (2065-2170 MB with both). The heap is
        # neither pre-sized nor pre-touched: it grows as the program needs.
        "spark.driver.extraJavaOptions": (
            "-XX:-UsePerfData -Xmn256m -XX:G1HeapRegionSize=16m "
            f"-Djava.io.tmpdir={tempfile.gettempdir()}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if ui_port is not None:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": str(ui_port),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000",
            }
        )
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", cpus=cores(), extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(0, 1_000_000, numPartitions=cores()).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited
    (``spark.stop()`` alone leaves the gateway process running)."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _tree_rss_kb(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants (JVM,
    Python workers), from /proc. Summed as PSS, which splits each shared
    page among the processes that map it: a child the JVM forks shares
    the whole touched heap for a moment, and summed RSS then counted
    that heap twice (a 7.6 GB peak for a 2.7 GB process tree)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            total += _pss_kb(pid)
        except OSError:
            pass  # exited while we looked
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the process tree's RSS every ``period_s`` on a daemon
    thread and keeps the peak."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        """End sampling; the peak stays. Safe to call more than once."""
        self._stop.set()
        self._thread.join()

    def __exit__(self, *exc) -> None:
        self.stop()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
