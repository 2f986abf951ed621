"""Session lifetime, job-group spans and the result line shared by workloads."""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

from eventlog import GroupMetrics, event_log_conf, metrics_by_group

LAYER_STATS = (
    ("wall_s", "s"),
    ("cpu_s", "s"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("tasks", "count"),
    ("max_task_s", "s"),
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def configure_env(root: str, work: str) -> dict[str, str]:
    """Process environment and Spark conf for a run on this host: local[nproc]
    with matching shuffle partitions, a driver heap well below physical RAM,
    every scratch file under `work`, and the repo importable by the Python
    workers. Must run before the JVM starts."""
    n = nproc()
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(n),
        BELA_SPARK_DRIVER_MEM=f"{max(1, min(4, int(phys_gb // 4)))}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        # every JVM (the launcher and the driver): no hsperfdata files in /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
    )
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        **event_log_conf(os.path.join(work, "eventlog")),
    }


class Harness:
    """One benchmark run: owns the SparkSession and its JVM, tags jobs with
    groups, and collects the event-log metrics of each group at the end."""

    def __init__(self, root: str, work: str, trace: bool, smoke: bool):
        self.root, self.work = root, work
        self.trace, self.smoke = trace, smoke
        self.conf = configure_env(root, work)
        self.spark = None
        self.walls: dict[str, float] = {}
        self.groups: dict[str, GroupMetrics] = {}
        self.load_start = loadavg()
        log(f"nproc={nproc()} loadavg_start={self.load_start}")

    def start_session(self) -> float:
        from bela_spark.session import get_spark

        t0 = time.perf_counter()
        n = nproc()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf=self.conf,
        )
        # first job and the Python workers (Arrow batches, one per core):
        # lazy start-up that would otherwise land in the first timed pass
        self.spark.range(0, n, numPartitions=n).mapInPandas(
            lambda batches: batches, "id long"
        ).count()
        return time.perf_counter() - t0

    def subdir(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    @contextmanager
    def span(self, group: str):
        """Tag every job started inside with `group`; add the block's wall
        time to self.walls[group]."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[group] = self.walls.get(group, 0.0) + time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def stop(self) -> None:
        """Stop the session and its JVM, wait for the JVM and for every process
        it started (the Python workers), then read the finished event log."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            workers = _descendants(proc.pid) if proc is not None else set()
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            # the workers exit when they see the JVM's pipes close
            deadline = time.monotonic() + 30
            while any(map(_alive, workers)) and time.monotonic() < deadline:
                time.sleep(0.05)
            for pid in filter(_alive, workers):
                os.kill(pid, signal.SIGKILL)
        self.groups = metrics_by_group(os.path.join(self.work, "eventlog"))

    def group_metrics(self, *groups: str) -> GroupMetrics:
        """Task metrics summed over `groups` (max for the per-task maxima)."""
        out = GroupMetrics()
        for g in groups:
            m = self.groups.get(g)
            if m is None:
                continue
            out.cpu_s += m.cpu_s
            out.shuffle_read_mb += m.shuffle_read_mb
            out.shuffle_write_mb += m.shuffle_write_mb
            out.spill_mb += m.spill_mb
            out.tasks += m.tasks
            out.max_task_s = max(out.max_task_s, m.max_task_s)
            out.peak_task_mem_mb = max(out.peak_task_mem_mb, m.peak_task_mem_mb)
        return out

    def layer_stats(self, layer: str, group: str) -> dict[str, float]:
        m = self.group_metrics(group)
        vals = {
            "wall_s": self.walls.get(group, 0.0),
            "cpu_s": m.cpu_s,
            "shuffle_read_mb": m.shuffle_read_mb,
            "shuffle_write_mb": m.shuffle_write_mb,
            "spill_mb": m.spill_mb,
            "tasks": m.tasks,
            "max_task_s": m.max_task_s,
        }
        return {f"{layer}.{k}": vals[k] for k, _ in LAYER_STATS}

    def close(self) -> None:
        try:
            self.stop()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)


def median(xs) -> float:
    return float(statistics.median(xs))
