"""Task metrics per job group, read from Spark's event log.

The benchmark tags every job it triggers with ``SparkContext.setJobGroup``
(one group per timed pass, or one per layer span in a traced pass) and runs
with ``spark.eventLog.enabled``. After the session stops, this module folds
every task's metrics into its job group, so no program code changes.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_MB = 1024.0 * 1024.0


@dataclass
class GroupMetrics:
    cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    tasks: int = 0
    max_task_s: float = 0.0
    peak_task_mem_mb: float = 0.0

    def add_task(self, ev: dict) -> None:
        info = ev["Task Info"]
        self.tasks += 1
        self.max_task_s = max(
            self.max_task_s, (info["Finish Time"] - info["Launch Time"]) / 1000.0
        )
        m = ev.get("Task Metrics")
        if not m:
            return
        self.cpu_s += m["Executor CPU Time"] / 1e9
        sr = m["Shuffle Read Metrics"]
        self.shuffle_read_mb += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / _MB
        self.shuffle_write_mb += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / _MB
        self.spill_mb += m["Disk Bytes Spilled"] / _MB
        self.peak_task_mem_mb = max(
            self.peak_task_mem_mb, m["Peak Execution Memory"] / _MB
        )


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {**EVENTLOG_CONF, "spark.eventLog.dir": "file://" + os.path.abspath(log_dir)}


def metrics_by_group(log_dir: str) -> dict[str, GroupMetrics]:
    """{job group id: summed task metrics} over every log file in log_dir.
    Call after the SparkContext has stopped, so the log is complete."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupMetrics] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                # plan-carrying SQL events are most of the log's bytes; only
                # job starts and task ends are decoded
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev["Stage IDs"]:
                            stage_group.setdefault(sid, group)
                elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    ev = json.loads(line)
                    group = stage_group.get(ev["Stage ID"])
                    if group:
                        out.setdefault(group, GroupMetrics()).add_task(ev)
    return out
