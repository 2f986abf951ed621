"""The benchmark's own tests: `python3 -m pytest perfbench -q` from the repo root.

The smoke tests run each workload end to end on tiny inputs, untraced and
traced (one to three minutes each on four cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from eventlog import metrics_by_group  # noqa: E402
from link_batch import RUN_LINKAGE_AST_SHA, cluster_scores, min_components, run_linkage_sha  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_benchmark_json_declares_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} == {"link_batch", "query_mix"}


def test_event_log_folds_tasks_into_their_job_group(tmp_path):
    job = {"Event": "SparkListenerJobStart", "Stage IDs": [3, 4],
           "Properties": {"spark.jobGroup.id": "scoring"}}

    def task(stage, cpu_ns, launch, finish, peak):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Failed": False, "Killed": False},
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "Peak Execution Memory": peak,
                "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 2**20},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**21},
            },
        }

    lines = [job, task(3, 10**9, 0, 1500, 2**20), task(4, 2 * 10**9, 0, 500, 3 * 2**20),
             task(9, 10**9, 0, 100, 0)]
    (tmp_path / "app").write_text(
        "\n".join(json.dumps(e, separators=(",", ":")) for e in lines) + "\n"
    )
    g = metrics_by_group(str(tmp_path))
    assert set(g) == {"scoring"}
    m = g["scoring"]
    assert (m.tasks, m.cpu_s, m.max_task_s, m.peak_task_mem_mb) == (2, 3.0, 1.5, 3.0)
    assert (m.shuffle_read_mb, m.shuffle_write_mb) == (2.0, 4.0)


def test_cluster_scores_count_planted_pairs_never_clustered(tmp_path):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    # planted: {a, b, c}, {d, e} and a 9-member group; clustered: {a, b},
    # {c}, {d, e} and the 9 together, so the planted pairs a-c and b-c are
    # misses although no scored pair names them
    big = [f"z{i}" for i in range(9)]
    truth = pd.DataFrame(
        {"rid": list("abcde") + big, "group_id": list("gggHH") + ["Z"] * 9}
    )
    pq.write_table(pa.Table.from_pandas(truth), str(tmp_path / "t.parquet"))
    clusters = {"a": "a", "b": "a", "c": "c", "d": "d", "e": "d", **{z: "z0" for z in big}}
    f1, small_recall = cluster_scores(clusters, str(tmp_path / "t.parquet"))
    # tp = 1 + 1 + 36, predicted = 38, planted = 3 + 1 + 36
    assert f1 == 2 * 38 / (38 + 40)
    # the 9-member group is not small: 2 of the 4 small-group pairs hit
    assert small_recall == 2 / 4


def test_min_components_names_each_component_by_its_smallest_node():
    got = min_components({"a", "b", "c", "d", "e"}, [("d", "b"), ("c", "d"), ("f", "e")])
    assert got == {"a": "a", "b": "b", "c": "b", "d": "b", "e": "e", "f": "e"}


def test_traced_pass_is_synced_with_run_linkage():
    # traced_pass copies three inline steps of run_linkage; when this fails,
    # re-sync those copies with run_linkage, then RUN_LINKAGE_AST_SHA
    assert run_linkage_sha() == RUN_LINKAGE_AST_SHA


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = _run(str(tmp_path), "--workload", "link_batch", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert r.returncode != 0
    assert r.stdout.strip() == ""


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["link_batch", "query_mix"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke(workload, trace):
    r = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--smoke")
    assert r.returncode == 0, r.stderr[-4000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, r.stderr[-4000:]
    declared = END_TO_END if trace == "0" else PER_LAYER
    assert list(out["metrics"]) == [n for n, _ in declared]
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())
    elif workload == "link_batch":
        assert out["metrics"]["scoring.keys_salted"]["value"] > 0
        assert out["metrics"]["scoring.keys_chained"]["value"] > 0
        assert out["metrics"]["scoring.wall_s"]["value"] > 0
    else:
        assert out["metrics"]["queries.el_detect_f1.wall_s"]["value"] > 0
        assert out["metrics"]["ingest.wall_s"]["value"] > 0
        assert out["metrics"]["ingest.state_records"]["value"] > 0
