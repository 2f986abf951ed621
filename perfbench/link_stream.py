"""The micro-batch stream: streaming.ingest.IncrementalLinkage.process_batch
over a fixed sequence of micro-batches, measured as the `ingest` layer.

The batches are a synthesized repo_files table split by a hash of `commit`
(inputs.write_stream_batches). They are fed in batch order, one
process_batch call per batch inside the span `trace:ingest`, each starting
after the previous one returned; state grows in parquet under the run's
scratch directory. The config is the default one, so unweighted: the IDF
layer is bypassed.

A process_batch call costs about 10 s on four cores even at 200 rows, so
the sequence (about 33 s) does not fit the untraced runs' time budget. It runs once per traced run of
query_mix, after the queries, and reports per-layer figures only.

Afterwards the stored cluster table must equal the connected components of
the stored edge log (the invariant ingest.py documents), recomputed in plain
Python, and the state must hold exactly the streamed records.
"""

from __future__ import annotations

import os
import time
import traceback

from harness import Harness, log, median
from inputs import record_ids, write_stream_batches
from link_batch import min_components

STREAM_ROWS, SMOKE_STREAM_ROWS = 600, 150
STREAM_BATCHES = 3


def _rids(batch_dir: str) -> list[str]:
    import pyarrow.parquet as pq

    t = pq.read_table(batch_dir, columns=["repo", "path", "commit"])
    return record_ids(*(t.column(k).to_pylist() for k in ("repo", "path", "commit")))


def stream_pass(h: Harness, batch_dirs: list[str], state_dir: str) -> list[float]:
    """Feed the micro-batches to process_batch in order, each call inside the
    span `trace:ingest`. Returns the latency of each call."""
    from bela_spark.sources import read_repo_files
    from bela_spark.streaming.ingest import IncrementalLinkage

    inc = IncrementalLinkage(state_dir)
    lat = []
    for b, d in enumerate(batch_dirs):
        t0 = time.perf_counter()
        with h.span("trace:ingest"):
            inc.process_batch(read_repo_files(h.spark, "parquet:" + d), b)
        lat.append(time.perf_counter() - t0)
        log(f"batch {b} {lat[-1]:.3f}s")
    return lat


def check_stream(
    h: Harness, batch_dirs: list[str], state_dir: str
) -> tuple[dict[str, float], list[str]]:
    """Check the stored state (see the module docstring). Also returns the
    state's record count and the share of its blocking keys the last batch
    touched (the keys process_batch re-scores)."""
    from bela_spark.config import LinkageConfig
    from bela_spark.operators.blocking import blocking_keys

    spark = h.spark
    problems = []
    sent = {r for d in batch_dirs for r in _rids(d)}

    def read(name):
        return spark.read.parquet(os.path.join(state_dir, name))

    records = read("records")
    stored = {r[0] for r in records.select("rid").collect()}
    if stored != sent:
        problems.append(f"state holds {len(stored)} records, {len(sent)} were streamed")
    component = min_components(stored, read("edges").select("id1", "id2").collect())
    got = dict(read("clusters").select("rid", "cluster_id").collect())
    wrong = sum(got.get(r) != component[r] for r in stored)
    if wrong or len(got) != len(stored):
        problems.append(f"{wrong} of {len(stored)} streamed records in the wrong cluster")

    keys = blocking_keys(records, LinkageConfig(), dedup=False)
    last = spark.createDataFrame([(r,) for r in _rids(batch_dirs[-1])], "rid string")
    touched = keys.join(last, "rid", "left_semi").select("key").distinct().count()
    counts = {
        "ingest.state_records": len(stored),
        "ingest.touched_key_ratio": touched / max(keys.select("key").distinct().count(), 1),
    }
    return counts, problems


def run_stream(h: Harness, seed: int) -> tuple[int, int, dict[str, float]]:
    """Generate the batches, stream them, check the state. Returns
    (operations attempted, operations failed, per-layer counts)."""
    rows = SMOKE_STREAM_ROWS if h.smoke else STREAM_ROWS
    batch_dirs = write_stream_batches(rows, STREAM_BATCHES, seed, h.subdir("stream-input"))
    h.spark.catalog.clearCache()
    try:
        state_dir = h.subdir("stream-state")
        lat = stream_pass(h, batch_dirs, state_dir)
        counts, problems = check_stream(h, batch_dirs, state_dir)
    except Exception:
        log(traceback.format_exc())
        return len(batch_dirs), len(batch_dirs), {}
    for p in problems:
        log(f"check failed: {p}")
    counts.update({
        "ingest.first_batch_s": lat[0],
        "ingest.batch_latency_s": median(lat),
        "ingest.last_batch_s": lat[-1],
    })
    return len(batch_dirs), int(bool(problems)), counts
