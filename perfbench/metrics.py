"""The metric names this benchmark reports, with their units.

BENCHMARK.json declares the same lists; test_perfbench.py keeps the two equal.
Every run prints every end-to-end metric (--trace 0) or every per-layer
metric (--trace 1). A layer a workload never reaches reports zeros.
"""

from __future__ import annotations

from harness import LAYER_STATS

END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("records_per_s", "1/s"),
    ("cpu_s", "s"),
    ("peak_task_mem_mb", "MB"),
    ("pairwise_f1", "ratio"),
)

LINKAGE_LAYERS = (
    "sources",
    "pipeline.records",
    "blocking",
    "pairs",
    "idf",
    "scoring",
    "cc",
    "pipeline.assign",
)

QUERIES = (
    "er_threshold_best",
    "ann_lsh_topk",
    "dedup_embedding_neardup",
    "el_detect_f1",
)

LINKAGE_COUNTS = (
    ("pipeline.records.collapse_ratio", "ratio"),
    ("blocking.keys_per_record", "ratio"),
    ("pairs.multi_keys", "count"),
    ("idf.vocab_tokens", "count"),
    ("scoring.pairs_by_key", "count"),
    ("scoring.unique_pairs", "count"),
    ("scoring.dedup_ratio", "ratio"),
    ("scoring.accept_ratio", "ratio"),
    ("scoring.keys_salted", "count"),
    ("scoring.keys_chained", "count"),
    ("cc.edges_in", "count"),
    ("cc.rounds", "count"),
)

STREAM_COUNTS = (
    ("ingest.state_records", "count"),
    ("ingest.touched_key_ratio", "ratio"),
    ("ingest.first_batch_s", "s"),
    ("ingest.batch_latency_s", "s"),
    ("ingest.last_batch_s", "s"),
)

RUN_INFO = (
    ("trace.overhead_s", "s"),
    ("host.nproc", "count"),
    ("host.loadavg_start", "load"),
    ("host.loadavg_end", "load"),
)


def layer_metrics(layer: str) -> list[tuple[str, str]]:
    return [(f"{layer}.{k}", u) for k, u in LAYER_STATS]


PER_LAYER = tuple(
    [m for layer in LINKAGE_LAYERS for m in layer_metrics(layer)]
    + list(LINKAGE_COUNTS)
    + layer_metrics("ingest")
    + list(STREAM_COUNTS)
    + [m for q in QUERIES for m in layer_metrics(f"queries.{q}")]
    + list(RUN_INFO)
)


def result_metrics(
    declared, values: dict[str, float], fill_missing: bool = False
) -> dict[str, dict]:
    """{name: {value, unit}} for every declared metric. An undeclared value
    is an error; a missing one is an error unless fill_missing, where it
    reads 0 (a layer this workload never runs)."""
    names = {n for n, _ in declared}
    extra = set(values) - names
    missing = names - set(values)
    if extra or (missing and not fill_missing):
        raise KeyError(f"undeclared {sorted(extra)}, missing {sorted(missing)}")
    return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in declared}
