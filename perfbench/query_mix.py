"""Workload query_mix: four bela_spark.queries calls over seeded documents and
embeddings tables, each result checked against its DuckDB oracle.

The queries exercise what link_batch never touches: the ER threshold family
over the documents record table (with its _records repartition), the
Arrow/pandas ANN and dedup kernels, and the EL span chain.
er_flagship_clusters is left out: it adds about 11 s to every run for code
the other two cover (the same scored documents pairs as er_threshold_best,
then the connected components link_batch measures).

A pass runs the query list once, in a fixed order, each query collected
before the next starts. A run times exactly one pass: the first execution of
each query in a fresh session, which is how a one-off query runs. A warm
second pass measures a different regime, adds about 20 s to a run on four
cores, and spread no less than the cold pass over the same runs (README.md,
Steadiness), so --seconds does not add passes.

Set-up: session start, input generation (median of several), and the DuckDB
oracle results, normalized the way scripts/check_oracles.py does.

The traced run also runs the micro-batch stream (link_stream.py) after the
queries, for the `ingest` layer.
"""

from __future__ import annotations

import datetime
import math
import time
import traceback

from harness import Harness, log, median
from link_stream import run_stream
from metrics import QUERIES

# the row counts of the sf0.01 documents / embeddings tables
DOCS, VECS = 500, 500
SMOKE_DOCS, SMOKE_VECS = 120, 120
GEN_REPEATS = 3
OVERHEAD_QUERY = ("el_detect_f1",)


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def normalize(rows, cols) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    """Column-name-sorted, row-sorted string cells (check_oracles' rule)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return tuple(sorted(cols)), out


def oracle_results(data_dir: str) -> dict[str, tuple]:
    import duckdb

    from bela_spark.oracles import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        out = {}
        for q in QUERIES:
            res = con.execute(sql[q])
            out[q] = normalize(res.fetchall(), [d[0] for d in res.description])
        return out
    finally:
        con.close()


def query_pass(h: Harness, data_dir: str, oracle: dict, prefix: str, names=QUERIES):
    """Run the queries under the spans `<prefix>queries.<name>`. Returns
    (number of queries whose result differs from the oracle or raised,
    the er_threshold_best f1)."""
    from bela_spark import queries as q

    failed, f1 = 0, 0.0
    for name in names:
        try:
            group = f"{prefix}queries.{name}"
            with h.span(group):
                sdf = getattr(q, name)(h.spark, data_dir)
                rows = [tuple(r) for r in sdf.collect()]
            got = normalize(rows, sdf.columns)
            log(f"{group} {h.walls[group]:.3f}s")
        except Exception:
            log(traceback.format_exc())
            failed += 1
            continue
        if got != oracle[name]:
            log(f"{prefix}{name}: result differs from the DuckDB oracle "
                f"({len(got[1])} vs {len(oracle[name][1])} rows)")
            failed += 1
        elif name == "er_threshold_best":
            f1 = float(dict(zip(sdf.columns, rows[0]))["f1"])
    return failed, f1


def run(h: Harness, seed: int) -> dict:
    from inputs import write_query_tables

    session_s = h.start_session()
    n_docs, n_vecs = (SMOKE_DOCS, SMOKE_VECS) if h.smoke else (DOCS, VECS)
    gen_s = []
    for i in range(GEN_REPEATS):
        t0 = time.perf_counter()
        data_dir = write_query_tables(n_docs, n_vecs, seed, h.subdir(f"tables{i}"))
        gen_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    oracle = oracle_results(data_dir)
    oracle_s = time.perf_counter() - t0
    setup_s = session_s + median(gen_s) + oracle_s
    log(f"setup: session {session_s:.2f}s, inputs {gen_s}, oracle {oracle_s:.2f}s")

    attempted = failed = 0

    def timed_pass(prefix: str, names=QUERIES) -> tuple[float, float]:
        nonlocal attempted, failed
        t0 = time.perf_counter()
        bad, f1 = query_pass(h, data_dir, oracle, prefix, names)
        wall = time.perf_counter() - t0
        attempted += len(names)
        failed += bad
        log(f"pass {prefix} {wall:.3f}s, {bad} failed")
        return wall, f1

    per_layer: dict[str, float] = {}
    if h.trace:
        # the cold pass is the traced one, so its per-layer figures describe
        # the regime the untraced wall_s measures. Tracing a query is one job
        # group around it, so the overhead is measured on the cheapest query:
        # warm and traced minus warm and untraced
        wall, f1 = timed_pass("trace:")
        untraced_warm, _ = timed_pass("warm:", OVERHEAD_QUERY)
        traced_warm, _ = timed_pass("trace-warm:", OVERHEAD_QUERY)
        per_layer["trace.overhead_s"] = traced_warm - untraced_warm
        # the micro-batch stream (link_stream.py): too slow for every run,
        # so it is measured here, in the traced run with the most headroom
        n, bad, counts = run_stream(h, seed)
        attempted += n
        failed += bad
        per_layer.update(counts)
    else:
        wall, f1 = timed_pass("pass0:")

    h.stop()
    if h.trace:
        for name in QUERIES:
            per_layer.update(h.layer_stats(f"queries.{name}", f"trace:queries.{name}"))
        per_layer.update(h.layer_stats("ingest", "trace:ingest"))
    m = h.group_metrics(*(f"pass0:queries.{n}" for n in QUERIES))
    return {
        "correct": failed == 0 and f1 > 0,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {
            "setup_s": setup_s,
            "wall_s": wall,
            "records_per_s": (n_docs + n_vecs) / wall,
            "cpu_s": m.cpu_s,
            "peak_task_mem_mb": m.peak_task_mem_mb,
            "pairwise_f1": f1,
        },
        "per_layer": per_layer,
    }
