"""Workload link_batch: run_linkage(LinkageConfig.at_scale(), collapse_exact=True)
over a seeded repo_files parquet table, through the cluster count.

Set-up: session start and input generation (median of several). A run times
exactly one pass, the first in a fresh session, which is what a batch job
pays; a warm-up pass plus a timed one does not fit the run's time budget, so
--seconds does not add passes. Untimed after the pass:

- pairwise F1 of the final clusters against every planted pair (pairs are
  counted per cluster, per planted group and per (cluster, group), so a
  planted pair that blocking never produced counts as a miss) must reach
  F1_FLOOR, and the recall of the planted pairs in small groups must reach
  SMALL_RECALL_FLOOR;
- the clusters are recomputed in plain Python from the scored pairs
  (exact-content collapse + connected components of the accepted edges);
- every input row gets one cluster, and both the salted and the chained key
  tiers ran.

The traced run makes a cold warm-up pass over the smoke-size input, then a
warm traced pass and a warm untraced pass over the full one. The traced pass
re-creates run_linkage's sequence of calls, one layer per job-group span,
materializing each layer's output before the next starts; the overhead is
its wall time minus the warm untraced pass's. Both passes must produce the
same outcome. Three spans (pipeline.records' exact collapse, pairs' counts join,
pipeline.assign's representative join) copy code run_linkage holds inline;
RUN_LINKAGE_AST_SHA pins the run_linkage those copies were taken from, and
the traced run fails when run_linkage's code differs from it.
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import re
import textwrap
import time
import traceback
from dataclasses import dataclass

from harness import Harness, log, median

ROWS, SMOKE_ROWS = 16000, 600
GEN_REPEATS = 3
# measured at HEAD over 16k-row inputs: F1 0.94-1.00 (a split heavy group
# costs a few points), small-group recall 0.87-0.89
F1_FLOOR = 0.85
# the fixture's ordinary duplicate groups have four members; its heavy groups
# and the planted families have dozens to hundreds
SMALL_GROUP = 8
SMALL_RECALL_FLOOR = 0.8
# run_linkage's code (AST without its docstring, so comments and docs may
# change) when traced_pass was last re-synced with it
RUN_LINKAGE_AST_SHA = "c8b2e8d7697cb36d"


@dataclass(frozen=True)
class Outcome:
    """What a pass produced, compared exactly against the reference."""

    n_scored: int
    scored_digest: int
    n_rows: int
    n_clusters: int
    cluster_digest: int
    keys_salted: int
    keys_chained: int


def _digest_scored(scored):
    from pyspark.sql import functions as F

    r = scored.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("id1", "id2", "score")).alias("d"),
    ).first()
    return r["n"], r["d"]


def _digest_clusters(clusters):
    from pyspark.sql import functions as F

    r = clusters.agg(
        F.count("*").alias("n"),
        F.countDistinct("cluster_id").alias("c"),
        F.bit_xor(F.xxhash64("rid", "cluster_id")).alias("d"),
    ).first()
    return r["n"], r["c"], r["d"]


def _tiers(key_log) -> tuple[int, int]:
    strat = {r["strategy"]: r["count"] for r in key_log.groupBy("strategy").count().collect()}
    return strat.get("salted", 0), strat.get("chained", 0)


def linkage_pass(spark, files: str, cfg):
    """One untraced pass: the public entry point, then the outputs a caller
    reads (scored pairs, clusters, key tiers)."""
    from bela_spark.pipeline import run_linkage
    from bela_spark.sources import read_repo_files

    run = run_linkage(read_repo_files(spark, "parquet:" + files), cfg, collapse_exact=True)
    n_scored, sd = _digest_scored(run.scored)
    n_rows, n_clusters, cd = _digest_clusters(run.clusters)
    salted, chained = _tiers(run.key_drops)
    return Outcome(n_scored, sd, n_rows, n_clusters, cd, salted, chained), run


def traced_pass(
    h: Harness, files: str, cfg, prefix: str
) -> tuple[Outcome, dict[str, float]]:
    """run_linkage(cfg, collapse_exact=True, persist=True), call by call,
    with each layer materialized inside the span `<prefix><layer>`. Returns
    the outcome and the per-layer counts. The `<prefix>counts` span holds
    extra jobs that only compute counts; it is not part of the pass."""
    from pyspark.sql import functions as F

    from bela_spark.config import LinkageConfig
    from bela_spark.operators.blocking import blocking_keys
    from bela_spark.operators.cc import connected_components
    from bela_spark.operators.pairs import COUNTS_BROADCAST_MAX_KEYS
    from bela_spark.operators.scoring import accept_edges, dedup_scored, fused_block_and_score
    from bela_spark.pipeline import pair_stage_features, prepare_records
    from bela_spark.sources import read_repo_files

    spark = h.spark
    c: dict[str, float] = {}
    with h.span(f"{prefix}sources"):
        df = read_repo_files(spark, "parquet:" + files).persist()
        n_rows = df.count()
    with h.span(f"{prefix}pipeline.records"):
        records = prepare_records(df, cfg).persist()
        ck = F.coalesce(F.md5("norm"), F.lit("\0"))
        reps = records.groupBy(ck.alias("_ck")).agg(F.min("rid").alias("rep"))
        records = (
            records.withColumn("_ck", ck)
            .join(reps.hint("shuffle_hash"), "_ck")
            .drop("_ck")
            .persist()
        )
        base = records.filter(F.col("rid") == F.col("rep"))
        n_base = base.count()
    c["pipeline.records.collapse_ratio"] = n_base / n_rows
    with h.span(f"{prefix}blocking"):
        keys_slim = blocking_keys(base, cfg, dedup=False).persist()
        n_keys = keys_slim.count()
    c["blocking.keys_per_record"] = n_keys / n_base
    with h.span(f"{prefix}pairs"):
        multi = (
            keys_slim.groupBy("key")
            .agg(F.count("*").alias("_kn"))
            .filter(F.col("_kn") >= 2)
            .persist()
        )
        n_multi = multi.count()
        cnt = multi.withColumnRenamed("key", "_kwc_key")
        cnt = F.broadcast(cnt) if n_multi <= COUNTS_BROADCAST_MAX_KEYS else cnt.hint("shuffle_hash")
        keys = (
            keys_slim.join(cnt, F.col("key").eqNullSafe(F.col("_kwc_key")))
            .drop("_kwc_key")
            .persist()
        )
        keys.count()
    c["pairs.multi_keys"] = n_multi
    with h.span(f"{prefix}idf"):
        feats = pair_stage_features(base, cfg).persist()
        feats.count()
    with h.span(f"{prefix}counts"):
        c["idf.vocab_tokens"] = (
            pair_stage_features(base, LinkageConfig())
            .select(F.explode("tokens").alias("t"))
            .distinct()
            .count()
        )
    with h.span(f"{prefix}scoring"):
        kwf = keys.join(feats.hint("merge"), "rid").persist()
        by_key, key_log = fused_block_and_score(
            kwf, cfg, use_cosine=False, persist=True, counts_attached=True
        )
        by_key = by_key.persist()
        n_by_key = by_key.count()
        scored = dedup_scored(by_key).persist()
        n_scored, sd = _digest_scored(scored)
        edges = accept_edges(scored, cfg).persist()
        n_edges = edges.count()
        salted, chained = _tiers(key_log)
    c.update(
        {
            "scoring.pairs_by_key": n_by_key,
            "scoring.unique_pairs": n_scored,
            "scoring.dedup_ratio": n_scored / max(n_by_key, 1),
            "scoring.accept_ratio": n_edges / max(n_scored, 1),
            "scoring.keys_salted": salted,
            "scoring.keys_chained": chained,
            "cc.edges_in": n_edges,
        }
    )
    with h.span(f"{prefix}cc"):
        cc = connected_components(
            edges, max_rounds=cfg.max_cc_rounds, checkpoint_dir=cfg.checkpoint_dir
        )
        assignments = cc.assignments.persist()
        assignments.count()
    c["cc.rounds"] = cc.rounds
    with h.span(f"{prefix}pipeline.assign"):
        clusters = (
            records.join(assignments.withColumnRenamed("rid", "rep").hint("merge"), "rep", "left")
            .withColumn("cluster_id", F.coalesce("component", "rep"))
            .drop("component", "rep")
        )
        n_cl_rows, n_clusters, cd = _digest_clusters(clusters)
    spark.catalog.clearCache()
    return Outcome(n_scored, sd, n_cl_rows, n_clusters, cd, salted, chained), c


def run_linkage_sha() -> str:
    from bela_spark.pipeline import run_linkage

    fn = ast.parse(textwrap.dedent(inspect.getsource(run_linkage))).body[0]
    body = fn.body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        fn.body = body[1:]
    return hashlib.sha256(ast.dump(fn).encode()).hexdigest()[:16]


def _pairs(counts) -> int:
    return int(sum(n * (n - 1) // 2 for n in counts))


def cluster_scores(clusters: dict, truth: str) -> tuple[float, float]:
    """(micro pairwise F1 of the final clusters against every planted pair,
    recall of the planted pairs in groups of at most SMALL_GROUP members).
    A pair of rows is predicted when they share a cluster and true when they
    share a planted group. The skew families hold most planted pairs, so the
    F1 alone would hardly move if every small group were lost; the second
    figure watches those."""
    import pandas as pd
    import pyarrow.parquet as pq

    t = pq.read_table(truth).to_pandas()
    t["cluster_id"] = t["rid"].map(clusters)
    hits = t.groupby(["cluster_id", "group_id"]).size()
    predicted = _pairs(pd.Series(list(clusters.values())).value_counts())
    sizes = t["group_id"].value_counts()
    f1 = 2 * _pairs(hits) / max(predicted + _pairs(sizes), 1)
    small = sizes.index[sizes <= SMALL_GROUP]
    small_hits = hits[hits.index.get_level_values("group_id").isin(small)]
    return f1, _pairs(small_hits) / max(_pairs(sizes[small]), 1)


def min_components(nodes, edges) -> dict:
    """{node: the smallest node of its connected component}, over `nodes` and
    every endpoint of `edges` (union-find)."""
    parent = {n: n for n in nodes}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in list(parent)}


def check_run(run, files: str, threshold: float) -> tuple[dict, list[str]]:
    """Recompute in plain Python what the pipeline derives from its scored
    pairs: one representative per distinct normalized content, and clusters
    = connected components of the accepted edges over representatives, each
    named by its minimum member id. Returns ({rid: cluster_id} as the
    pipeline produced it, mismatches found)."""
    import pyarrow.parquet as pq

    problems = []
    contents = pq.read_table(files, columns=["content"]).column("content").to_pylist()
    n_norms = len({re.sub(r"[^a-z0-9]+", " ", c.lower()).strip() for c in contents})
    rep_of = dict(run.records.select("rid", "rep").collect())
    reps = set(rep_of.values())
    if len(reps) != n_norms:
        problems.append(f"{len(reps)} representatives for {n_norms} distinct contents")
    accepted = run.scored.filter(run.scored["score"] >= threshold).select("id1", "id2")
    component = min_components(reps, accepted.collect())
    got = dict(run.clusters.select("rid", "cluster_id").collect())
    wrong = sum(got.get(rid) != component[rep] for rid, rep in rep_of.items())
    if wrong or len(got) != len(rep_of):
        problems.append(f"{wrong} of {len(rep_of)} records in the wrong cluster")
    return got, problems


def run(h: Harness, seed: int) -> dict:
    from bela_spark.config import LinkageConfig

    from inputs import write_repo_files

    cfg = LinkageConfig.at_scale()
    session_s = h.start_session()
    spark = h.spark

    rows = SMOKE_ROWS if h.smoke else ROWS
    gen_s = []
    for i in range(GEN_REPEATS):
        t0 = time.perf_counter()
        files, truth = write_repo_files(rows, seed, h.subdir(f"input{i}"))
        gen_s.append(time.perf_counter() - t0)
    n_records = spark.read.parquet(files).count()
    setup_s = session_s + median(gen_s)
    log(f"setup: session {session_s:.2f}s, inputs {[round(g, 3) for g in gen_s]}")

    attempted = failed = 0
    outcomes: dict[str, Outcome] = {}

    def timed_pass(group: str, traced: bool):
        nonlocal attempted, failed
        attempted += 1
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            if traced:
                outcome, counts = traced_pass(h, files, cfg, group)
                run = None
            else:
                with h.span(group):
                    outcome, run = linkage_pass(spark, files, cfg)
                counts = {}
        except Exception:
            log(traceback.format_exc())
            failed += 1
            return None, None, {}
        wall = time.perf_counter() - t0 - h.walls.get(f"{group}counts", 0.0)
        outcomes[group] = outcome
        log(f"pass {group} {wall:.3f}s {outcome}")
        return wall, run, counts

    per_layer: dict[str, float] = {}
    problems = []
    if not h.trace:
        wall, run, _ = timed_pass("pass0", traced=False)
    else:
        sha = run_linkage_sha()
        if sha != RUN_LINKAGE_AST_SHA:
            problems.append(
                f"pipeline.run_linkage changed (code hash {sha}, traced_pass copies "
                f"{RUN_LINKAGE_AST_SHA}): re-sync traced_pass's inline copies, then "
                "RUN_LINKAGE_AST_SHA"
            )
        # a cold traced pass costs far more than an untraced one (every layer
        # is materialized on its own while the JIT is still cold), so the
        # traced pass runs warm, and the overhead compares it with a warm
        # untraced pass after it. The warm-up is one untraced pass over the
        # smoke-size input (with the same skew tail, so every code path runs),
        # which costs less than a cold pass over the full input.
        warmup, _ = write_repo_files(SMOKE_ROWS, seed, h.subdir("warmup"))
        attempted += 1
        try:
            with h.span("warmup"):
                linkage_pass(spark, warmup, cfg)
        except Exception:
            log(traceback.format_exc())
            failed += 1
        log(f"warm-up {h.walls['warmup']:.3f}s")
        traced_warm, _, per_layer = timed_pass("trace:", traced=True)
        wall, run, _ = timed_pass("warm", traced=False)
        if wall is not None and traced_warm is not None:
            per_layer["trace.overhead_s"] = traced_warm - wall
    wall = wall or 0.0  # a pass that raised is reported through failed

    # every pass of a run must produce the same outcome (a traced pass
    # re-creates run_linkage's calls, so this catches drift between them)
    ref = next(iter(outcomes.values()), None)
    for g, o in outcomes.items():
        if o != ref:
            log(f"pass {g}: outcome differs from the run's first pass")
            failed += 1

    # untimed checks on the last untraced pass (its frames are still cached)
    f1 = 0.0
    t0 = time.perf_counter()
    if ref is None or run is None:
        problems.append("no untraced pass completed")
    else:
        if not (ref.keys_salted > 0 and ref.keys_chained > 0):
            problems.append(f"key tiers not all exercised: {ref}")
        if ref.n_rows != n_records:
            problems.append(f"{ref.n_rows} cluster rows for {n_records} input rows")
        clusters, found = check_run(run, files, cfg.score_threshold)
        problems += found
        f1, small_recall = cluster_scores(clusters, truth)
        if f1 < F1_FLOOR:
            problems.append(f"pairwise F1 {f1:.6f} below {F1_FLOOR}")
        if small_recall < SMALL_RECALL_FLOOR:
            problems.append(
                f"recall {small_recall:.6f} of pairs in groups of <= {SMALL_GROUP} "
                f"below {SMALL_RECALL_FLOOR}"
            )
        log(f"pairwise_f1 {f1:.6f}, small-group recall {small_recall:.6f}")
    log(f"checks {time.perf_counter() - t0:.2f}s")

    if problems:
        failed += 1  # a wrong answer is a failed operation
    for p in problems:
        log(f"check failed: {p}")

    t0 = time.perf_counter()
    h.stop()
    log(f"stop + event log {time.perf_counter() - t0:.2f}s")
    if h.trace:
        from metrics import LINKAGE_LAYERS

        for layer in LINKAGE_LAYERS:
            per_layer.update(h.layer_stats(layer, f"trace:{layer}"))
    m = h.group_metrics("pass0")
    return {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {
            "setup_s": setup_s,
            "wall_s": wall,
            "records_per_s": n_records / wall if wall else 0.0,
            "cpu_s": m.cpu_s,
            "peak_task_mem_mb": m.peak_task_mem_mb,
            "pairwise_f1": f1,
        },
        "per_layer": per_layer,
    }
