"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (size, seed) and is written to parquet
before anything is timed; the program under test only ever reads those files.
Generation runs in this process with numpy/pyarrow, not as a Spark job, so
set-up time is not mixed with the session's first-job warm-up.

link_batch: the rows ``synth_repo_files(rows, seed)`` (the repo's own fixture
generator) yields, built with the fixture's per-id row function, plus a
planted skew tail. The tail makes the salted and chained key tiers run with
families of a known size on every seed. Each tail family is one base file
plus members that append a single unique token, so every member shares the
family's prefix key and ~98% share each of its MinHash band keys: families of
90-100 members give keys in the salted tier (64 < n <= 512), families of
660-670 members give keys in the chained tier (n > 512). Every tenth member is
an exact copy of the base, which the exact-content collapse absorbs.

The micro-batch stream (link_stream.py, in query_mix's traced run) is a
second, smaller ``synth_repo_files`` table (seed + 1) split into batches by a
hash of ``commit``, processed in batch order.

query_mix: the ``documents`` and ``embeddings`` tables the queries read: word
soup over a 30-word vocabulary with planted " dup" near-duplicates, and
unit-norm 64-d float32 vectors around ten label centroids.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "alpha beta gamma delta query scan merge sort hash join filter window "
    "batch stream vector column row table index shard lease token bucket "
    "salt probe spill codec frame stage task slot"
).split()

# members per family: two in the salted tier, two in the chained tier (the
# sizes are fixed so that every seed does the same amount of work)
FAMILY_SIZES = (100, 90, 670, 660)


def _family_base(rng: np.random.Generator, fam: int, seed: int) -> str:
    # ~200 tokens: one appended token then changes each MinHash value with
    # probability ~1/200, so ~98% of a family shares each of its band keys
    lines = [f"package fam{fam}x{seed}", ""]
    for k in range(12 + int(rng.integers(0, 3))):
        a, b, c, d = (WORDS[i] for i in rng.integers(0, len(WORDS), 4))
        lines += [
            f"func {a}_{b}{k}({c} int, {d} int) int {{",
            f"    return {c} * {int(rng.integers(2, 97))} + {d}",
            "}",
            "",
        ]
    return "\n".join(lines)


def skew_tail(seed: int) -> pd.DataFrame:
    """The planted skew families: repo_files columns plus group_id."""
    rng = np.random.default_rng([seed, 0x5EED])
    rows = []
    for fam, size in enumerate(FAMILY_SIZES):
        base = _family_base(rng, fam, seed)
        for j in range(size):
            content = base if j % 10 == 0 else f"{base}// rev{j}x{fam}\n"
            rows.append(
                (
                    f"tailorg/fam{fam}",
                    f"src/fam{fam}/m{j}.go",
                    f"{seed:08x}{fam:04x}{j:028x}",
                    "go",
                    content,
                    f"t{fam}",
                )
            )
    return pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content", "group_id"]
    )


def _fixture_rows(rows: int, seed: int) -> pd.DataFrame:
    """What synth_repo_files(spark, rows, seed, with_truth=True) yields: the
    fixture builds each row from its id alone, so one call over every id
    gives the same table without a Spark job."""
    from bela_spark.fixtures import _rows_for_ids

    return _rows_for_ids(np.arange(rows), rows, seed)


def record_ids(repos, paths, commits) -> list[str]:
    """Record ids as the pipeline computes them: sha256(repo||path||commit)."""
    return [
        hashlib.sha256(f"{r}||{p}||{c}".encode()).hexdigest()
        for r, p, c in zip(repos, paths, commits)
    ]


def _write(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False), os.path.join(path, "part-0.parquet")
    )


def write_repo_files(rows: int, seed: int, out_dir: str) -> tuple[str, str]:
    """Materialize the link_batch input: (repo_files dir, truth dir).

    The repo_files table holds exactly the five contract columns; the truth
    table maps each record id (sha256 of repo||path||commit, as the pipeline
    computes it) to its planted group."""
    full = pd.concat([_fixture_rows(rows, seed), skew_tail(seed)], ignore_index=True)
    files = os.path.join(out_dir, "repo_files")
    truth = os.path.join(out_dir, "truth")
    _write(full.drop(columns="group_id"), files)
    rid = record_ids(full["repo"], full["path"], full["commit"])
    _write(pd.DataFrame({"rid": rid, "group_id": full["group_id"]}), truth)
    return files, truth


def write_stream_batches(rows: int, n_batches: int, seed: int, out_dir: str) -> list[str]:
    """The micro-batch sequence: synth_repo_files(rows, seed + 1) split into
    n_batches repo_files dirs by sha256(commit) mod n_batches, in batch order."""
    df = _fixture_rows(rows, seed + 1).drop(columns="group_id")
    part = np.array(
        [int(hashlib.sha256(c.encode()).hexdigest()[:8], 16) % n_batches for c in df["commit"]]
    )
    dirs = []
    for b in range(n_batches):
        d = os.path.join(out_dir, f"batch{b}")
        _write(df[part == b], d)
        dirs.append(d)
    return dirs


DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def write_query_tables(n_docs: int, n_vecs: int, seed: int, out_dir: str) -> str:
    """Write documents.parquet and embeddings.parquet into out_dir."""
    rng = np.random.default_rng([seed, 0xD0C5])
    texts, langs, sources = [], [], []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.06:
            j = int(rng.integers(0, i))
            if not texts[j].endswith(" dup"):
                texts.append(texts[j] + " dup")
                langs.append(langs[j])
                sources.append(sources[j])
                continue
        n = int(rng.integers(8, 90))
        texts.append(" ".join(DOC_WORDS[k] for k in rng.integers(0, len(DOC_WORDS), n)))
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
        sources.append(f"src{int(rng.integers(0, 20))}")
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": langs,
            "source": sources,
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    centroids = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centroids[labels] + rng.normal(scale=0.8, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return out_dir
