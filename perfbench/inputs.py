"""Seeded benchmark inputs and their references, made outside the measured process.

    python3 perfbench/inputs.py --workload fanout_write --seed 1 --size 200000 --splits 8 --out DIR

Every input is generated once per (workload kind, seed, size, splits,
generator source) and cached under ``.perfbench_work/inputs/``; a run reuses a cached input and
reports the generation time (0 on a hit) apart from set-up time.  The
flagship telemetry is generated by Spark in a child process, so the measured
JVM always starts cold, whether the cache hit or not; the documents are
plain Python.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

# Share of flagship rows (per mille) whose raw line is rewritten so grok's
# no-match path runs: NULL, empty, or truncated before the trailing ``k=``
# field (the anchored pattern then fails, and every parsed field is NULL).
MALFORMED_PER_MILLE = {"null": 4, "empty": 4, "truncated": 12}

BENCH_MAX_ID = 64  # documents with doc_id < 64 form the decontamination bench set
DUP_BLOCK = 100  # each exact duplicate copies the first corpus document of its block
BOILERPLATES = 4  # variants; ~20 % of documents end with one (df ≈ docs / 20)
CACHE_KEEP = 12  # cached inputs kept per kind; the least recently used beyond this are deleted
GEN_TIMEOUT_S = 170


@dataclass
class Input:
    path: str  # parquet directory, written as several files so each core gets several scan tasks
    rows: int
    seed: int
    reference: dict


def cached(cache_dir: str, workload: str, seed: int, size: int, splits: int) -> tuple[Input, float]:
    """The input for (workload kind, seed, size, splits, generator) and the seconds spent
    generating it (0.0 when it was cached)."""
    kind = "documents" if workload == "corpus_prep" else "telemetry"
    entry = os.path.join(cache_dir, f"{kind}-s{seed}-n{size}-p{splits}-{_generator_digest()}")
    ref_path = os.path.join(entry, "reference.json")  # written last: its presence marks a complete entry
    t0 = time.perf_counter()
    if not os.path.exists(ref_path):
        shutil.rmtree(entry, ignore_errors=True)
        _evict(cache_dir, kind, keep=CACHE_KEEP - 1)
        if kind == "telemetry":
            from perfbench import host

            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed),
                   "--size", str(size), "--splits", str(splits), "--out", entry]
            subprocess.run(cmd, check=True, timeout=GEN_TIMEOUT_S, stdout=subprocess.DEVNULL,
                           preexec_fn=host.end_with_parent)
        else:
            documents(entry, seed, size, splits)
        os.sync()  # its writeback belongs to generation, not to the measured run
    gen_s = time.perf_counter() - t0
    os.utime(entry)  # least recently used goes first
    with open(ref_path) as f:
        reference = json.load(f)
    return Input(os.path.join(entry, "data"), size, seed, reference), gen_s


def _generator_digest() -> str:
    """Part of every cache key: a changed generator never reads an old input."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.sha256()
    for path in (__file__, os.path.join(root, "opentelemetry_collector_spark", "sources", "synthetic.py")):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _evict(cache_dir: str, kind: str, keep: int) -> None:
    os.makedirs(cache_dir, exist_ok=True)
    entries = sorted((os.path.join(cache_dir, e) for e in os.listdir(cache_dir) if e.startswith(kind + "-")),
                     key=os.path.getmtime)
    for e in entries[: max(0, len(entries) - keep)]:
        shutil.rmtree(e, ignore_errors=True)


def _write_reference(entry: str, reference: dict) -> None:
    path = os.path.join(entry, "reference.json")
    with open(path + ".tmp", "w") as f:
        json.dump(reference, f)
    os.replace(path + ".tmp", path)


# ---- flagship telemetry ---------------------------------------------------
def telemetry(spark, entry: str, seed: int, rows: int, splits: int) -> None:
    """``gen_telemetry`` records (default zipf sources) with a fixed share of
    malformed raw lines, plus the DuckDB reference for the default ``PipelineSpec``."""
    import pyspark.sql.functions as F

    from opentelemetry_collector_spark.plans.pipeline import PipelineSpec
    from opentelemetry_collector_spark.sources.synthetic import gen_telemetry

    data_dir = os.path.join(entry, "data")
    bad = F.pmod(F.xxhash64(F.lit(seed), F.col("doc_id"), F.lit("malformed")), F.lit(1000))
    n_null, n_empty, n_trunc = (MALFORMED_PER_MILLE[k] for k in ("null", "empty", "truncated"))
    raw = (
        F.when(bad < n_null, F.lit(None).cast("string"))
        .when(bad < n_null + n_empty, F.lit(""))
        .when(bad < n_null + n_empty + n_trunc, F.regexp_replace("raw", r" k=\d+$", ""))
        .otherwise(F.col("raw"))
    )
    gen_telemetry(spark, rows, seed=seed, partitions=splits).withColumn("raw", raw).write.parquet(data_dir)
    _write_reference(entry, flagship_reference(data_dir, PipelineSpec()))


def flagship_reference(data_dir: str, spec) -> dict:
    """Expected per-source counts, first-match per-sink counts and grok
    no-match count, computed by DuckDB from the generated parquet."""
    regex = spec.grok.java_regex.replace("'", "''")
    level = spec.grok.group_index["level"]
    route = " ".join(
        f"WHEN {r.predicate} THEN '{r.sink}'" for r in sorted(spec.routes, key=lambda r: r.priority)
    )
    con = duckdb.connect()
    try:
        con.execute(
            f"""CREATE TEMP VIEW p AS SELECT source, n_tok,
                   coalesce(regexp_matches(raw, '{regex}'), false) AS matched,
                   nullif(regexp_extract(raw, '{regex}', {level}), '') AS level
                FROM read_parquet('{data_dir}/*.parquet')"""
        )
        by_source = con.execute(
            "SELECT source, count(*), CAST(sum(n_tok) AS BIGINT) FROM p GROUP BY 1"
        ).fetchall()
        by_sink = con.execute(
            f"SELECT CASE {route} END AS sink, count(*), CAST(sum(n_tok) AS BIGINT) FROM p GROUP BY 1"
        ).fetchall()
        nomatch = con.execute("SELECT count(*) FROM p WHERE NOT matched").fetchone()[0]
    finally:
        con.close()
    return {
        "source_counts": {s: [n, t] for s, n, t in by_source},
        "sink_counts": {s: [n, t] for s, n, t in by_sink},
        "nomatch": nomatch,
    }


# ---- corpus documents -----------------------------------------------------
def _words(seed: int, doc: int) -> list[str]:
    r = random.Random(f"{seed}:{doc}")
    # a crude zipf: word id is a product of two uniforms over 0..223
    return [f"w{r.randrange(224) * r.randrange(224)}" for _ in range(40 + r.randrange(81))]


def _text(seed: int, doc: int) -> str:
    """A document's text.  Only corpus documents (doc >= BENCH_MAX_ID) carry
    boilerplate or bench quotes: a bench document with boilerplate would get
    every corpus document with the same boilerplate decontaminated."""
    words = _words(seed, doc)
    if doc >= BENCH_MAX_ID:
        bp = random.Random(f"{seed}:bp:{doc}").randrange(5 * BOILERPLATES)
        if bp < BOILERPLATES:  # ~20 % end with a shared 12-word boilerplate
            words += [f"bp{j}x{bp}" for j in range(12)]
        if doc % 101 == 7:  # ~1 % quote 10 words of a bench document: decontamination removes them
            words += _words(seed, doc % BENCH_MAX_ID)[:10]
    return " ".join(words)


def _near_copy(seed: int, doc: int, copy: int) -> str:
    """``doc``'s text with three words replaced: 3-gram Jaccard about 0.8."""
    words = _text(seed, doc).split()
    r = random.Random(f"{seed}:near:{copy}")
    for _ in range(3):
        words[r.randrange(len(words))] = f"n{r.randrange(10**6)}"
    return " ".join(words)


def documents(entry: str, seed: int, docs: int, splits: int) -> None:
    """(doc_id, text, source) in the shape of the corpus scale probe: 40-120
    words, ~20 % shared boilerplate (few variants, so its dup-span df passes
    max_df=64 at this size), ~1 % quoting the bench set of doc_id <
    BENCH_MAX_ID, and copies of the first corpus document of their
    DUP_BLOCK-id block: ~3 % exact (removed by exact dedup) and ~2 % with
    three words changed (found by minhash-LSH and verify, removed through
    connected components).  Neither copies nor originals are bench
    documents, so no copy is decontaminated instead."""

    def text(i: int) -> str:
        canon = max(i - i % DUP_BLOCK, BENCH_MAX_ID)
        if i < BENCH_MAX_ID or i == canon:
            return _text(seed, i)
        if i % 37 == 5:
            return _text(seed, canon)
        if i % 53 == 11:
            return _near_copy(seed, canon, i)
        return _text(seed, i)

    ids = list(range(docs))
    text = [text(i) for i in ids]
    source = [f"src{random.Random(f'{seed}:s:{i}').randrange(4)}" for i in ids]
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": text, "source": source})
    data_dir = os.path.join(entry, "data")
    os.makedirs(data_dir)
    step = -(-docs // splits)
    for k in range(splits):
        pq.write_table(table.slice(k * step, step), os.path.join(data_dir, f"part-{k:03d}.parquet"))
    _write_reference(entry, {"bench_max_id": BENCH_MAX_ID})


def main() -> int:
    """Generate one flagship input into ``--out`` (run by ``cached`` as a child process)."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", type=int, required=True)
    ap.add_argument("--splits", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench import host, run

    run.configure_environment()
    with host.owned_processes():
        spark = run.start_session(host.nproc())
        try:
            telemetry(spark, args.out, args.seed, args.size, args.splits)
        finally:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
