"""The benchmark's workloads: one timed pass each, and the checks on its outputs.

A pass calls the program the way its jobs do (``jobs/pipeline_job.py`` with
and without ``--output``, ``jobs/corpus_prep_job.py``).  ``check`` returns
one boolean per name in ``CHECKS``; the harness scores a pass that raised as
all of its checks failed.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pyspark.sql.functions as F

from opentelemetry_collector_spark.plans.pipeline import PipelineSpec, run_pipeline
from opentelemetry_collector_spark.sources.synthetic import gen_lookup
from opentelemetry_collector_spark.sources.tableio import ParquetSnapshotIO
from perfbench import inputs


def collect_counts(df, key: str) -> dict[str, list[int]]:
    """An obsreport counts frame as {key: [n_rows, n_tok_sum]}."""
    return {r[key]: [int(r["n_rows"]), int(r["n_tok_sum"])] for r in df.collect()}


def parquet_files(root: str) -> list[str]:
    return [
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    ]


EXPECTED_DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_digests.json")


def output_digest(con) -> str:
    """sha256 over corpus_prep's three outputs (views in ``con``), rows in a fixed order."""
    digest = hashlib.sha256()
    for name, order in (("kept", "doc_id"), ("packed", "source, salt, pack_id"), ("stats", "split, source")):
        for row in con.execute(f"SELECT * FROM {name} ORDER BY {order}").fetchall():
            digest.update(repr(row).encode())
    return digest.hexdigest()


class Flagship:
    """parse → enrich → route → aggregate, optionally with the fan-out write."""

    # At 500 k rows the cold first pass is ~2x the second, and the second is
    # still ~1.25x the passes after it.  Two warm-up passes (in setup_s) put
    # the timed passes near the flat part of the JVM's warm-up curve: over
    # five seeds the spread of rows_per_s fell from 0.10 with one to 0.08.
    WARMUP_PASSES = 2

    def __init__(self, name: str, write: bool, rows: int):
        self.name = name
        self.write = write
        self.rows = rows
        self.spec = PipelineSpec()
        self.lookup = None
        self.CHECKS = ["source_counts", "sink_counts", "conservation"] + (
            ["written_rows", "written_nomatch", "manifests", "lineage"] if write else []
        )

    def open(self, spark) -> None:
        self.lookup = gen_lookup(spark)

    def run(self, spark, inp: inputs.Input, out_dir: str, run_id: str) -> dict:
        records = spark.read.parquet(inp.path)
        io = ParquetSnapshotIO(out_dir) if self.write else None
        out = run_pipeline(spark, records, self.lookup, spec=self.spec, io=io, run_id=run_id)
        if io is None:
            out["tagged"].write.format("noop").mode("overwrite").save()
        return {
            "source_counts": collect_counts(out["source_counts"], self.spec.source_col),
            "sink_counts": collect_counts(out["sink_counts"], "sink"),
            "out_dir": out_dir,
            "run_id": run_id,
        }

    def sinks(self) -> list[str]:
        return [r.sink for r in sorted(self.spec.routes, key=lambda r: r.priority)]

    def check(self, inp: inputs.Input, got: dict) -> dict[str, bool]:
        ref = inp.reference
        snk = got["sink_counts"]
        result = {
            "source_counts": got["source_counts"] == ref["source_counts"],
            "sink_counts": snk == ref["sink_counts"],
            "conservation": sum(n for n, _ in snk.values())
            == sum(n for n, _ in got["source_counts"].values())
            == inp.rows,
        }
        if self.write:
            result.update(self._check_written(inp, got["out_dir"], got["run_id"]))
        return result

    def _check_written(self, inp: inputs.Input, out_dir: str, run_id: str) -> dict[str, bool]:
        ref = inp.reference
        data = f"{out_dir}/_fanout/data/group={run_id}"
        metrics = f"{out_dir}/_metrics/data/group={run_id}-metrics"
        con = duckdb.connect()
        try:
            written = con.execute(
                f"""SELECT sink, count(*), CAST(sum(n_tok) AS BIGINT),
                           count(*) FILTER (WHERE level IS NULL)
                    FROM read_parquet('{data}/*/*.parquet', hive_partitioning = true)
                    GROUP BY sink"""
            ).fetchall()
            lineage = con.execute(
                f"""SELECT substr(stage, 9), rows_out FROM read_parquet('{metrics}/*.parquet')
                    WHERE stage LIKE 'lineage:%'"""
            ).fetchall()
        finally:
            con.close()
        io = ParquetSnapshotIO(out_dir)
        return {
            "written_rows": {s: [n, t] for s, n, t, _ in written} == ref["sink_counts"],
            "written_nomatch": sum(x for *_, x in written) == ref["nomatch"],
            "manifests": all(run_id in io.committed_groups(s) for s in self.sinks())
            and f"{run_id}-metrics" in io.committed_groups("_metrics"),
            "lineage": {s: [n] for s, n in lineage}
            == {s: [n] for s, (n, _) in ref["sink_counts"].items()},
        }

    def cleanup(self, spark) -> None:
        pass


class CorpusPrep:
    """``jobs.corpus_prep_job.build`` written as kept, packed and stats parquet."""

    name = "corpus_prep"
    # No warm-up: the job is a batch run once per process, so its users pay
    # the cold pass (JIT and Catalyst warm-up of ~80 jobs, ~2x a warm pass)
    # every time.  Warm passes also keep speeding up for five or more passes,
    # so no affordable warm-up reaches a flat part of the curve.
    WARMUP_PASSES = 0
    MAX_LEN = 512
    OUTPUTS = ("kept", "packed", "stats")
    CHECKS = [
        "packs_within_max_len",
        "packed_docs_are_kept",
        "token_and_doc_sums",
        "kept_unique_subset",
        "readback_counts",
        "same_as_recorded",
    ]

    def __init__(self, docs: int):
        self.rows = docs
        with open(EXPECTED_DIGESTS) as f:
            self.expected = json.load(f)

    def digest_key(self, seed: int) -> str:
        # The outputs do not depend on the core count: seed 0 gave the same
        # digest with 4 input splits and shuffle partitions as with 8.
        return f"docs={self.rows}/seed={seed}"

    def open(self, spark) -> None:
        pass

    def split_input(self, spark, inp: inputs.Input):
        d = spark.read.parquet(inp.path)
        bench_max = inp.reference["bench_max_id"]
        return d.filter(F.col("doc_id") >= bench_max), d.filter(F.col("doc_id") < bench_max)

    def run(self, spark, inp: inputs.Input, out_dir: str, run_id: str) -> dict:
        from jobs.corpus_prep_job import build

        corpus, bench = self.split_input(spark, inp)
        out = build(spark, corpus, bench, max_len=self.MAX_LEN)
        return {"out_dir": out_dir, "counts": self.write_outputs(spark, out, out_dir)}

    def write_outputs(self, spark, out: dict, out_dir: str) -> dict[str, int]:
        """Write and count back each output, as the job's ``main`` does."""
        counts = {}
        for name in self.OUTPUTS:
            path = os.path.join(out_dir, name)
            out[name].write.mode("overwrite").parquet(path)
            counts[name] = spark.read.parquet(path).count()
        return counts

    def check(self, inp: inputs.Input, got: dict) -> dict[str, bool]:
        out_dir = got["out_dir"]
        con = duckdb.connect()
        try:
            for name in self.OUTPUTS:
                con.execute(
                    f"CREATE TEMP VIEW {name} AS SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"
                )
            over_len = con.execute(
                f"SELECT count(*) FROM packed WHERE n_tok > {self.MAX_LEN} OR len(tokens) <> n_tok"
            ).fetchone()[0]
            packed_ids = con.execute(
                "SELECT count(*), count(DISTINCT d) FROM (SELECT unnest(doc_ids) AS d FROM packed)"
            ).fetchone()
            id_diff = con.execute(
                """SELECT count(*) FROM (
                     (SELECT unnest(doc_ids) FROM packed EXCEPT SELECT CAST(doc_id AS VARCHAR) FROM kept)
                     UNION ALL
                     (SELECT CAST(doc_id AS VARCHAR) FROM kept EXCEPT SELECT unnest(doc_ids) FROM packed))"""
            ).fetchone()[0]
            sums = con.execute(
                """SELECT (SELECT sum(n_tok) FROM stats), (SELECT sum(n_tok) FROM packed),
                          (SELECT sum(len(tokens)) FROM packed), (SELECT sum(n_docs) FROM stats),
                          (SELECT sum(n_packs) FROM stats), (SELECT count(*) FROM packed)"""
            ).fetchone()
            kept = con.execute(
                "SELECT count(*), count(DISTINCT doc_id), min(doc_id), max(doc_id) FROM kept"
            ).fetchone()
            counts = {n: con.execute(f"SELECT count(*) FROM {n}").fetchone()[0] for n in self.OUTPUTS}
            digest = output_digest(con)
        finally:
            con.close()
        got["digest"] = digest
        n_kept, n_distinct, lo, hi = kept
        result = {
            "packs_within_max_len": over_len == 0,
            "packed_docs_are_kept": packed_ids[0] == packed_ids[1] == n_kept and id_diff == 0,
            "token_and_doc_sums": sums[0] == sums[1] == sums[2] and sums[3] == n_kept and sums[4] == sums[5],
            "kept_unique_subset": n_kept == n_distinct
            and n_kept > 0
            and lo >= inp.reference["bench_max_id"]
            and hi < inp.rows,
            "readback_counts": counts == got["counts"],
        }
        # Outputs must be identical across runs of one seed: compared with the
        # digest recorded for this seed (record_digests.py).  A seed without a
        # recorded digest leaves the check unattempted, never passed.
        expected = self.expected.get(self.digest_key(inp.seed))
        if expected is not None:
            result["same_as_recorded"] = digest == expected
        return result

    def cleanup(self, spark) -> None:
        spark.catalog.clearCache()  # build persists frames; free them between passes
