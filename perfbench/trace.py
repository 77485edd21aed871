"""The traced run: span attribution, prefix ablation and per-layer metrics.

After the untraced passes, the session is restarted in the same JVM with the
event log on.  Every traced call runs inside a ``Tracer.span``, which sets
the span id as a Spark local property, so the event log ties each job,
stage, task and SQL node to the call that caused it.  Spans are timed on the
driver and kept in memory until the run ends.

Two kinds of traced passes:

- ``job/<k>``: the workload's own pass, unchanged.  Its wall against the
  untraced passes' gives the tracing overhead; its spans give ``spark.*``.
- ``ablate/<k>/<layer>``: the same work re-composed from the program's
  public calls in the job's order, materializing each layer.  For the
  flagship, parse, enrich and route fuse into one codegen stage, so each
  prefix (scan, +grok, +enrich, +route) is run to the ``noop`` sink and a
  layer's self time is the difference between consecutive prefixes.  The
  corpus operators are shuffle-separated, so each one's output is
  checkpointed in turn and its self time is that step's wall.  Each
  composition's outputs go through the workload's checks, and its self times
  must account for the job's wall.

The ablation runs first, so the restarted context is warm when the job
passes are timed.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import statistics
import time
from contextlib import contextmanager

import pyspark.sql.functions as F

from perfbench.eventlog import SPAN_PROP, EventLog
from perfbench.workloads import CorpusPrep, collect_counts, parquet_files

JOB_REPS = 1
FLAGSHIP_ABLATION_REPS = 1
# The ablation materializes what the job fuses or pipelines, so its self times
# need not sum exactly to the job's wall; they must land within this share.
ACCOUNTED_TOLERANCE = 0.5
MIB = 2**20

# Every per-layer metric and its unit.  Layers a workload does not run read 0.
PER_LAYER = {
    "sources.scan.self_s": "s",
    "sources.scan.rows": "count",
    "functions.grok.self_s": "s",
    "functions.grok.match_share": "ratio",
    "operators.enrich.self_s": "s",
    "operators.enrich.hit_share": "ratio",
    "operators.enrich.broadcast_build_s": "s",
    "operators.router.self_s": "s",
    "operators.router.rows.sink_hot": "count",
    "operators.router.rows.sink_warm": "count",
    "operators.router.rows.sink_errors": "count",
    "operators.router.rows.sink_default": "count",
    "operators.aggregates.source_counts_s": "s",
    "operators.aggregates.sink_counts_s": "s",
    "operators.aggregates.shuffle_mb": "MiB",
    "sources.tableio.write_s": "s",
    "sources.tableio.salt_shuffle_mb": "MiB",
    "sources.tableio.commit_s": "s",
    "sources.tableio.files": "count",
    "sources.tableio.bytes_per_row": "B/row",
    "sources.tableio.output_mb": "MiB",
    "plans.pipeline.readback_s": "s",
    "plans.metrics.table_s": "s",
    "operators.dedup.decontam_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_lsh_s": "s",
    "operators.dedup.verify_s": "s",
    "operators.dedup.dup_spans_s": "s",
    "operators.dedup.candidates": "count",
    "operators.dedup.verify_hit_share": "ratio",
    "operators.components.self_s": "s",
    "operators.components.jobs": "count",
    "operators.textstats.gates_s": "s",
    "operators.sampling.split_s": "s",
    "operators.packing.self_s": "s",
    "operators.packing.python_s": "s",
    "operators.packing.fill_share": "ratio",
    "jobs.corpus_prep_job.write_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_p50_s": "s",
    "spark.task_max_s": "s",
    "spark.skew": "ratio",
    "spark.gc_s": "s",
    "spark.spill_mb": "MiB",
    "spark.shuffle_read_mb": "MiB",
    "spark.shuffle_write_mb": "MiB",
    "spark.cpu_share": "ratio",
    "spark.driver_s": "s",
    "trace.rows_per_s_untraced": "rows/s",
    "trace.rows_per_s_traced": "rows/s",
    "trace.overhead_share": "ratio",
    "trace.accounted_share": "ratio",
    "trace.reproduced_share": "ratio",
}


class Tracer:
    """Driver-side spans; the innermost open span id is the local property."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: dict[str, dict] = {}
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        self._stack.append(name)
        self.sc.setLocalProperty(SPAN_PROP, name)
        start_ms, t0 = time.time() * 1e3, time.perf_counter()
        try:
            yield
        finally:
            self.spans[name] = {"start_ms": start_ms, "end_ms": time.time() * 1e3,
                                "wall_s": time.perf_counter() - t0}
            self._stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, self._stack[-1] if self._stack else None)

    def wall(self, name: str) -> float:
        return self.spans[name]["wall_s"]


def _median_over(reps: int, fn) -> float:
    return statistics.median(fn(r) for r in range(reps))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---- flagship ---------------------------------------------------------------
def flagship_ablation(spark, tracer: Tracer, wl, inp, out_dir: str, rep: int) -> dict:
    """run_pipeline's public calls in its order, each prefix materialized."""
    from opentelemetry_collector_spark.functions.hashing import salted_key
    from opentelemetry_collector_spark.operators.aggregates import counts_by_sink, counts_by_source
    from opentelemetry_collector_spark.operators.enrich import broadcast_enrich
    from opentelemetry_collector_spark.operators.router import route_tag
    from opentelemetry_collector_spark.plans.metrics import StageMetrics
    from opentelemetry_collector_spark.sources.tableio import ParquetSnapshotIO

    spec, p = wl.spec, f"ablate/{rep}/"
    with tracer.span(p + "scan"):
        records = spark.read.parquet(inp.path)
        _noop(records)
    with tracer.span(p + "grok"):
        parsed = records.select("*", *spec.grok.columns(F.col(spec.raw_col)).values())
        _noop(parsed)
    with tracer.span(p + "enrich"):
        enriched = broadcast_enrich(parsed, wl.lookup, on=spec.source_col, defaults=spec.lookup_defaults)
        _noop(enriched)
    with tracer.span(p + "router"):
        tagged = route_tag(enriched, spec.routes)
        _noop(tagged)
    with tracer.span(p + "source_counts"):
        src = collect_counts(counts_by_source(records, spec.source_col, spec.size_col), spec.source_col)
    with tracer.span(p + "sink_counts"):
        snk = collect_counts(counts_by_sink(tagged, "sink", spec.size_col), "sink")
    got = {"source_counts": src, "sink_counts": snk, "out_dir": out_dir, "run_id": f"ablate{rep}"}
    if rep == 0:  # layer counts, outside the timed spans
        with tracer.span("count/grok"):
            got["matched"] = parsed.agg(F.count("level")).collect()[0][0]
        with tracer.span("count/enrich"):
            got["enrich_hits"] = enriched.agg(F.count("team")).collect()[0][0]
    if wl.write:
        io = ParquetSnapshotIO(out_dir)
        run_id = got["run_id"]
        metrics = StageMetrics(run_id=run_id)
        salted = tagged.repartition(
            spec.salt_buckets, *salted_key(F.col("sink"), F.col(spec.id_col), spec.salt_buckets)
        )
        with tracer.span(p + "write"):
            commit = metrics.timeit(
                "write:fanout", lambda: io.append_group_partitioned(salted, "sink", wl.sinks(), run_id)
            )
        for s, snap in commit.snapshots.items():
            metrics.rows.append((run_id, f"commit:{s}", -1, None, None, None, snap))
        with tracer.span(p + "readback"):
            written = spark.read.parquet(commit.data_dir)
            for row in written.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect():
                metrics.rows.append((run_id, f"lineage:{row['sink']}", -1, None, int(row["n"]), None, None))
        with tracer.span(p + "metrics_table"):
            io.append_group(metrics.to_df(spark), "_metrics", f"{run_id}-metrics")
    return got


def flagship_layers(tracer: Tracer, log: EventLog, wl, inp, got: dict, out_dir: str) -> dict:
    reps = FLAGSHIP_ABLATION_REPS

    def t(layer: str) -> float:
        return _median_over(reps, lambda r: tracer.wall(f"ablate/{r}/{layer}"))

    def node(layer: str, name: str, metric: str) -> float:
        return _median_over(reps, lambda r: log.node_metric(lambda s: s == f"ablate/{r}/{layer}", name, metric))

    layers = {
        "sources.scan.self_s": t("scan"),
        "sources.scan.rows": log.node_metric(lambda s: s == "ablate/0/scan", "Scan parquet", "number of output rows"),
        "functions.grok.self_s": t("grok") - t("scan"),
        "functions.grok.match_share": got["matched"] / inp.rows,
        "operators.enrich.self_s": t("enrich") - t("grok"),
        "operators.enrich.hit_share": got["enrich_hits"] / inp.rows,
        "operators.enrich.broadcast_build_s": node("enrich", "BroadcastExchange", "time to build") / 1e3,
        "operators.router.self_s": t("router") - t("enrich"),
        "operators.aggregates.source_counts_s": t("source_counts"),
        "operators.aggregates.sink_counts_s": t("sink_counts"),
        "operators.aggregates.shuffle_mb": (node("source_counts", "Exchange", "shuffle bytes written")
                                            + node("sink_counts", "Exchange", "shuffle bytes written")) / MIB,
    }
    for sink, (n, _) in got["sink_counts"].items():
        layers[f"operators.router.rows.{sink}"] = n
    if wl.write:
        data = parquet_files(os.path.join(out_dir, "_fanout"))
        layers.update({
            "sources.tableio.write_s": t("write") - t("router"),
            "sources.tableio.salt_shuffle_mb": node("write", "Exchange", "shuffle bytes written") / MIB,
            "sources.tableio.commit_s": _median_over(reps, lambda r: (
                tracer.spans[f"ablate/{r}/write"]["end_ms"]
                - log.last_job_end_ms(lambda s: s == f"ablate/{r}/write")) / 1e3),
            "sources.tableio.files": len(data),
            "sources.tableio.bytes_per_row": sum(map(os.path.getsize, data)) / inp.rows,
            "sources.tableio.output_mb": sum(map(os.path.getsize, parquet_files(out_dir))) / MIB,
            "plans.pipeline.readback_s": t("readback"),
            "plans.metrics.table_s": t("metrics_table"),
        })
    return layers


def flagship_reproduction(wl, inp, got: dict) -> dict[str, bool]:
    return {
        **{f"ablation.{k}": v for k, v in wl.check(inp, got).items()},
        "ablation.grok_matched": got["matched"] == inp.rows - inp.reference["nomatch"],
    }


# ---- corpus_prep --------------------------------------------------------------
CORPUS_STEPS = ("decontam", "exact", "minhash_lsh", "verify", "components", "dup_spans",
                "gates", "split", "packing", "write")


def corpus_ablation(spark, tracer: Tracer, wl: CorpusPrep, inp, out_dir: str) -> dict:
    """jobs.corpus_prep_job.build's default composition, one operator at a time."""
    from opentelemetry_collector_spark.operators.components import connected_components
    from opentelemetry_collector_spark.operators.dedup import (
        contamination_pairs, dedup_keep_canonical, lsh_candidate_pairs, minhash_signatures,
        ngram_jaccard_pairs, remove_duplicate_spans,
    )
    from opentelemetry_collector_spark.operators.packing import pack_sequences, packing_stats
    from opentelemetry_collector_spark.operators.sampling import hash_split
    from opentelemetry_collector_spark.operators.textstats import repetition_stats

    counts = {}

    def step(name: str, make):
        # A checkpoint cuts the lineage, so a step's self time holds its own
        # planning and execution, not a re-plan of everything upstream.
        with tracer.span(f"ablate/0/{name}"):
            df = make().localCheckpoint(eager=True)
        with tracer.span(f"count/{name}"):
            counts[name] = df.count()
        return df

    corpus, bench = wl.split_input(spark, inp)
    clean = step("decontam", lambda: corpus.join(
        contamination_pairs(corpus, bench, "doc_id", "text", n=3, min_shared=2, mode="raw")
        .select(F.col("corpus_id").alias("doc_id")).distinct(), "doc_id", "left_anti"))
    surv = step("exact", lambda: dedup_keep_canonical(clean, "doc_id", "text"))
    cand = step("minhash_lsh", lambda: lsh_candidate_pairs(
        minhash_signatures(surv, "doc_id", "text", k=16, mode="portable"),
        bands=4, rows_per_band=4, mode="portable"))
    pairs = step("verify", lambda: ngram_jaccard_pairs(
        surv, "doc_id", "text", n=3, threshold=0.5, mode="raw", candidates=cand, max_df=64))
    kept = step("components", lambda: surv.join(
        connected_components(pairs).filter(F.col("node") != F.col("comp"))
        .select(F.col("node").alias("doc_id")), "doc_id", "left_anti"))
    kept = step("dup_spans", lambda: kept.select("doc_id", "source").join(
        remove_duplicate_spans(kept, "doc_id", "text", k=8, min_df=2, max_df=64, with_text=True,
                               digest="md5")
        .select(F.col("id").alias("doc_id"), F.col("clean_text").alias("text")), "doc_id"))
    gated = step("gates", lambda: kept.join(
        repetition_stats(kept, "doc_id", "text")
        .filter((F.col("n_words") >= 10) & (F.col("dup_3gram_ratio") <= 0.3)).select("doc_id"),
        "doc_id", "left_semi"))
    split = step("split", lambda: hash_split(gated, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.05})
                 .filter(F.col("split").isNotNull()))
    docs = split.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat_ws("|", "split", "source").alias("grp"),
        F.transform(F.filter(F.split("text", " "), lambda x: x != F.lit("")),
                    lambda x: F.pmod(F.xxhash64(x), F.lit(50257)).cast("int")).alias("tokens"),
    )
    packed = step("packing", lambda: pack_sequences(
        docs, max_len=wl.MAX_LEN, salt_buckets=8, source_col="grp", salt_mode="portable"))
    stats = packing_stats(packed, max_len=wl.MAX_LEN).select(
        F.substring_index("source", "|", 1).alias("split"),
        F.substring_index("source", "|", -1).alias("source"),
        "n_packs", "n_docs", "n_tok", "avg_fill",
    )
    out = {"kept": split.select("doc_id", "source", "split"), "packed": packed, "stats": stats}
    with tracer.span("ablate/0/write"):
        written = wl.write_outputs(spark, out, out_dir)
    with tracer.span("count/packing"):
        split_tok = docs.agg(F.sum(F.size("tokens"))).collect()[0][0]
        packed_tok, n_packs = packed.agg(F.sum("n_tok"), F.count(F.lit(1))).collect()[0]
    return {"out_dir": out_dir, "counts": written, "step_rows": counts,
            "split_tokens": split_tok, "packed_tokens": packed_tok, "n_packs": n_packs}


def corpus_layers(tracer: Tracer, log: EventLog, wl: CorpusPrep, got: dict) -> tuple[dict, float]:
    def t(name: str) -> float:
        return tracer.wall(f"ablate/0/{name}")

    rows = got["step_rows"]
    layers = {
        "operators.dedup.decontam_s": t("decontam"),
        "operators.dedup.exact_s": t("exact"),
        "operators.dedup.minhash_lsh_s": t("minhash_lsh"),
        "operators.dedup.verify_s": t("verify"),
        "operators.dedup.dup_spans_s": t("dup_spans"),
        "operators.dedup.candidates": rows["minhash_lsh"],
        "operators.dedup.verify_hit_share": rows["verify"] / rows["minhash_lsh"] if rows["minhash_lsh"] else 0.0,
        "operators.components.self_s": t("components"),
        "operators.components.jobs": len(log.span_jobs(lambda s: s == "ablate/0/components")),
        "operators.textstats.gates_s": t("gates"),
        "operators.sampling.split_s": t("split"),
        "operators.packing.self_s": t("packing"),
        "operators.packing.python_s": log.node_metric(
            lambda s: s == "ablate/0/packing", "FlatMapGroupsInPandas", "time to run Python workers") / 1e3,
        "operators.packing.fill_share": got["packed_tokens"] / (got["n_packs"] * wl.MAX_LEN),
        "jobs.corpus_prep_job.write_s": t("write"),
        "sources.tableio.output_mb": sum(map(os.path.getsize, parquet_files(got["out_dir"]))) / MIB,
        "sources.tableio.files": len(parquet_files(got["out_dir"])),
    }
    return layers


# ---- the run ------------------------------------------------------------------
def self_total(tracer: Tracer, wl) -> float:
    """Sum of the layer self times: what the job's wall should come to."""
    if isinstance(wl, CorpusPrep):
        return sum(tracer.wall(f"ablate/0/{s}") for s in CORPUS_STEPS)
    steps = ["router", "source_counts", "sink_counts"]
    if wl.write:  # the write re-runs scan..route, so it replaces the router prefix
        steps = ["write", "source_counts", "sink_counts", "readback", "metrics_table"]
    return sum(
        _median_over(FLAGSHIP_ABLATION_REPS, lambda r, s=s: tracer.wall(f"ablate/{r}/{s}")) for s in steps
    )


def traced_run(spark, harness, cores: int, work: str, start_session):
    """Restart the session with the event log on, run the traced passes and
    return (the new session, {metric: (value, unit)})."""
    wl, inp = harness.wl, harness.inp
    # One more untraced pass as the overhead's reference: the timed passes may
    # be cold (corpus_prep), the traced job passes never are.
    wall, got = harness.one_pass("untraced")
    untraced = inp.rows / wall if got is not None else harness.rows_per_s
    log_dir = os.path.join(work, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark.stop()
    spark = start_session(cores, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    harness.spark = spark
    wl.open(spark)
    tracer = Tracer(spark.sparkContext)

    out_dir = os.path.join(work, "out", "ablate")
    if isinstance(wl, CorpusPrep):
        got = corpus_ablation(spark, tracer, wl, inp, out_dir)
        checks = {f"ablation.{k}": v for k, v in wl.check(inp, got).items()}
        checks["ablation.split_tokens_packed"] = got["split_tokens"] == got["packed_tokens"]
    else:
        for rep in range(FLAGSHIP_ABLATION_REPS):
            rep_dir = out_dir if rep == 0 else f"{out_dir}{rep}"
            rep_got = flagship_ablation(spark, tracer, wl, inp, rep_dir, rep)
            if rep == 0:
                got = rep_got
            else:
                shutil.rmtree(rep_dir, ignore_errors=True)
        checks = flagship_reproduction(wl, inp, got)
    wl.cleanup(spark)

    # after the ablation has warmed the restarted context
    job_walls = []
    for k in range(JOB_REPS):
        with tracer.span(f"job/{k}"):
            wall, job_got = harness.one_pass(f"traced{k}")
        if job_got is not None:
            job_walls.append(wall)
    job_wall = statistics.median(job_walls) if job_walls else float("nan")
    checks["ablation.accounts_for_job_wall"] = abs(self_total(tracer, wl) / job_wall - 1.0) <= ACCOUNTED_TOLERANCE
    harness.score(checks)  # the ablation is one more checked operation
    spark.stop()  # flushes and closes the event log

    (log_path,) = glob.glob(os.path.join(log_dir, "*"))
    log = EventLog(log_path)
    if isinstance(wl, CorpusPrep):
        layers = corpus_layers(tracer, log, wl, got)
    else:
        layers = flagship_layers(tracer, log, wl, inp, got, out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)

    last_job = f"job/{JOB_REPS - 1}"
    layers.update(log.spark_summary(lambda s: s == last_job))
    layers["spark.driver_s"] = log.uncovered_s(
        lambda s: s == last_job, tracer.spans[last_job]["start_ms"], tracer.spans[last_job]["end_ms"])
    layers.update({
        "trace.rows_per_s_untraced": untraced,
        "trace.rows_per_s_traced": inp.rows / job_wall,
        "trace.overhead_share": 1.0 - (inp.rows / job_wall) / untraced if untraced else 0.0,
        "trace.accounted_share": self_total(tracer, wl) / job_wall,
        "trace.reproduced_share": sum(checks.values()) / len(checks),
    })
    values = {name: float(layers.get(name, 0.0)) for name in PER_LAYER}
    # a layer whose passes all failed has no figure; report 0, the run is already incorrect
    return spark, {name: (v if math.isfinite(v) else 0.0, PER_LAYER[name]) for name, v in values.items()}
