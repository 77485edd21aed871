"""Benchmark entry point.

    python3 perfbench/run.py --workload grok_parse --seed 1 --seconds 5 --trace 0

Run from the repository root.  One fresh process per run: Spark runs as
``local[nproc]`` in this process's JVM; inputs, shuffle files, sinks and
temporary files all live under ``.perfbench_work/`` in the repository.

A run first makes (or finds cached) the seeded input, timed apart as
``gen_s`` (see ``inputs.py``), then starts the session, opens the input,
makes the warm-up passes, and repeats timed passes until ``--seconds`` of
pass time has accumulated.  Outputs are checked and deleted between passes,
outside the timed region.  ``--size`` overrides the input size (``SIZES``).
The last stdout line is the result object; the line before it carries the
host fingerprint and per-pass detail.
With ``--trace 1`` the run adds a traced session (event log on) and reports
the per-layer metrics instead of the end-to-end ones (see ``trace.py``).
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"
# A fixed, pre-touched heap: G1 otherwise grows it differently from run to run,
# which moved the JVM's RSS by ~20 % between runs of one seed.  peak_rss_mb
# leaves the pre-touched heap out and counts the old generation's peak use
# instead (host.PeakRss).  A fixed 256 MiB young generation keeps young
# collections frequent, so that peak follows what the program holds rather
# than when G1 chose to collect (its spread at one size fell from ~0.06 to
# ~0.02).  No /tmp/hsperfdata files either.
JAVA_OPTIONS = f"-Xms{DRIVER_MEMORY} -Xmn256m -XX:+AlwaysPreTouch -XX:-UsePerfData"
# Input rows (documents for corpus_prep), set by the measurement's time budget
# rather than where per-row cost levels off: see README.md, "Input size".
SIZES = {"grok_parse": 500_000, "fanout_write": 500_000, "corpus_prep": 4_000}
SPLITS_PER_CORE = 2
SHUFFLE_PER_CORE = 2


def configure_environment() -> None:
    """Keep every file Spark and Python write inside WORK, and let Python
    workers import the program (they fail with ModuleNotFoundError otherwise)."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["MALLOC_ARENA_MAX"] = "2"  # bounds glibc arena growth, a source of RSS spread
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata files
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def make_workload(name: str, size: int):
    from perfbench.workloads import CorpusPrep, Flagship

    if name == "grok_parse":
        return Flagship("grok_parse", write=False, rows=size)
    if name == "fanout_write":
        return Flagship("fanout_write", write=True, rows=size)
    if name == "corpus_prep":
        return CorpusPrep(size)
    raise SystemExit(f"unknown workload {name!r}")


def start_session(cores: int, extra: dict[str, str] | None = None):
    from opentelemetry_collector_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.driver.extraJavaOptions": f"{JAVA_OPTIONS} -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        **(extra or {}),
    }
    spark = get_spark(app_name="perfbench", cores=cores, shuffle_partitions=SHUFFLE_PER_CORE * cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Harness:
    """Runs passes, checks their outputs and keeps the tallies."""

    def __init__(self, spark, workload, inp):
        self.spark = spark
        self.wl = workload
        self.inp = inp
        self.attempted = 0
        self.failed = 0
        self.checks_passed = 0
        self.checks_attempted = 0
        self.failed_checks: dict[str, int] = {}
        self.walls: list[float] = []  # successful timed passes
        self.output_bytes: list[int] = []  # what each successful timed pass committed
        self.output_files: list[int] = []

    def one_pass(self, tag: str, keep_output: bool = False) -> tuple[float, dict | None]:
        """One pass; returns (wall, outputs or None when it raised).  The
        parquet it committed is measured into ``got["output"]`` as (bytes, files)."""
        from perfbench.workloads import parquet_files

        out_dir = os.path.join(WORK, "out", tag)
        shutil.rmtree(out_dir, ignore_errors=True)
        self.spark.sparkContext._jvm.System.gc()  # start every pass from a collected heap
        os.sync()  # and with no writeback of earlier files (input, shuffle) left to land in it
        t0 = time.perf_counter()
        got = None
        try:
            got = self.wl.run(self.spark, self.inp, out_dir, tag)
            wall = time.perf_counter() - t0
            files = parquet_files(out_dir)
            got["output"] = (sum(map(os.path.getsize, files)), len(files))
            results = self.wl.check(self.inp, got)
        except Exception:  # a failed pass is tallied, never fatal to the harness
            wall = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
            results = {c: False for c in self.wl.CHECKS}
            got = None
        finally:
            self.wl.cleanup(self.spark)
            if not keep_output:
                shutil.rmtree(out_dir, ignore_errors=True)
        self.score(results)
        return wall, got

    def score(self, results: dict[str, bool]) -> None:
        """Tally one operation and its checks; any failed check fails it."""
        self.attempted += 1
        self.checks_attempted += len(results)
        self.checks_passed += sum(results.values())
        for name, ok in results.items():
            if not ok:
                self.failed_checks[name] = self.failed_checks.get(name, 0) + 1
        if not all(results.values()):
            self.failed += 1

    def timed(self, seconds: float) -> None:
        """Timed passes until ``seconds`` of pass time has accumulated."""
        elapsed = 0.0
        while elapsed < seconds:
            wall, got = self.one_pass(f"pass{self.attempted}")
            elapsed += wall
            if got is not None:
                self.walls.append(wall)
                self.output_bytes.append(got["output"][0])
                self.output_files.append(got["output"][1])

    @property
    def rows_per_s(self) -> float:
        return self.inp.rows / statistics.median(self.walls) if self.walls else 0.0

    @property
    def passed_share(self) -> float:
        return self.checks_passed / self.checks_attempted if self.checks_attempted else 0.0


def median_or_zero(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["grok_parse", "fanout_write", "corpus_prep"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", type=int, default=None, help="input rows or documents (default: SIZES)")
    args = ap.parse_args(argv)

    configure_environment()
    try:
        import opentelemetry_collector_spark  # noqa: F401
        import jobs.corpus_prep_job  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench import host

    # the JVM, its Python workers and the input generator have all ended before this process does
    with host.owned_processes():
        return measure(args)


def measure(args: argparse.Namespace) -> int:
    from perfbench import host, inputs

    size = args.size or SIZES[args.workload]
    cores = host.nproc()
    workload = make_workload(args.workload, size)
    ticks0, load0 = host.cpu_ticks(), host.loadavg()
    imports_s = time.perf_counter() - PROCESS_START
    inp, gen_s = inputs.cached(os.path.join(WORK, "inputs"), args.workload, args.seed, size, SPLITS_PER_CORE * cores)

    # set-up is process start to ready to time, less the input generation
    setup_t0 = time.perf_counter()
    spark = start_session(cores)
    session_s = imports_s + time.perf_counter() - setup_t0
    fingerprint = host.fingerprint(spark)
    try:
        gateway = spark.sparkContext._gateway
        with host.PeakRss(gateway.jvm, gateway.proc.pid) as rss:
            t0 = time.perf_counter()
            workload.open(spark)
            harness = Harness(spark, workload, inp)
            open_s = time.perf_counter() - t0
            # warm-up passes are counted in setup_s, never dropped
            warmup_s = sum(harness.one_pass(f"warmup{k}")[0] for k in range(workload.WARMUP_PASSES))
            setup_s = session_s + open_s + warmup_s
            harness.timed(args.seconds)

            layers = {}
            if args.trace:
                from perfbench import trace

                try:
                    spark, layers = trace.traced_run(spark, harness, cores, WORK, start_session)
                except Exception:  # a failed traced run is tallied, never fatal to the harness
                    traceback.print_exc(file=sys.stderr)
                    harness.score({"traced_run": False})
                    layers = {name: (0.0, unit) for name, unit in trace.PER_LAYER.items()}
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "rows": inp.rows,
            "gen_s": gen_s,
            "session_s": session_s,
            "pass_walls_s": harness.walls,
            "rss_native_mib": rss.native_kib / 1024,
            "rss_heap_mib": rss.heap_kib / 1024,
            "rss_heap_pools_peak_mib": {k: v / 1024 for k, v in rss.heap_pools_kib.items()},
            "rss_workers_peak_mib": rss.workers_kib / 1024,
            "failed_checks": harness.failed_checks,
            "host": {
                **fingerprint,
                "loadavg_start": load0,
                "loadavg_end": host.loadavg(),
                "steal_share": host.steal_share(ticks0, host.cpu_ticks()),
            },
        }
    finally:
        spark.stop()
        shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)

    if args.trace:
        metrics = {name: {"value": value, "unit": unit} for name, (value, unit) in layers.items()}
    else:
        metrics = {
            "rows_per_s": {"value": harness.rows_per_s, "unit": "rows/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss.peak_mib, "unit": "MiB"},
            "passed_share": {"value": harness.passed_share, "unit": "ratio"},
            "output_mb": {"value": median_or_zero(harness.output_bytes) / 2**20, "unit": "MiB"},
            "output_files": {"value": median_or_zero(harness.output_files), "unit": "count"},
        }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": harness.failed == 0 and harness.attempted > 0,
        "attempted": harness.attempted,
        "failed": harness.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
