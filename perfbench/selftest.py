"""Self-test of the benchmark's checks.

    python3 perfbench/selftest.py

1. Corrupted outputs must lower ``passed_share`` below 1: one fanout_write
   pass is kept, then one sink row is dropped, one is duplicated, and the
   collected sink counts are shifted by one; each must fail a check.  A
   corpus_prep pass compared with a wrong recorded digest must fail too, and
   one with no recorded digest must leave that check unattempted.
2. A failing operation must be tallied, not crash the harness: a child
   process starts Spark with the Python workers' import path broken, so
   corpus_prep's Arrow UDF raises ModuleNotFoundError in every pass.

Exits 0 when every expectation holds.
"""

from __future__ import annotations

import copy
import glob
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host, inputs, run  # noqa: E402

SEED = 7
SMALL_ROWS = 20_000
SMALL_DOCS = 300


def corrupted_outputs() -> list[str]:
    problems = []
    inp, _ = inputs.cached(os.path.join(run.WORK, "inputs"), "fanout_write", SEED, SMALL_ROWS, 4)
    spark = run.start_session(host.nproc())
    try:
        wl = run.make_workload("fanout_write", SMALL_ROWS)
        wl.open(spark)
        _, got = run.Harness(spark, wl, inp).one_pass("selftest", keep_output=True)
        clean = wl.check(inp, got)
        if not all(clean.values()):
            problems.append(f"clean outputs failed checks: {clean}")
        shifted = copy.deepcopy(got)
        shifted["sink_counts"]["sink_default"][0] += 1
        cases = {
            "drop one sink row": (got, lambda t: t.slice(1)),
            "duplicate one sink row": (got, lambda t: pa.concat_tables([t, t.slice(0, 1)])),
            "shift one collected sink count": (shifted, lambda t: t),
        }
        sink_file = sorted(glob.glob(
            f"{got['out_dir']}/_fanout/data/group={got['run_id']}/sink=sink_hot/*.parquet"))[0]
        original = pq.read_table(sink_file)
        for label, (outputs, edit) in cases.items():
            pq.write_table(edit(original), sink_file)
            scored = run.Harness(spark, wl, inp)
            scored.score(wl.check(inp, outputs))
            print(f"{label}: passed_share={scored.passed_share:.3f}")
            if scored.passed_share >= 1.0:
                problems.append(f"{label}: passed_share stayed 1.0")
        problems += recorded_digest(spark)
    finally:
        spark.stop()
    return problems


def recorded_digest(spark) -> list[str]:
    """corpus_prep's digest check: a wrong recorded digest must fail it, and
    a seed without one must leave it unattempted rather than passed."""
    problems = []
    inp, _ = inputs.cached(os.path.join(run.WORK, "inputs"), "corpus_prep", SEED, SMALL_DOCS, 4)
    wl = run.make_workload("corpus_prep", SMALL_DOCS)
    _, got = run.Harness(spark, wl, inp).one_pass("selftest-corpus", keep_output=True)
    wl.expected = {}
    if "same_as_recorded" in wl.check(inp, got):
        problems.append("a seed without a recorded digest was checked against one")
    wl.expected = {wl.digest_key(SEED): "0" * 64}
    scored = run.Harness(spark, wl, inp)
    scored.score(wl.check(inp, got))
    print(f"wrong recorded digest: passed_share={scored.passed_share:.3f}")
    if scored.passed_share >= 1.0:
        problems.append("wrong recorded digest: passed_share stayed 1.0")
    wl.expected = {wl.digest_key(SEED): got["digest"]}
    if not all(wl.check(inp, got).values()):
        problems.append("the outputs' own digest failed the check")
    shutil.rmtree(got["out_dir"], ignore_errors=True)
    return problems


def broken_workers_child() -> int:
    """Runs in a child whose PYTHONPATH and working directory hide the program
    from Python workers; every pass must be tallied as failed."""
    os.environ["PYTHONPATH"] = os.path.join(run.WORK, "no-such-dir")
    inp, _ = inputs.cached(os.path.join(run.WORK, "inputs"), "corpus_prep", SEED, SMALL_DOCS, 4)
    spark = run.start_session(host.nproc())
    try:
        wl = run.make_workload("corpus_prep", SMALL_DOCS)
        harness = run.Harness(spark, wl, inp)
        harness.one_pass("selftest-broken")
    finally:
        spark.stop()
    ok = harness.attempted == 1 and harness.failed == 1 and harness.passed_share == 0.0
    print(f"broken workers: attempted={harness.attempted} failed={harness.failed} "
          f"passed_share={harness.passed_share}")
    return 0 if ok else 1


def main() -> int:
    run.configure_environment()
    if sys.argv[1:] == ["--broken-workers-child"]:
        return broken_workers_child()
    problems = corrupted_outputs()
    child = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--broken-workers-child"],
        cwd=os.path.join(run.WORK, "tmp"), timeout=300,
    )
    if child.returncode != 0:
        problems.append("a failing operation was not tallied as failed (or crashed the harness)")
    for p in problems:
        print("SELFTEST FAIL:", p)
    print("selftest", "passed" if not problems else "failed")
    return 1 if problems else 0


if __name__ == "__main__":
    with host.owned_processes():
        status = main()
    sys.exit(status)
