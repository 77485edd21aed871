"""Record the expected corpus_prep output digests for a range of seeds.

    python3 perfbench/record_digests.py --seeds 0-24

Runs corpus_prep once per seed in one Spark session, at the benchmark's
document count, and merges the digests into
``expected_digests.json``.  The benchmark's ``same_as_recorded`` check
compares every run's outputs with these; a seed without an entry leaves the
check unattempted.  Record again only when a change to the program is meant
to change corpus_prep's outputs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host, inputs, run  # noqa: E402
from perfbench.steadiness import seeds  # noqa: E402
from perfbench.workloads import EXPECTED_DIGESTS  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="0-24", help="inclusive range, e.g. 0-24")
    ap.add_argument("--size", type=int, default=run.SIZES["corpus_prep"])
    args = ap.parse_args()
    run.configure_environment()
    cores = host.nproc()
    wl = run.make_workload("corpus_prep", args.size)
    wl.expected = {}  # record, do not compare
    recorded = {}
    spark = run.start_session(cores)
    try:
        for seed in seeds(args.seeds):
            inp, _ = inputs.cached(os.path.join(run.WORK, "inputs"), "corpus_prep", seed, args.size,
                                   run.SPLITS_PER_CORE * cores)
            harness = run.Harness(spark, wl, inp)
            _, got = harness.one_pass(f"record{seed}")
            if got is None or harness.failed:
                print(f"seed {seed}: failed checks {harness.failed_checks}; not recorded")
                return 1
            recorded[wl.digest_key(seed)] = got["digest"]
            print(f"seed {seed}: {got['digest']}", flush=True)
    finally:
        spark.stop()
    with open(EXPECTED_DIGESTS) as f:
        expected = json.load(f)
    expected.update(recorded)
    with open(EXPECTED_DIGESTS, "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    with host.owned_processes():
        status = main()
    sys.exit(status)
