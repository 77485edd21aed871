"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/steadiness.py --workloads fanout_write corpus_prep --seeds 1-10

Spread is the inter-quartile distance of the per-run values over their
median (``statistics.quantiles(values, n=4)``), the figure the benchmark's
bounds are set against.  Runs are sequential, one fresh process each.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=None, help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--size", type=int, default=None, help="input rows or documents (default: run.py's)")
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for wl in args.workloads:
        runs = []
        for seed in seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
            cmd += ["--size", str(args.size)] if args.size else []
            proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=180)
            *_, detail, last = proc.stdout.strip().splitlines()
            result = json.loads(last)
            runs.append(result)
            detail = json.loads(detail)["detail"]
            print(wl, seed, json.dumps({k: v["value"] for k, v in result["metrics"].items()}),
                  "correct" if result["correct"] else "INCORRECT",
                  "passes", [round(w, 2) for w in detail["pass_walls_s"]],
                  "gen", round(detail["gen_s"], 1), "session", round(detail["session_s"], 1),
                  "rss native/heap/workers", round(detail["rss_native_mib"]),
                  round(detail["rss_heap_mib"]), round(detail["rss_workers_peak_mib"]),
                  "steal", round(detail["host"]["steal_share"], 4),
                  "load", detail["host"]["loadavg_start"], flush=True)
        report[wl] = {}
        for name in bounds:
            values = [r["metrics"][name]["value"] for r in runs]
            report[wl][name] = {"median": statistics.median(values), "spread": spread(values),
                                "bound": bounds[name]}
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
