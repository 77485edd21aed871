"""Reduce a Spark JSON event log to per-span job, stage, task and SQL-node figures.

The benchmark sets the local property ``SPAN_PROP`` to a span id before each
call it traces; every job Spark submits from that call carries the id in its
job-start properties.  Stages, tasks and SQL executions are attributed to a
span through their jobs.  The log must be written uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``).
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Callable

SPAN_PROP = "perfbench.span"


@dataclass
class Task:
    duration_s: float
    run_s: float
    cpu_s: float
    gc_s: float
    spill_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int


@dataclass
class Job:
    span: str | None
    submit_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)
    execution: int | None = None


def _plan_accumulators(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for child in plan.get("children", []):
        _plan_accumulators(child, out)


class EventLog:
    """One parsed event log.  Span filters are predicates on the span id."""

    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[Task]] = defaultdict(list)  # stage id -> tasks
        self.acc_node: dict[int, tuple[str, str]] = {}
        self.acc_exec: dict[int, int] = {}
        self.acc_value: dict[int, float] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            job = Job(props.get(SPAN_PROP), e["Submission Time"], stages=list(e["Stage IDs"]),
                      execution=int(exec_id) if exec_id is not None else None)
            self.jobs[e["Job ID"]] = job
            for sid in job.stages:
                self.stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            self.tasks[e["Stage ID"]].append(Task(
                duration_s=(info["Finish Time"] - info["Launch Time"]) / 1e3,
                run_s=m.get("Executor Run Time", 0) / 1e3,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1e3,
                spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                shuffle_read_bytes=rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                shuffle_write_bytes=wr.get("Shuffle Bytes Written", 0),
            ))
        elif kind == "SparkListenerStageCompleted":
            for acc in e["Stage Info"].get("Accumulables", []):
                if isinstance(acc.get("Value"), (int, float)):
                    self.acc_value[acc["ID"]] = acc["Value"]
                elif isinstance(acc.get("Value"), str) and acc["Value"].lstrip("-").isdigit():
                    self.acc_value[acc["ID"]] = int(acc["Value"])
        elif "sparkPlanInfo" in e:  # SQL execution start and AQE re-plans
            accs: dict[int, tuple[str, str]] = {}
            _plan_accumulators(e["sparkPlanInfo"], accs)
            self.acc_node.update(accs)
            for acc in accs:
                self.acc_exec[acc] = e["executionId"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, value in e["accumUpdates"]:
                self.acc_value[acc] = value

    # ---- per-span reductions --------------------------------------------
    def span_jobs(self, match: Callable[[str], bool]) -> list[Job]:
        return [j for j in self.jobs.values() if j.span is not None and match(j.span)]

    def span_tasks(self, match: Callable[[str], bool]) -> list[Task]:
        return [t for j in self.span_jobs(match) for s in j.stages for t in self.tasks.get(s, [])]

    def node_metric(self, match: Callable[[str], bool], node: str, metric: str) -> float:
        """Sum of one SQL metric over plan nodes whose name starts with ``node``,
        in the SQL executions of the matching spans."""
        execs = {j.execution for j in self.span_jobs(match) if j.execution is not None}
        return float(sum(
            v for acc, v in self.acc_value.items()
            if self.acc_exec.get(acc) in execs
            and acc in self.acc_node
            and self.acc_node[acc][0].startswith(node)
            and self.acc_node[acc][1] == metric
        ))

    def uncovered_s(self, match: Callable[[str], bool], start_ms: float, end_ms: float) -> float:
        """Time in [start_ms, end_ms] during which no matching job ran: the
        driver planning, collecting and committing between jobs."""
        covered, cursor = 0.0, start_ms
        for j in sorted(self.span_jobs(match), key=lambda j: j.submit_ms):
            lo, hi = max(j.submit_ms, cursor), min(j.end_ms, end_ms)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return max(0.0, (end_ms - start_ms) - covered) / 1e3

    def last_job_end_ms(self, match: Callable[[str], bool]) -> int:
        return max((j.end_ms for j in self.span_jobs(match)), default=0)

    def spark_summary(self, match: Callable[[str], bool]) -> dict[str, float]:
        """The ``spark.*`` per-layer figures for the matching spans."""
        jobs = self.span_jobs(match)
        tasks = self.span_tasks(match)
        durations = [t.duration_s for t in tasks] or [0.0]
        p50 = statistics.median(durations)
        run_s = sum(t.run_s for t in tasks)
        return {
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(sum(len([s for s in j.stages if s in self.tasks]) for j in jobs)),
            "spark.tasks": float(len(tasks)),
            "spark.task_p50_s": p50,
            "spark.task_max_s": max(durations),
            "spark.skew": max(durations) / p50 if p50 > 0 else 0.0,
            "spark.gc_s": sum(t.gc_s for t in tasks),
            "spark.spill_mb": sum(t.spill_bytes for t in tasks) / 2**20,
            "spark.shuffle_read_mb": sum(t.shuffle_read_bytes for t in tasks) / 2**20,
            "spark.shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / 2**20,
            "spark.cpu_share": sum(t.cpu_s for t in tasks) / run_s if run_s > 0 else 0.0,
        }
