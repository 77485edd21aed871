"""Observability: per-partition lineage + per-stage throughput (north_rule).

Collector parity target: obsreport (obsreport/obsreport_receiver.go,
obsreport_exporter.go ~approx) — every component reports counts; plus the
north_rule's "per-partition lineage and throughput metrics emitted to a
metrics table".

Design: partition lineage is computed **distributed** (groupBy
spark_partition_id — a tiny aggregate, not a collect of data rows); the
flagship's per-sink lineage rows are counted from its written data; wall-clock
is measured driver-side around each materializing action; all land in one
metrics table with schema (run_id, stage, partition_id, rows_in, rows_out,
wall_ms, snapshot_id) per FIXTURES.md §5.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

METRICS_SCHEMA = (
    "run_id string, stage string, partition_id int, rows_in long, rows_out long, "
    "wall_ms double, snapshot_id string"
)


def partition_lineage(df: DataFrame) -> DataFrame:
    """Rows per physical partition — the skew observatory.  Cheap: partial
    count per partition, one long per partition shuffled."""
    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@dataclass
class StageMetrics:
    """Accumulates per-stage metric rows; flush to a DataFrame/table at end."""

    run_id: str
    rows: list[tuple] = field(default_factory=list)

    def timeit(self, stage: str, fn, rows_in: int | None = None, rows_out: int | None = None):
        """Time an arbitrary action (e.g. a sink write) as one stage row."""
        t0 = time.monotonic()
        result = fn()
        wall_ms = (time.monotonic() - t0) * 1000.0
        self.rows.append((self.run_id, stage, -1, rows_in, rows_out, wall_ms, None))
        return result

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.rows, METRICS_SCHEMA)
