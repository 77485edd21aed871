"""Driver testdata scans (the OTLP-receiver analog, SURVEY.md §2.1 S1).

The collector's native receiver is a zero-translation ingest
(receiver/otlpreceiver/otlp.go ~approx); our native scan is a parquet read —
columnar, predicate-pushdown-friendly, partition-prunable.  Keep scans
declarative (``spark.read.parquet`` + ``select``/``filter``) so Catalyst
pushes filters and prunes columns into the scan itself.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver table.  Single parquet file per table."""
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table {name!r}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
