"""Translator-style scalar conversions (SURVEY.md §2.4 P12, §2.11).

Collector analogs: trace/span id hex rendering (consumer/pdata/trace.go
~approx, TraceID.String), epoch-nanos↔timestamp conversion
(consumer/pdata/timestamp.go ~approx), service-name fallback in the
zipkin/OC translators (translator/... ~approx).  All built-in Spark
expressions — no UDFs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# SpanKind / SeverityNumber style enum dictionaries (proto enums → int codes).
SPAN_KIND = {"unspecified": 0, "internal": 1, "server": 2, "client": 3, "producer": 4, "consumer": 5}
SEVERITY = {"trace": 1, "debug": 5, "info": 9, "warn": 13, "error": 17, "fatal": 21}


def hex_id(col: Column, width: int = 16) -> Column:
    """Render an integer id the way pdata renders trace/span ids: fixed-width
    lowercase hex (TraceID is 16 bytes → 32 hex chars; SpanID 8 → 16)."""
    return F.lpad(F.lower(F.hex(col)), width, "0")


def epoch_micros(ts: Column) -> Column:
    """timestamp → epoch microseconds (pdata carries unix nanos; Spark
    timestamps are µs — keep the raw integer when ns parity matters).

    Parquet timestamps arrive as TIMESTAMP_NTZ in Spark 4; the session TZ is
    pinned to UTC (session.py) so the LTZ cast is value-preserving."""
    return F.unix_micros(ts.cast("timestamp_ltz"))


def enum_code(col: Column, mapping: dict[str, int], default: int = 0) -> Column:
    """String enum → int code via a literal CASE chain (dictionary lookup)."""
    expr: Column = F.lit(default)
    for k, v in mapping.items():
        expr = F.when(F.lower(col) == k, F.lit(v)).otherwise(expr)
    return expr
