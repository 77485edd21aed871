"""Scalar function surface (SURVEY.md §2.11).

Everything here is either a built-in ``pyspark.sql.functions`` composition
(JVM-side, whole-stage codegen) or an Arrow-vectorized pandas UDF; per-row
Python is banned by the input contract (BASELINE.json input_hint).
"""

from .hashing import fnv1a32, fnv1a32_udf, portable_bucket, salted_key
from .grok import GrokPattern, grok_extract, grok_first_match, grok_to_regex
from .scalars import enum_code, epoch_micros, hex_id

__all__ = [
    "fnv1a32",
    "fnv1a32_udf",
    "portable_bucket",
    "salted_key",
    "GrokPattern",
    "grok_extract",
    "grok_first_match",
    "grok_to_regex",
    "hex_id",
    "epoch_micros",
    "enum_code",
]
