"""Sources (receivers) — SURVEY.md §2.1.

The collector's receivers ingest wire formats and normalize them onto the
internal pdata schema (receiver/otlpreceiver, receiver/jaegerreceiver
~approx).  Our analogs:

- ``testdata``  — parquet scans of the driver tables (the native scan, S1).
- ``synthetic`` — deterministic seeded generators (host-metrics-receiver
  analog, S6; also FIXTURES.md §1-4 fixture tables).
- ``tableio``   — the parquet-snapshot TableIO seam used by every sink,
  with append snapshots + resume ledger support (K7).
"""

from .testdata import TESTDATA_TABLES, load_table
from .synthetic import gen_sequences, gen_raw_lines, gen_lookup

__all__ = [
    "TESTDATA_TABLES",
    "load_table",
    "gen_sequences",
    "gen_raw_lines",
    "gen_lookup",
]
