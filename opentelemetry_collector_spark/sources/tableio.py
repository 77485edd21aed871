"""TableIO seam: parquet-snapshot sinks with atomic per-group commits.

Collector analog: exporterhelper's queued-retry sender gives at-least-once
delivery with bounded retry (exporter/exporterhelper/queued_retry.go ~approx);
the Spark-native equivalent of "don't lose or double-send a batch" is
**idempotent per-group commits + a resume ledger**: work is split into named
partition groups, each group's write is committed atomically (manifest file
written last), and a re-run skips already-committed groups.  This is what the
north_rule calls "resumable from Iceberg snapshot checkpoints".

``ParquetSnapshotIO`` implements the seam offline (no Iceberg jar in this
sandbox): directory-per-table with ``data/group=<gid>/`` parquet plus a
``_snapshots/<gid>.json`` manifest written **after** the data; a group is
visible iff its manifest exists, so a crash mid-write leaves an invisible
partial group that the re-run overwrites.  The flagship fan-out goes through
``append_group_partitioned``: one ``partitionBy`` write of the routed frame,
then one manifest per sink table.  The Iceberg design this seam stands in
for stays documented-only, in SURVEY.md §7.0.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType


@dataclass
class FanoutCommit:
    """Result of a single-pass partitioned fan-out commit.

    ``data_dir`` is the partitioned write's own directory (or None when a
    resume no-op found the data cleaned away) so callers read lineage back
    through the returned handle instead of assuming this IO's private
    layout."""

    snapshots: dict[str, str]
    data_dir: str | None


class TableIO:
    """Interface: append-by-group with idempotent commit + committed-group ledger."""

    def append_group(self, df: DataFrame, table: str, group_id: str) -> str:
        raise NotImplementedError

    def append_group_partitioned(
        self, df: DataFrame, part_col: str, tables: list[str], group_id: str
    ) -> FanoutCommit:
        raise NotImplementedError

    def committed_groups(self, table: str) -> set[str]:
        raise NotImplementedError

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        raise NotImplementedError


@dataclass
class ParquetSnapshotIO(TableIO):
    """Parquet-backed snapshot tables under ``root/<table>/``.

    Layout::

        root/<table>/data/group=<gid>/part-*.parquet   (data, maybe partial)
        root/<table>/_snapshots/<gid>.json             (commit marker, written last)

    ``append_group`` is idempotent: re-running a committed group is a no-op;
    re-running an uncommitted (crashed) group overwrites its directory.
    """

    root: str

    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def append_group(self, df: DataFrame, table: str, group_id: str) -> str:
        tdir = self._tdir(table)
        snap_dir = os.path.join(tdir, "_snapshots")
        manifest = os.path.join(snap_dir, f"{group_id}.json")
        if os.path.exists(manifest):  # already committed → idempotent skip
            with open(manifest) as f:
                return json.load(f)["snapshot_id"]
        data_dir = os.path.join(tdir, "data", f"group={group_id}")
        df.write.mode("overwrite").parquet(data_dir)
        snapshot_id = f"snap-{group_id}-{uuid.uuid4().hex[:12]}"
        os.makedirs(snap_dir, exist_ok=True)
        # seq: commit ordinal (count of already-committed groups).  time.time()
        # alone is not a total order — two commits in one clock tick (or under
        # clock skew) would sort nondeterministically and could corrupt
        # VERSION-AS-OF reads; snapshot_log sorts (committed_at, seq, group_id).
        seq = len([f for f in os.listdir(snap_dir) if f.endswith(".json")])
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "snapshot_id": snapshot_id,
                    "group_id": group_id,
                    "committed_at": time.time(),
                    "seq": seq,
                    "schema": df.schema.json(),
                },
                f,
            )
        os.replace(tmp, manifest)  # atomic rename = the commit point
        return snapshot_id

    def committed_groups(self, table: str) -> set[str]:
        snap_dir = os.path.join(self._tdir(table), "_snapshots")
        if not os.path.isdir(snap_dir):
            return set()
        return {f[: -len(".json")] for f in os.listdir(snap_dir) if f.endswith(".json")}

    def snapshot_log(self, table: str) -> list[dict]:
        """Commit history, oldest first — the Iceberg snapshot-log analog.
        Each entry: {snapshot_id, group_id, committed_at, ...}."""
        snap_dir = os.path.join(self._tdir(table), "_snapshots")
        if not os.path.isdir(snap_dir):
            return []
        out = []
        for f in os.listdir(snap_dir):
            if f.endswith(".json"):
                with open(os.path.join(snap_dir, f)) as fh:
                    out.append(json.load(fh))
        # total order even when two commits share a clock tick: seq is the
        # commit ordinal; group_id breaks cross-process seq ties deterministically
        return sorted(out, key=lambda m: (m["committed_at"], m.get("seq", -1), m["group_id"]))

    def groups_at(self, table: str, snapshot_id: str) -> set[str]:
        """Group set visible as of ``snapshot_id`` (inclusive) — feed to
        ``read(..., as_of_groups=...)`` for VERSION-AS-OF reads."""
        groups: set[str] = set()
        for m in self.snapshot_log(table):
            groups.add(m["group_id"])
            if m["snapshot_id"] == snapshot_id:
                return groups
        raise KeyError(f"snapshot {snapshot_id!r} not found in {table!r}")

    def append_group_partitioned(
        self, df: DataFrame, part_col: str, tables: list[str], group_id: str
    ) -> FanoutCommit:
        """Single-pass fan-out: ONE ``partitionBy(part_col)`` write of the
        whole routed frame, then one commit marker per sink table pointing at
        its partition subdirectory.

        This is the 100 TB fanout path: the alternative (cache + N filtered
        writes) either re-scans the input N times or round-trips the full
        dataset through a persisted copy.  Here every row is written exactly
        once; per-sink visibility still goes through the same manifest gate,
        so resume semantics are unchanged (all-sinks-committed ⇒ skip;
        partial crash ⇒ data dir overwritten idempotently, markers re-laid).
        """
        fan_base = os.path.join(self.root, "_fanout", "data")
        data_dir = os.path.join(fan_base, f"group={group_id}")
        if all(group_id in self.committed_groups(t) for t in tables):
            out = {}
            for t in tables:
                with open(os.path.join(self._tdir(t), "_snapshots", f"{group_id}.json")) as f:
                    out[t] = json.load(f)["snapshot_id"]
            return FanoutCommit(out, data_dir if os.path.isdir(data_dir) else None)
        df.write.mode("overwrite").partitionBy(part_col).parquet(data_dir)
        out = {}
        for t in tables:
            snap_dir = os.path.join(self._tdir(t), "_snapshots")
            manifest = os.path.join(snap_dir, f"{group_id}.json")
            snapshot_id = f"snap-{group_id}-{uuid.uuid4().hex[:12]}"
            os.makedirs(snap_dir, exist_ok=True)
            # same commit-ordinal as append_group: snapshot_log's total order
            # must hold for streaming fan-out commits too
            seq = len([f for f in os.listdir(snap_dir) if f.endswith(".json")])
            tmp = manifest + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "snapshot_id": snapshot_id,
                        "group_id": group_id,
                        "committed_at": time.time(),
                        "seq": seq,
                        "external_base": fan_base,
                        "external_path": os.path.join(data_dir, f"{part_col}={t}"),
                        "schema": df.schema.json(),
                    },
                    f,
                )
            os.replace(tmp, manifest)
            out[t] = snapshot_id
        return FanoutCommit(out, data_dir)

    def read(
        self, spark: SparkSession, table: str, as_of_groups: set[str] | None = None
    ) -> DataFrame:
        """Read only committed groups (manifest-gated visibility); groups may
        live in the table's own data dir or in a shared _fanout partition.

        ``as_of_groups`` is the snapshot time-travel seam (Iceberg
        ``VERSION AS OF`` analog): restrict the read to a prior commit set —
        e.g. ``io.groups_at(table, snapshot_id)`` — so a re-run can be
        compared against the state any earlier commit produced."""
        committed = sorted(self.committed_groups(table))
        if as_of_groups is not None:
            committed = [g for g in committed if g in as_of_groups]
        if not committed:
            raise FileNotFoundError(f"table {table!r} has no committed snapshots")
        plain: list[str] = []
        ext: dict[str, list[str]] = {}
        schema_json: str | None = None
        for g in committed:
            with open(os.path.join(self._tdir(table), "_snapshots", f"{g}.json")) as f:
                m = json.load(f)
            schema_json = m.get("schema", schema_json)
            if "external_path" in m:
                # empty sinks write no partition subdir — skip missing dirs
                if os.path.isdir(m["external_path"]):
                    ext.setdefault(m["external_base"], []).append(m["external_path"])
            else:
                plain.append(os.path.join(self._tdir(table), "data", f"group={g}"))
        frames = []
        if plain:
            frames.append(
                spark.read.option(
                    "basePath", os.path.join(self._tdir(table), "data")
                ).parquet(*plain)
            )
        for base, paths in ext.items():
            frames.append(spark.read.option("basePath", base).parquet(*paths))
        if not frames:
            # A committed-but-empty table (e.g. a quiet sink_errors on a clean
            # run) is legitimate: return an empty frame with the schema the
            # commit recorded, plus the partition column reads re-add.
            if schema_json is None:
                raise FileNotFoundError(f"table {table!r}: all committed groups empty")
            schema = StructType.fromJson(json.loads(schema_json))
            if "group" not in schema.fieldNames():
                schema = StructType(list(schema.fields) + [StructField("group", StringType())])
            return spark.createDataFrame([], schema)
        out = frames[0]
        for fdf in frames[1:]:
            out = out.unionByName(fdf, allowMissingColumns=True)
        return out
