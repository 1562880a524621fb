"""Snapshot-table storage layer (Iceberg-semantics parquet warehouse).

The sandbox's Spark 4.1.2 ships no Iceberg runtime jar and there is no
network to fetch one (verified — SURVEY.md §7.2), so this module
implements the subset of Iceberg semantics the engine needs behind a
small interface, on plain parquet + JSON manifests:

  * atomic snapshot commits (manifest lists the data dirs of a version)
  * append / overwrite (MERGE-by-rewrite) producing a NEW snapshot
  * time-travel-by-snapshot-id reads, resume from latest snapshot
  * per-commit lineage metadata carried on the snapshot record

Swapping in real Iceberg is config-only: every engine call goes through
``Warehouse``/``SnapshotTable``, whose ops map 1:1 onto Iceberg
``append``/``overwritePartitions``/``snapshots``.

On a real cluster the warehouse root is an object-store path; the
manifest write is a single small file PUT, which object stores make
atomic via rename-after-write here.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SnapshotTable:
    def __init__(self, root: str, name: str, schema: T.StructType):
        self.dir = os.path.join(root, name)
        self.name = name
        self.schema = schema
        self._snap_dir = os.path.join(self.dir, "_snapshots")
        os.makedirs(self._snap_dir, exist_ok=True)
        os.makedirs(os.path.join(self.dir, "data"), exist_ok=True)

    # ---------------------------------------------------------- snapshots

    def snapshots(self) -> list[dict]:
        # only committed manifests: a concurrent commit's ``.tmp-*`` file
        # may still be half-written until its os.replace
        files = sorted(f for f in os.listdir(self._snap_dir) if f.endswith(".json"))
        out = []
        for f in files:
            with open(os.path.join(self._snap_dir, f)) as fh:
                out.append(json.load(fh))
        return out

    def current(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def _commit(
        self, sub: str, partition_by: str | None, lineage: dict | None, base: dict | None = None
    ) -> dict:
        """Commit a snapshot of ``base``'s data dirs (none: an overwrite)
        plus the new dir ``sub``. Each dir's layout (hive-partitioned on
        a column, or plain) is recorded here, once, so read() never
        lists a dir to find it."""
        partitioned = _layout(base) if base else {}
        if partition_by:
            partitioned[sub] = partition_by
        cur = self.current()
        snap = {
            "snapshot_id": (cur["snapshot_id"] + 1) if cur else 1,
            "parent_id": cur["snapshot_id"] if cur else None,
            "ts": time.time(),
            "dirs": (base["dirs"] if base else []) + [sub],
            "partitioned": partitioned,
            "lineage": lineage or {},
        }
        tmp = os.path.join(self._snap_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, os.path.join(self._snap_dir, f"{snap['snapshot_id']:012d}.json"))
        return snap

    # --------------------------------------------------------------- write

    def _write_data(self, df: DataFrame, partition_by: str | None = None) -> str:
        sub = os.path.join(self.dir, "data", uuid.uuid4().hex)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(sub)
        return sub

    def append(
        self, df: DataFrame, lineage: dict | None = None, partition_by: str | None = None
    ) -> dict:
        cur = self.current()
        return self._commit(self._write_data(df, partition_by), partition_by, lineage, base=cur)

    def overwrite(
        self, df: DataFrame, lineage: dict | None = None, partition_by: str | None = None
    ) -> dict:
        """MERGE-by-rewrite: the new snapshot references only the new data.
        Old data dirs stay on disk for time travel until vacuum().
        partition_by hive-partitions the data dir (Iceberg partition-spec
        analog) so per-partition reads are directory-pruned scans."""
        return self._commit(self._write_data(df, partition_by), partition_by, lineage)

    # ---------------------------------------------------------------- read

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        snaps = self.snapshots()
        if snapshot_id is not None:
            snaps = [s for s in snaps if s["snapshot_id"] == snapshot_id]
            if not snaps:
                raise KeyError(f"{self.name}: no snapshot {snapshot_id}")
        if not snaps or not snaps[-1]["dirs"]:
            # an always-false filter, which the optimizer folds into an
            # empty relation: joins against an empty table vanish from
            # the plan (createDataFrame([]) is an opaque RDD scan)
            return spark.range(1).select(
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in self.schema.fields]
            ).where(F.lit(False))
        # ONE multi-path scan over every plain data dir, plus one scan per
        # hive-partitioned dir (a multi-path scan rejects that layout mix:
        # CONFLICTING_DIRECTORY_STRUCTURES), unioned by name. A scan per
        # commit would make the plan grow with the commit count, and
        # Spark pushes joins through the union into every branch (one
        # broadcast probe per commit). The layout comes from the
        # manifest, so the read lists nothing but the files it scans.
        snap = snaps[-1]
        partitioned = _layout(snap)
        plain = [d for d in snap["dirs"] if d not in partitioned]
        reader = spark.read.schema(self.schema)
        parts = ([reader.parquet(*plain)] if plain else []) + [
            reader.parquet(d) for d in snap["dirs"] if d in partitioned
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def rollback(self, snapshot_id: int) -> None:
        """Drop snapshots newer than snapshot_id (0 == truncate table).
        Used by the resume protocol to discard partial-superstep commits."""
        for f in os.listdir(self._snap_dir):
            if f.endswith(".json") and int(f.split(".")[0]) > snapshot_id:
                os.remove(os.path.join(self._snap_dir, f))

    def vacuum(self) -> None:
        keep = set(self.current()["dirs"]) if self.current() else set()
        data = os.path.join(self.dir, "data")
        for d in os.listdir(data):
            p = os.path.join(data, d)
            if p not in keep:
                shutil.rmtree(p, ignore_errors=True)


class Warehouse:
    """A directory of snapshot tables + a tiny engine-state JSON."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str, schema: T.StructType) -> SnapshotTable:
        return SnapshotTable(self.root, name, schema)

    # engine-state (superstep counter etc.) for resume
    @property
    def _state_path(self) -> str:
        return os.path.join(self.root, "engine_state.json")

    def load_state(self) -> dict | None:
        if os.path.exists(self._state_path):
            return json.load(open(self._state_path))
        return None

    def save_state(self, state: dict) -> None:
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self._state_path)



def _layout(snap: dict) -> dict[str, str]:
    """A snapshot's hive-partitioned data dirs -> partition column. A
    manifest without the key predates the record; its dirs read as one
    scan, which serves any single dir of either layout."""
    return dict(snap.get("partitioned", {}))
