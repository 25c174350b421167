"""Snapshot-versioned local table catalog — the engine's Iceberg stand-in.

The production engine keeps all mutable state (the ``edges`` table, per-superstep
``labels``/``ranks`` checkpoints with their lineage and metrics) in Iceberg tables
and applies batch edge updates as ``MERGE INTO`` deltas (SURVEY.md §1.5, §7.5;
reference semantics: ``InsertIntoEdgeTable``/``DeleteFromEdgeTable``,
elektra connectivity.h:425-448). This sandbox ships no Iceberg runtime jar, so
this module provides the minimal subset of table-format semantics the engine
relies on, implemented as immutable parquet snapshots with an atomically-swapped
JSON manifest:

- **ACID-ish commits**: each write lands in a fresh ``v_<n>/`` directory; the
  manifest file is replaced with ``os.replace`` (atomic on POSIX), so readers
  always see a complete snapshot and a crashed writer leaves the previous
  version intact — the property checkpoint/resume (M5) depends on. Every
  commit writes a whole snapshot (no fast-append), and its manifest entry
  records the row count of each data file, read from the parquet footers.
- **MERGE semantics**: ``merge_insert`` (WHEN NOT MATCHED THEN INSERT),
  ``merge_delete`` (WHEN MATCHED THEN DELETE) and ``upsert`` are computed as
  anti/semi joins and committed as a new snapshot — the same logical plan an
  Iceberg copy-on-write MERGE produces.
- **Time travel**: ``read(version=...)`` + ``history()``.

At 100 TB these operations are exactly Iceberg's, and
:func:`elektra_spark.session.iceberg_configs` flips state storage to a real
Iceberg catalog; nothing above this module changes.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class SnapshotInfo:
    version: int
    path: str
    committed_at: float
    operation: str
    rows: int | None


class SnapshotCatalog:
    """A directory of snapshot-versioned tables."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---- paths -----------------------------------------------------------
    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_manifest.json")

    def _load_manifest(self, name: str) -> dict:
        mp = self._manifest_path(name)
        if not os.path.exists(mp):
            return {"current": None, "snapshots": []}
        with open(mp) as f:
            return json.load(f)

    def _swap_manifest(self, name: str, man: dict) -> None:
        tmp = self._manifest_path(name) + ".tmp"
        os.makedirs(self._table_dir(name), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, self._manifest_path(name))  # atomic commit point

    # ---- core commit protocol --------------------------------------------
    def _commit(self, name: str, df: DataFrame, operation: str) -> SnapshotInfo:
        """Write df as the next snapshot and atomically swap the manifest.

        The snapshot entry records each data file's row count (``files``,
        file name → rows) and their sum (``rows``), read from the parquet
        footers just written — pyarrow on the driver, no Spark job. This is
        the snapshot summary :mod:`elektra_spark.checkpoint` reads lineage
        from.
        """
        man = self._load_manifest(name)
        version = (man["current"] or 0) + 1
        snap_dir = os.path.join(self._table_dir(name), f"v_{version}")
        df.write.mode("overwrite").parquet(snap_dir)
        files = {
            f: pq.read_metadata(os.path.join(snap_dir, f)).num_rows
            for f in sorted(os.listdir(snap_dir))
            if f.endswith(".parquet")
        }
        info = SnapshotInfo(version, snap_dir, time.time(), operation, sum(files.values()))
        man["snapshots"].append(
            {
                "version": version,
                "path": snap_dir,
                "committed_at": info.committed_at,
                "operation": operation,
                "rows": info.rows,
                "files": files,
            }
        )
        man["current"] = version
        self._swap_manifest(name, man)
        return info

    # ---- public API --------------------------------------------------------
    def exists(self, name: str) -> bool:
        return self._load_manifest(name)["current"] is not None

    def write(self, name: str, df: DataFrame, operation: str = "overwrite") -> SnapshotInfo:
        return self._commit(name, df, operation)

    def add_entry(self, name: str, key: str, entry: dict) -> None:
        """Append ``entry`` to the manifest's ``key`` list in one atomic swap.
        Table-level metadata (the analogue of Iceberg table properties): no
        data file, no snapshot, no Spark job."""
        man = self._load_manifest(name)
        man.setdefault(key, []).append(entry)
        self._swap_manifest(name, man)

    def entries(self, name: str, key: str) -> list[dict]:
        return self._load_manifest(name).get(key, [])

    def read(self, name: str, version: int | None = None) -> DataFrame:
        man = self._load_manifest(name)
        if man["current"] is None:
            raise FileNotFoundError(f"table {name} does not exist in {self.root}")
        version = version or man["current"]
        snap = next(s for s in man["snapshots"] if s["version"] == version)
        return self.spark.read.parquet(snap["path"])

    def history(self, name: str) -> list[dict]:
        return self._load_manifest(name)["snapshots"]

    def current_version(self, name: str) -> int | None:
        return self._load_manifest(name)["current"]

    def changelog(
        self,
        name: str,
        from_version: int,
        to_version: int | None = None,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """Iceberg-style incremental (CDC) read: the net row-level delta
        between two snapshots as ('insert'|'delete', keys...) rows — what a
        changelog scan of a copy-on-write table emits. Computed as two
        key-set anti-joins (the same plan Iceberg's changelog-scan planner
        produces for COW commits); a row rewritten in place (same key both
        sides) is correctly absent from the delta."""
        a = self.read(name, version=from_version)
        b = self.read(name, version=to_version)
        keys = keys or a.columns
        added = (
            b.select(*keys).join(a.select(*keys), keys, "left_anti").withColumn("change", F.lit("insert"))
        )
        removed = (
            a.select(*keys).join(b.select(*keys), keys, "left_anti").withColumn("change", F.lit("delete"))
        )
        return added.unionByName(removed)

    def drop(self, name: str) -> None:
        shutil.rmtree(self._table_dir(name), ignore_errors=True)

    # ---- MERGE semantics ---------------------------------------------------
    def merge_insert(self, name: str, batch: DataFrame, keys: list[str]) -> SnapshotInfo:
        """MERGE INTO name USING batch ON keys WHEN NOT MATCHED THEN INSERT.

        Spark plan: dedupe the batch, anti-join against the current snapshot
        (broadcast when the batch is small — typical for incremental deltas),
        union, commit. Equivalent to Iceberg copy-on-write MERGE.
        """
        current = self.read(name)
        fresh = batch.dropDuplicates(keys).join(current.select(keys), keys, "left_anti")
        return self._commit(name, current.unionByName(fresh.select(current.columns)), "merge_insert")

    def merge_delete(self, name: str, batch: DataFrame, keys: list[str]) -> SnapshotInfo:
        """MERGE INTO name USING batch ON keys WHEN MATCHED THEN DELETE."""
        current = self.read(name)
        remaining = current.join(F.broadcast(batch.select(keys).dropDuplicates(keys)), keys, "left_anti")
        return self._commit(name, remaining, "merge_delete")

    def upsert(self, name: str, batch: DataFrame, keys: list[str]) -> SnapshotInfo:
        """MERGE: WHEN MATCHED THEN UPDATE (replace row) / NOT MATCHED THEN INSERT."""
        current = self.read(name)
        kept = current.join(batch.select(keys).dropDuplicates(keys), keys, "left_anti")
        return self._commit(name, kept.unionByName(batch.select(current.columns)), "upsert")

    def merge_min(self, name: str, batch: DataFrame, keys: list[str]) -> SnapshotInfo:
        """MERGE: WHEN MATCHED THEN UPDATE SET v = least(t.v, s.v) / NOT
        MATCHED THEN INSERT — for every non-key column.

        The combining MERGE a running min-winner state table needs (e.g.
        streaming dedup's min-doc-id representative). ``min`` is commutative,
        associative and idempotent, so commits are delivery-order independent
        and replay-safe. Computed as union + grouped min — the same logical
        plan Iceberg's copy-on-write MERGE with a ``least()`` update produces;
        at scale the grouped min is map-side combinable and the only shuffle
        keys on ``keys``.
        """
        current = self.read(name)
        vals = [c for c in current.columns if c not in keys]
        merged = (
            current.unionByName(batch.select(current.columns))
            .groupBy(keys)
            .agg(*[F.min(c).alias(c) for c in vals])
        )
        return self._commit(name, merged.select(current.columns), "merge_min")
