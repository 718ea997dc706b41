"""Stage 4: table materialization with snapshots, a table-level content fold
and resumable restarts.

On a production cluster these tables are Iceberg (``df.writeTo(catalog.table)
.createOrReplace()`` — snapshot isolation, partition pruning, time travel).
This sandbox has no Iceberg runtime jar, so ``SnapshotCatalog`` provides the
same contract on plain parquet directories:

  * atomic snapshot commit: data lands in a freshly claimed
    ``<table>/snap-<id>/`` and the table-level ``manifest.json`` flips to the
    new snapshot last, under a per-table lock and only if it still names
    the snapshot the writer started from (readers always see a complete
    snapshot; a racing writer fails instead of overwriting);
  * one Spark job per unpartitioned commit: the write observes the
    table-level fold ``(rows, checksum)`` (xor of row hashes) in its own
    job, and the manifest carries the committed schema, so reads run no
    job;
  * partitioned commits hash-distributed by their partition columns, as
    Iceberg's Spark writer does by default: a rebalance stage ahead of the
    write gives each partition value one writer task, so a commit writes
    one file per value (split only past the AQE advisory size) instead of
    one per write task and value. That stage is a second job, and it costs
    less than the files it saves; the manifest's ``added_files`` counts
    what a commit wrote;
  * append snapshots: like an Iceberg append, a snapshot's manifest lists
    its parent's data directories plus its own, so an append writes only
    the new rows and its fold is the parent's fold plus theirs;
  * resume: ``is_complete(table)`` lets a rerun skip finished stages and
    ``read`` serves the committed snapshot, so a killed pipeline restarts
    from its last snapshot without recomputing completed work.

The writer API is deliberately Iceberg-shaped so swapping the backend is a
one-module change.
"""

from __future__ import annotations

import contextlib
import fcntl
import functools
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import (ArrayType, DataType, MapType, StringType,
                               StructField, StructType)


class CommitConflict(RuntimeError):
    """The table's current snapshot moved while a commit was being written."""


def _fold(schema: StructType, columns: list[str]):
    """Aggregate expressions of the table-level fold over ``columns``, in
    committed order: row count and xor of row hashes (order-independent, so
    any split planning of a re-read folds to the same value). Values hash
    in their own types, which the manifest's schema keeps through a re-read;
    ``xxhash64`` refuses maps, so a column holding one hashes its string
    form, and a partitioned write stores an empty-string partition value as
    null, so strings hash with '' read as null."""
    def value(c):
        dt = schema[c].dataType
        if isinstance(dt, StringType):
            return F.nullif(F.col(c), F.lit(""))
        if "map<" in dt.simpleString():
            return F.col(c).cast("string")
        return F.col(c)

    row_hash = F.xxhash64(*[value(c) for c in columns])
    return F.count(F.lit(1)).alias("rows"), F.bit_xor(row_hash).alias("checksum")


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field and element nullable — what parquet reads back."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True,
                                       f.metadata) for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(dt.keyType, _nullable(dt.valueType), True)
    return dt


def _dump(path: str, obj: dict):
    """Write ``obj`` as JSON to ``path`` atomically."""
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(path + ".tmp", path)


def _count_files(path: str) -> int:
    """The parquet data files under ``path``."""
    return sum(name.endswith(".parquet")
               for _, _, names in os.walk(path) for name in names)


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "manifest.json")

    def _history_path(self, table: str, snapshot_id: int) -> str:
        return os.path.join(self._table_dir(table),
                            f"manifest-{snapshot_id}.json")

    def manifest(self, table: str) -> dict | None:
        path = self._manifest_path(table)
        if not os.path.exists(path):
            return None
        return _load(path)

    def is_complete(self, table: str) -> bool:
        m = self.manifest(table)
        return bool(m and m.get("status") == "committed")

    @contextlib.contextmanager
    def _locked(self, table: str):
        """Exclusive per-table lock (flock: held per open file, so it also
        excludes other threads of this process)."""
        os.makedirs(self._table_dir(table), exist_ok=True)
        with open(os.path.join(self._table_dir(table), ".lock"), "a") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            yield  # closing the file releases the lock

    # -- lineage ----------------------------------------------------------
    @staticmethod
    def _partition_lineage(df: DataFrame) -> dict:
        """Re-derive ``df``'s table-level fold ``{"rows", "checksum"}`` with
        one aggregate job (what ``verify_snapshot`` compares against the
        fold the write observed)."""
        r = df.agg(*_fold(df.schema, df.columns)).first()
        return {"rows": r["rows"], "checksum": r["checksum"] or 0}

    # -- write / read -----------------------------------------------------
    def _ids(self, table: str, prefix: str, suffix: str = "") -> list[int]:
        """Ids of the ``<prefix><id><suffix>`` entries of the table dir."""
        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return []
        ids = []
        for name in os.listdir(tdir):
            if name.startswith(prefix) and name.endswith(suffix):
                with contextlib.suppress(ValueError):
                    ids.append(int(name[len(prefix):len(name) - len(suffix)]))
        return sorted(ids)

    def _snapshot_ids(self, table: str) -> list[int]:
        """Committed snapshot ids, from the per-snapshot manifest history."""
        return self._ids(table, "manifest-", ".json")

    def _claim_snapshot_dir(self, table: str) -> int:
        """Claim the next free ``snap-<id>`` with an exclusive mkdir. Ids
        start above every committed snapshot and every claimed directory,
        so a write after rollback() or beside a racing writer never reuses
        one."""
        os.makedirs(self._table_dir(table), exist_ok=True)
        snap_id = max(self._snapshot_ids(table)
                      + self._ids(table, "snap-"), default=0) + 1
        while True:
            try:
                os.mkdir(os.path.join(self._table_dir(table), f"snap-{snap_id}"))
                return snap_id
            except FileExistsError:
                snap_id += 1

    def write(self, df: DataFrame, table: str, partition_by=(),
              append: bool = False) -> dict:
        """Commit ``df`` as the table's next snapshot: one Spark job, plus
        a rebalance stage by ``partition_by`` when the table is partitioned
        (so the commit writes one file per partition value, not one per task
        and value). With ``append`` the snapshot is the current one plus
        ``df``'s rows: only those are written, and the manifest inherits the
        parent's data directories. Raises :class:`CommitConflict` when
        another commit moved the table meanwhile."""
        t0 = time.time()
        parent = self.manifest(table)
        if append and parent:  # line the columns up by name, as unionByName
            df = df.select(*[f["name"] for f in parent["schema"]["fields"]])
        partition_by = list(partition_by)
        columns = [c for c in df.columns if c not in partition_by] + partition_by
        schema = _nullable(StructType([df.schema[c] for c in columns])).jsonValue()
        base = {"dirs": [], "rows": 0, "checksum": 0}
        if append and parent:
            if (parent["schema"], parent["partition_by"]) != (schema, partition_by):
                raise ValueError(
                    f"append to {table!r}: schema or partitioning differs "
                    "from the current snapshot")
            base = parent
        snap_id = self._claim_snapshot_dir(table)
        own = f"snap-{snap_id}"
        own_dir = os.path.join(self._table_dir(table), own)
        try:
            obs = Observation()
            if partition_by:
                # one writer task per partition value. A rebalance, not a
                # repartition: AQE may split a skewed rebalance partition at
                # the advisory size, but never a repartition's
                df = df.hint("rebalance", *partition_by)
            # the observe stays the last operator before the write: it runs in
            # the write's result stage, whose accumulator updates Spark
            # applies once per partition
            writer = (df.observe(obs, *_fold(df.schema, columns))
                      .write.mode("append"))
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(own_dir)
            fold = obs.get
            manifest = {
                "table": table,
                "snapshot_id": snap_id,
                "status": "committed",
                "rows": base["rows"] + fold["rows"],
                "added_rows": fold["rows"],
                "added_files": _count_files(own_dir),
                "checksum": base["checksum"] ^ (fold["checksum"] or 0),
                "partition_by": partition_by,
                "schema": schema,
                "dirs": base["dirs"] + [own],
                "wall_ms": int((time.time() - t0) * 1000),
                "parent": parent["snapshot_id"] if parent else None,
            }
            self._swap_pointer(table, manifest)
        except BaseException:
            # no manifest names the claimed directory until its history
            # manifest exists; before that, the data is this writer's alone
            if not os.path.exists(self._history_path(table, snap_id)):
                shutil.rmtree(own_dir, ignore_errors=True)
            raise
        return manifest

    def _swap_pointer(self, table: str, manifest: dict):
        """Immutable per-snapshot manifest first (the history record), then
        the current pointer — the pointer replace is the atomic commit. Both
        happen under the table lock and only while the pointer still names
        the snapshot this commit was built on."""
        with self._locked(table):
            current = self.manifest(table)
            if (current["snapshot_id"] if current else None) != manifest["parent"]:
                raise CommitConflict(
                    f"table {table!r} moved from snapshot {manifest['parent']} "
                    f"to {current['snapshot_id'] if current else None}")
            _dump(self._history_path(table, manifest["snapshot_id"]), manifest)
            _dump(self._manifest_path(table), manifest)

    def _snapshot(self, table: str, snapshot_id: int | None) -> dict:
        """The manifest of ``snapshot_id``, or of the current pointer."""
        if snapshot_id is None:
            m = self.manifest(table)
            if not m or m.get("status") != "committed":
                raise FileNotFoundError(
                    f"table {table!r} has no committed snapshot")
            return m
        if snapshot_id not in self._snapshot_ids(table):
            raise FileNotFoundError(
                f"table {table!r} has no committed snapshot {snapshot_id}")
        return _load(self._history_path(table, snapshot_id))

    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame:
        """Read the current snapshot, or TIME TRAVEL to ``snapshot_id``
        (any snapshot in the history — snap dirs are immutable). The
        manifest's schema spares Spark the footer-inference job, and each
        data directory is its own read (Spark reads several partitioned
        roots only as a union)."""
        m = self._snapshot(table, snapshot_id)
        reader = self.spark.read.schema(StructType.fromJson(m["schema"]))
        return functools.reduce(DataFrame.union, [
            reader.parquet(os.path.join(self._table_dir(table), d))
            for d in m["dirs"]])

    def history(self, table: str) -> list[dict]:
        """All committed snapshot manifests, oldest first (Iceberg
        ``table.history()`` shape: id, parent, rows, checksum, dirs)."""
        return [_load(self._history_path(table, sid))
                for sid in self._snapshot_ids(table)]

    def incremental_read(self, table: str, from_snapshot: int,
                         to_snapshot: int | None = None):
        """Iceberg incremental-consumption surface (``incremental read`` /
        changelog scan): the rows ADDED and REMOVED between two committed
        snapshots — what a downstream consumer processes to catch up from
        ``from_snapshot`` without rescanning the table. Returns
        ``(added_df, removed_df)``; ``to_snapshot`` defaults to the current
        pointer. Both snapshots stay immutable on disk, so the diff is two
        ``exceptAll`` scans (multiset semantics: duplicate rows diff by
        count) — at 10^12 docs a real Iceberg changelog avoids the scans via
        per-file manifests, which is the swap-note path."""
        new = self.read(table, to_snapshot)
        old = self.read(table, from_snapshot)
        return new.exceptAll(old), old.exceptAll(new)

    def rollback(self, table: str, snapshot_id: int) -> dict:
        """Repoint the table to an older snapshot (atomic pointer swap under
        the table lock; no data is rewritten, and later writes get fresh ids
        — history keeps the abandoned snapshots)."""
        with self._locked(table):
            manifest = self._snapshot(table, snapshot_id)
            _dump(self._manifest_path(table), manifest)
        return manifest

    def expire_snapshots(self, table: str, keep_last: int = 2) -> list[int]:
        """Iceberg-style snapshot expiry (``expireSnapshots`` maintenance):
        delete history manifests older than the ``keep_last`` most recent,
        ALWAYS keeping the current pointer's snapshot (a rolled-back table
        never loses its live data), and the data directories that no kept
        manifest lists (append snapshots share their parent's). Returns the
        removed snapshot ids; time travel to them raises afterwards."""
        with self._locked(table):
            current = self.manifest(table)
            ids = self._snapshot_ids(table)
            keep = set(ids[-keep_last:] if keep_last > 0 else [])
            if current:
                keep.add(current["snapshot_id"])
            live = set(current["dirs"] if current else [])
            for sid in keep & set(ids):
                live.update(_load(self._history_path(table, sid))["dirs"])
            removed, doomed = [], set()
            for sid in ids:
                if sid in keep:
                    continue
                path = self._history_path(table, sid)
                # manifests go before data: an interrupted expiry leaves
                # unlisted directories, never a manifest without its data
                with contextlib.suppress(FileNotFoundError):
                    doomed.update(_load(path)["dirs"])
                    os.remove(path)
                removed.append(sid)
            for d in doomed - live:
                shutil.rmtree(os.path.join(self._table_dir(table), d),
                              ignore_errors=True)
        return removed

    def write_metrics(self, stage: str, payload: dict):
        """Append a stage-level metrics record (the `_metrics` table)."""
        path = os.path.join(self.base_dir, "_metrics.jsonl")
        with open(path, "a") as f:
            f.write(json.dumps({"stage": stage, **payload}) + "\n")


def verify_snapshot(catalog: SnapshotCatalog, table: str) -> dict:
    """Re-read the committed snapshot, re-derive its fold, and compare it
    with the fold the writes observed: total rows and the xor of row hashes
    (independent of how the re-read is split). Detects on-disk corruption or
    a manifest out of sync with its data, in inherited directories too."""
    manifest = catalog.manifest(table)
    if not manifest or manifest.get("status") != "committed":
        return {"ok": False, "error": "no committed snapshot"}
    actual = catalog._partition_lineage(catalog.read(table))
    return {"ok": actual == {"rows": manifest["rows"],
                             "checksum": manifest["checksum"]},
            "rows_expected": manifest["rows"], "rows_actual": actual["rows"]}
