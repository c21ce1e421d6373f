"""Snapshot-versioned table catalog — Iceberg semantics over plain Parquet.

The north rule requires Iceberg/Parquet snapshot checkpoints with
per-partition lineage + counters, resumable per epoch. The Iceberg runtime
jar is not available offline in this sandbox, so this module provides the
same *semantics* on plain Parquet with an atomic JSON manifest:

- each epoch commit writes table data under ``{root}/{table}/epoch={E}/``
  (delta tables append a partition; snapshot tables replace state);
- a single ``manifest.json`` is the commit point: a crash between data write
  and manifest rename leaves the previous epoch fully readable (write-temp +
  os.replace = atomic on POSIX);
- the manifest records per-epoch, per-table row counts and the observed
  pipeline counters (A1/A2 processing stats) — the per-partition lineage;
- the manifest also holds each table's schema (``schemas``, one StructType
  JSON per table, replaced by the latest commit that staged the table), so
  every read is planned from the manifest alone: no parquet footer is
  opened and no Spark job runs until the caller's own action, as Iceberg
  plans from its table metadata. A table staged only by a manifest that
  predates ``schemas`` keeps footer inference until its next commit;
- every read takes an ``as_of_epoch`` and returns exactly the state as of
  that epoch, so resume-from-checkpoint is a manifest read.

On a real cluster the same call sites map 1:1 onto Iceberg:
snapshot tables -> ``writeTo(t).overwritePartitions()``, delta tables ->
``writeTo(t).append()``, manifest -> Iceberg snapshot metadata, and the
``as_of_epoch`` reads -> time travel (``VERSION AS OF``). The engine only
talks to this interface, so swapping backends is a one-file change.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST = "manifest.json"

# tables whose epoch partition is a *delta* (union across epochs = state)
DELTA_TABLES = {"seen", "links", "web_content", "schedule", "postings", "fetch_digests"}
# merge-on-read tables (Iceberg MERGE INTO shape): each epoch appends only the
# rows it TOUCHED; current state = latest row per key. This is what keeps the
# per-epoch frontier write O(epoch activity) instead of an O(total-frontier)
# snapshot rewrite — the difference between a bounded epoch cost and a
# full-table shuffle+rewrite per epoch at 10^10 frontier rows.
MERGE_TABLES = {"frontier"}
_MERGE_KEY = {"frontier": "url_fp"}
# each delta/merge row's lineage column (used to time-travel into a compacted
# base, and as the latest-wins sequence number for merge tables)
_EPOCH_COL = {
    "seen": "epoch",
    "schedule": "epoch",
    "links": "discovered_epoch",
    "web_content": "crawled_epoch",
    "postings": "crawled_epoch",
    "fetch_digests": "epoch",
    "frontier": "status_epoch",
}
# tables whose epoch partition is a full *snapshot* (latest wins)
SNAPSHOT_TABLES = {"deferred", "host_stats", "seen_bloom"}


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # StructType JSON of each staged frame, keyed (table, epoch);
        # commit_epoch records them under the manifest's ``schemas``
        self._staged_schemas: dict[tuple[str, int], dict] = {}
        os.makedirs(root, exist_ok=True)

    # ---- manifest ------------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def read_manifest(self) -> dict:
        """The committed manifest; refuses one that records expired deltas
        (a layout whose time travel this catalog cannot serve)."""
        path = self._manifest_path()
        if not os.path.exists(path):
            return {"epochs": []}
        with open(path) as f:
            manifest = json.load(f)
        if "expired" in manifest:
            raise ValueError(
                f"{path} records expired deltas of {sorted(manifest['expired'])}; "
                "this catalog does not read an expired layout"
            )
        return manifest

    def _write_manifest(self, manifest: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path())  # atomic commit point

    def last_committed_epoch(self) -> int | None:
        epochs = self.read_manifest()["epochs"]
        return epochs[-1]["epoch"] if epochs else None

    # ---- write / commit --------------------------------------------------------
    def _epoch_dir(self, table: str, epoch: int) -> str:
        return os.path.join(self.root, table, f"epoch={epoch}")

    def stage(
        self,
        table: str,
        epoch: int,
        df: DataFrame,
        sort_within_by: str | None = None,
    ) -> int:
        """Write one table's epoch partition; returns row count (lineage).

        ``sort_within_by`` sorts rows inside each written file by that
        column before the write — the parquet emulation of an Iceberg SORT
        ORDER (per-file clustering + min/max stats pruning), a per-partition
        sort with no extra shuffle.

        The frame's schema is kept for ``commit_epoch`` to record in the
        manifest, so later reads of the table need no footer inference.
        """
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        path = self._epoch_dir(table, epoch)
        if os.path.exists(path):
            shutil.rmtree(path)  # idempotent re-run of an uncommitted epoch
        if sort_within_by:
            df = df.sortWithinPartitions(sort_within_by)
        # the count rides the write job itself (Observation) — no second job
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(path)
        self._staged_schemas[(table, epoch)] = df.schema.jsonValue()
        return int(obs.get["n"])

    def commit_epoch(self, epoch: int, table_counts: dict[str, int], counters: dict) -> None:
        """Atomic commit: epoch becomes visible only after manifest replace.
        Each committed table's staged schema replaces its ``schemas`` entry."""
        manifest = self.read_manifest()
        manifest["epochs"] = [e for e in manifest["epochs"] if e["epoch"] < epoch]
        entry = {"epoch": epoch, "tables": table_counts, "counters": counters}
        manifest["epochs"].append(entry)
        schemas = _pop_epoch(self._staged_schemas, epoch)
        manifest.setdefault("schemas", {}).update(
            {t: sc for t, sc in schemas.items() if t in table_counts}
        )
        self._write_manifest(manifest)

    # ---- read ------------------------------------------------------------------
    def _read(self, manifest: dict, table: str, paths: list[str]) -> DataFrame:
        """Parquet read of ``paths`` through the schema the manifest holds
        for ``table``: planning opens no footer and submits no Spark job.
        A table whose schema a pre-``schemas`` manifest never recorded
        falls back to footer inference (one job) until its next commit."""
        schema = manifest.get("schemas", {}).get(table)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(*paths)

    def read_delta_union(self, table: str, as_of_epoch: int) -> DataFrame | None:
        """State of a delta table = union of committed partitions <= epoch.
        Only manifest-committed epoch dirs are read (uncommitted data is
        invisible — snapshot isolation); each delta row carries its own epoch
        column for lineage, so no partition inference is needed, and the
        manifest holds the table's schema, so no footer inference either:
        building the read is one manifest parse and no Spark job."""
        return self._union(self.read_manifest(), table, as_of_epoch)

    def _union(self, manifest: dict, table: str, as_of_epoch: int) -> DataFrame | None:
        committed = _committed(manifest, table, as_of_epoch)
        if not committed or not os.path.exists(os.path.join(self.root, table)):
            return None
        comp = manifest.get("compactions", {}).get(table)
        if comp:
            # compacted base + deltas after the compaction point: one dir
            # instead of one per epoch. Because every base row keeps its
            # lineage epoch column, time travel BELOW the compaction point
            # is a filter on the base.
            #
            # Merge tables are the exception: their compacted base keeps only
            # the latest row per key (superseded statuses are gone), so time
            # travel below the compaction point reads the raw per-epoch dirs,
            # which compaction keeps.
            from pyspark.sql import functions as F

            if table in MERGE_TABLES and comp["as_of"] > as_of_epoch:
                return self._read(manifest, table, self._raw_paths(table, committed))
            paths = [self._compact_dir(table, comp["as_of"])]
            paths += [self._epoch_dir(table, e) for e in committed if e > comp["as_of"]]
            df = self._read(manifest, table, paths)
            if comp["as_of"] > as_of_epoch:
                df = df.filter(F.col(_EPOCH_COL[table]) <= as_of_epoch)
            return df
        return self._read(manifest, table, self._raw_paths(table, committed))

    def read_merged(self, table: str, as_of_epoch: int) -> DataFrame | None:
        """Resolved current state of a merge table as of an epoch: the latest
        row per key across the touched-rows deltas (Iceberg merge-on-read).
        One hash exchange on the merge key; per-epoch COMMITS never pay it —
        only explicit state reads (analytics, tests, compaction) do."""
        df = self.read_delta_union(table, as_of_epoch)
        if df is None:
            return None
        return self._resolve_latest(table, df)

    def _resolve_latest(self, table: str, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        key, seq = _MERGE_KEY[table], _EPOCH_COL[table]
        w = Window.partitionBy(key).orderBy(F.desc(seq))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def read_snapshot(self, table: str, as_of_epoch: int) -> DataFrame | None:
        """Latest committed snapshot partition <= epoch."""
        manifest = self.read_manifest()
        committed = _committed(manifest, table, as_of_epoch)
        if not committed:
            return None
        path = self._epoch_dir(table, max(committed))
        if not os.path.exists(path):
            return None
        return self._read(manifest, table, [path])

    def rollback_to(self, epoch: int) -> int:
        """Iceberg ``rollback_to_snapshot``: make ``epoch`` the current
        state again. Epochs above it leave the manifest atomically (readers
        see the old state or the rolled-back one, never a mix), their
        now-orphaned per-epoch dirs are reclaimed, and compactions whose
        base folds in rolled-back rows are dropped. Returns epochs dropped."""
        manifest = self.read_manifest()
        comps = manifest.get("compactions", {})
        dropped = [e for e in manifest["epochs"] if e["epoch"] > epoch]
        manifest["epochs"] = [e for e in manifest["epochs"] if e["epoch"] <= epoch]
        stale_comp_dirs = []
        for t in list(comps):
            if comps[t]["as_of"] > epoch:
                stale_comp_dirs.append(self._compact_dir(t, comps[t]["as_of"]))
                del comps[t]
        self._write_manifest(manifest)  # atomic rollback commit point
        for path in stale_comp_dirs:
            if os.path.exists(path):
                shutil.rmtree(path)
        for e in dropped:
            for t in e["tables"]:
                path = self._epoch_dir(t, e["epoch"])
                if os.path.exists(path):
                    shutil.rmtree(path)
        return len(dropped)

    # ---- maintenance (Iceberg rewrite_data_files analog) ---------------------------
    def compact_delta(self, table: str, as_of_epoch: int) -> int:
        """Rewrite a delta table's per-epoch partitions <= as_of_epoch into
        one consolidated base (Iceberg ``rewrite_data_files``). Without this,
        a delta table read is a union over one directory per epoch — after
        thousands of epochs at 10^10-URL scale that is a small-files problem
        on every seen-set anti-join. Reads are unchanged in value: the base
        carries each row's original epoch column, so lineage survives and
        ``read_delta_union(t, E)`` still returns exactly the union of deltas
        <= E (base + post-compaction deltas).

        For merge tables the base is the RESOLVED state (latest row per key)
        as of the compaction point — superseded statuses are dropped, so time
        travel below the point reads the raw per-epoch dirs, which are kept.

        Returns the base's row count, observed on the rewrite job itself
        (no re-read); the base's schema replaces the table's manifest
        entry in the same atomic manifest write."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        if table not in DELTA_TABLES | MERGE_TABLES:
            raise ValueError(f"{table} is not a delta table")
        manifest = self.read_manifest()
        committed = _committed(manifest, table, as_of_epoch)
        if not committed:
            return 0
        df = self._read(manifest, table, self._raw_paths(table, committed))
        if table in MERGE_TABLES:
            df = self._resolve_latest(table, df)
        path = self._compact_dir(table, as_of_epoch)
        if os.path.exists(path):
            shutil.rmtree(path)
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(path)
        n = int(obs.get["n"])
        prev_comp = manifest.get("compactions", {}).get(table)
        manifest.setdefault("compactions", {})[table] = {"as_of": as_of_epoch}
        manifest.setdefault("schemas", {})[table] = df.schema.jsonValue()
        self._write_manifest(manifest)  # atomic: readers see old layout or new
        # reclaim the superseded base (nothing reads it once the manifest
        # points at the new one; with compact_every over a long crawl the
        # old bases would otherwise each leak a full table copy). On a real
        # cluster with concurrent readers this deferred delete is Iceberg's
        # expire_snapshots job.
        if prev_comp and prev_comp["as_of"] != as_of_epoch:
            old = self._compact_dir(table, prev_comp["as_of"])
            if os.path.exists(old):
                shutil.rmtree(old)
        return n

    def _compact_dir(self, table: str, as_of: int) -> str:
        return os.path.join(self.root, table, f"compact={as_of}")

    def _raw_paths(self, table: str, epochs: list[int]) -> list[str]:
        """Dirs of the raw per-epoch partitions, ignoring any compaction."""
        return [self._epoch_dir(table, e) for e in epochs]


def _committed(manifest: dict, table: str, as_of_epoch: int) -> list[int]:
    """Epochs <= as_of_epoch whose commit staged ``table``."""
    return [
        e["epoch"]
        for e in manifest["epochs"]
        if e["epoch"] <= as_of_epoch and table in e["tables"]
    ]


def _pop_epoch(staged: dict[tuple[str, int], dict], epoch: int) -> dict[str, dict]:
    """Remove and return ``{table: value}`` for the entries staged at epoch."""
    return {t: staged.pop((t, e)) for (t, e) in list(staged) if e == epoch}
