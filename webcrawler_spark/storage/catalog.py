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
- ``load_state(epoch)`` reconstructs exactly the state as of that epoch, so
  resume-from-checkpoint is a manifest read.

On a real cluster the same call sites map 1:1 onto Iceberg:
snapshot tables -> ``writeTo(t).overwritePartitions()``, delta tables ->
``writeTo(t).append()``, manifest -> Iceberg snapshot metadata, and
``load_state`` -> time travel (``VERSION AS OF``). The engine only talks to
this interface, so swapping backends is a one-file change.
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
        # column min/max gathered by stage(stats_cols=...), keyed
        # (table, epoch); commit_epoch folds them into the manifest entry
        self._staged_stats: dict[tuple[str, int], dict] = {}
        # StructType JSON of each staged frame, keyed (table, epoch);
        # commit_epoch records them under the manifest's ``schemas``
        self._staged_schemas: dict[tuple[str, int], dict] = {}
        os.makedirs(root, exist_ok=True)

    # ---- manifest ------------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def read_manifest(self) -> dict:
        path = self._manifest_path()
        if not os.path.exists(path):
            return {"epochs": []}
        with open(path) as f:
            return json.load(f)

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
        stats_cols: tuple[str, ...] = (),
    ) -> int:
        """Write one table's epoch partition; returns row count (lineage).

        ``sort_within_by`` sorts rows inside each written file by that
        column before the write — the parquet emulation of an Iceberg SORT
        ORDER (per-file clustering + min/max stats pruning), a per-partition
        sort with no extra shuffle.

        ``stats_cols`` records manifest-level min/max for those columns
        (Iceberg's manifest column stats): the aggregates ride the same
        write-job Observation as the row count (no extra job), and
        ``read_delta_pruned`` uses them to skip whole epoch partitions
        whose range cannot match a predicate. Numeric/string columns only
        (values must round-trip through the JSON manifest).

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
        # count (and column stats) ride the write job itself (Observation)
        # — no second job
        obs = Observation()
        aggs = [F.count(F.lit(1)).alias("n")]
        for c in stats_cols:
            aggs.append(F.min(c).alias(f"min__{c}"))
            aggs.append(F.max(c).alias(f"max__{c}"))
        df.observe(obs, *aggs).write.mode("overwrite").parquet(path)
        got = obs.get
        self._staged_schemas[(table, epoch)] = df.schema.jsonValue()
        if stats_cols:
            self._staged_stats[(table, epoch)] = {
                c: [got[f"min__{c}"], got[f"max__{c}"]] for c in stats_cols
            }
        return int(got["n"])

    def commit_epoch(self, epoch: int, table_counts: dict[str, int], counters: dict) -> None:
        """Atomic commit: epoch becomes visible only after manifest replace.
        Each committed table's staged schema replaces its ``schemas`` entry."""
        manifest = self.read_manifest()
        manifest["epochs"] = [e for e in manifest["epochs"] if e["epoch"] < epoch]
        entry = {"epoch": epoch, "tables": table_counts, "counters": counters}
        stats = _pop_epoch(self._staged_stats, epoch)
        if stats:
            entry["stats"] = stats
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
            # is a filter on the base — it keeps working even after the
            # original per-epoch dirs are expired.
            #
            # Merge tables are the exception: their compacted base keeps only
            # the latest row per key (superseded statuses are gone), so time
            # travel below the compaction point must read the raw per-epoch
            # dirs — available until expired, exactly Iceberg's snapshot-
            # expiry boundary.
            from pyspark.sql import functions as F

            if table in MERGE_TABLES and comp["as_of"] > as_of_epoch:
                return self._read(
                    manifest, table, self._raw_paths(manifest, table, as_of_epoch)
                )
            paths = [self._compact_dir(table, comp["as_of"])]
            paths += [self._epoch_dir(table, e) for e in committed if e > comp["as_of"]]
            df = self._read(manifest, table, paths)
            if comp["as_of"] > as_of_epoch:
                df = df.filter(F.col(_EPOCH_COL[table]) <= as_of_epoch)
            return df
        return self._read(manifest, table, self._raw_paths(manifest, table, as_of_epoch))

    def read_delta_pruned(
        self, table: str, as_of_epoch: int, col: str, lo, hi
    ) -> DataFrame | None:
        """Delta-union read with manifest-stats partition pruning: epoch
        partitions whose recorded [min, max] of ``col`` cannot intersect
        [lo, hi] are never opened (Iceberg manifest-level file skipping —
        at 10^10 rows over hundreds of epochs, a host-range or recrawl
        query touches only the epochs that wrote that range). Epochs with
        no recorded stats are read (pruning must never drop data). Falls
        back to filter-only on a compacted table (the compacted base spans
        all epochs, so per-epoch stats no longer bound it). The predicate
        filter is ALWAYS applied on top — pruning is an I/O optimization,
        never a semantic one."""
        from pyspark.sql import functions as F

        pred = F.col(col).between(lo, hi)
        manifest = self.read_manifest()
        if manifest.get("compactions", {}).get(table) or manifest.get(
            "expired", {}
        ).get(table):
            df = self._union(manifest, table, as_of_epoch)
            return None if df is None else df.filter(pred)
        stats = {
            e["epoch"]: e.get("stats", {}).get(table, {}).get(col)
            for e in manifest["epochs"]
        }
        keep = []
        for epoch in _committed(manifest, table, as_of_epoch):
            s = stats.get(epoch)
            if s is None or s[0] is None or s[1] is None or (
                not (s[1] < lo or s[0] > hi)
            ):
                keep.append(epoch)
        if not keep:
            return None
        paths = [self._epoch_dir(table, e) for e in keep]
        return self._read(manifest, table, paths).filter(pred)

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

    def read_incremental(
        self, table: str, from_epoch: int, to_epoch: int
    ) -> DataFrame | None:
        """Iceberg incremental scan: rows committed in epochs
        (from_epoch, to_epoch]. For delta tables this is exactly the
        appended rows in the range (incremental-append scan); for merge
        tables it is the NET change per key — the latest row per key among
        rows touched in the range (the CDC net-changes view). This is what
        a downstream consumer (indexer, dedup refresher, corpus builder)
        tails instead of rescanning the whole table each epoch — at
        10^10-URL scale the difference between O(epoch delta) and O(table).

        None if no epoch in the range touched the table; raises if part of
        the range was expired (its per-epoch dirs are gone, as in Iceberg
        once expire_snapshots passes a snapshot)."""
        manifest = self.read_manifest()
        committed = [e for e in _committed(manifest, table, to_epoch) if e > from_epoch]
        if not committed:
            return None
        expired_to = manifest.get("expired", {}).get(table, -1)
        if expired_to >= min(committed):
            raise ValueError(
                f"incremental read of {table} ({from_epoch}, {to_epoch}]: "
                f"deltas <= {expired_to} expired"
            )
        df = self._read(manifest, table, [self._epoch_dir(table, e) for e in committed])
        if table in MERGE_TABLES:
            df = self._resolve_latest(table, df)
        return df

    def rollback_to(self, epoch: int) -> int:
        """Iceberg ``rollback_to_snapshot``: make ``epoch`` the current
        state again. Epochs above it leave the manifest atomically (readers
        see the old state or the rolled-back one, never a mix), their
        now-orphaned per-epoch dirs are reclaimed, and compactions whose
        base folds in rolled-back rows are dropped. Refused when that
        compaction is the only copy of expired deltas — rolling back there
        would lose the pre-rollback rows too (Iceberg refuses the same way
        once expire_snapshots passed the target). Returns epochs dropped."""
        manifest = self.read_manifest()
        comps = manifest.get("compactions", {})
        for t, comp in comps.items():
            expired_to = manifest.get("expired", {}).get(t, -1)
            if comp["as_of"] > epoch and expired_to >= 0:
                raise ValueError(
                    f"cannot roll back to epoch {epoch}: {t} deltas <= "
                    f"{expired_to} exist only inside compact={comp['as_of']}"
                )
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

    def counters(self, epoch: int) -> dict | None:
        for e in self.read_manifest()["epochs"]:
            if e["epoch"] == epoch:
                return e["counters"]
        return None

    # ---- maintenance (Iceberg rewrite_data_files / expire_snapshots analogs) ----
    def compact_delta(self, table: str, as_of_epoch: int) -> int:
        """Rewrite a delta table's per-epoch partitions <= as_of_epoch into
        one consolidated base (Iceberg ``rewrite_data_files``). Without this,
        a delta table read is a union over one directory per epoch — after
        thousands of epochs at 10^10-URL scale that is a small-files problem
        on every seen-set anti-join. Reads are unchanged in value: the base
        carries each row's original epoch column, so lineage survives and
        ``read_delta_union(t, E)`` still returns exactly the union of deltas
        <= E (base + post-compaction deltas). Original partitions are kept
        until ``expire_deltas_before`` (time travel below the compaction
        point keeps working, as with Iceberg snapshot expiry).

        For merge tables the base is the RESOLVED state (latest row per key)
        as of the compaction point — superseded statuses are dropped, so time
        travel below the point needs the raw per-epoch dirs (kept until
        ``expire_deltas_before``).

        Returns the base's row count, observed on the rewrite job itself
        (no re-read); the base's schema replaces the table's manifest
        entry in the same atomic manifest write."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        if table not in DELTA_TABLES | MERGE_TABLES:
            raise ValueError(f"{table} is not a delta table")
        manifest = self.read_manifest()
        if not _committed(manifest, table, as_of_epoch):
            return 0
        df = self._read(manifest, table, self._raw_paths(manifest, table, as_of_epoch))
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

    def snapshot_diff(
        self, table: str, from_epoch: int, to_epoch: int
    ) -> DataFrame | None:
        """Iceberg changelog view (`create_changelog_view` analog) between
        two committed states of a MERGE table: one row per key whose
        resolved state changed in (from_epoch, to_epoch], classified
        'insert' (key absent at from_epoch) or 'update', with the before
        and after rows carried as structs.

        Shape at 10^10 keys: the candidate set is read_incremental's NET
        change (keys TOUCHED in the range — O(epoch delta), never the
        table), and the before-state lookup joins those candidates against
        the resolved from_epoch state on the merge key — the same
        bucket-partitioned key both sides store under, so the join is
        storage-partitioned; the accumulated table streams through it
        once and only candidate keys survive the probe. None if nothing
        in the range touched the table."""
        from pyspark.sql import functions as F

        if table not in MERGE_TABLES:
            raise ValueError(
                f"snapshot_diff is a merge-table changelog; {table} is "
                "append-only — its changelog IS read_incremental"
            )
        after = self.read_incremental(table, from_epoch, to_epoch)
        if after is None:
            return None
        key, seq = _MERGE_KEY[table], _EPOCH_COL[table]
        # the seq column moves on every touch; "changed" means the PAYLOAD
        # moved, so the identity compare excludes it
        payload = [c for c in after.columns if c != seq]
        before = self.read_merged(table, from_epoch)
        a = after.select(F.col(key), F.struct(*after.columns).alias("after"))
        if before is None:
            return a.select(
                key, F.lit("insert").alias("change_type"),
                F.lit(None).cast(a.schema["after"].dataType).alias("before"),
                "after",
            )
        b = before.select(F.col(key), F.struct(*before.columns).alias("before"))
        return (
            a.join(b, key, "left")
            .select(
                key,
                F.when(F.col("before").isNull(), F.lit("insert"))
                .otherwise(F.lit("update"))
                .alias("change_type"),
                "before",
                "after",
            )
            # touched-but-identical keys are not "changes" (Iceberg's net
            # changelog omits them): compare the payload columns, not the
            # seq column, which moves on every touch
            .filter(
                F.col("before").isNull()
                | (
                    F.struct(*[F.col(f"before.{c}") for c in payload])
                    != F.struct(*[F.col(f"after.{c}") for c in payload])
                )
            )
        )

    def file_stats(self, table: str, as_of_epoch: int | None = None) -> DataFrame:
        """Small-files monitor (Iceberg `files` metadata-table analog): one
        row per committed epoch directory — file count and bytes — plus
        the compacted base if present (kind='base'). The gauge that sets
        `CrawlConfig.compact_every`: a delta table read unions one dir per
        epoch, and thousands of tiny files is the classic failure this
        catalog's compaction exists to prevent. Driver-side directory walk
        over the manifest's epoch list — bounded by epoch count (KBs),
        never data-sized."""
        manifest = self.read_manifest()
        if as_of_epoch is None and manifest["epochs"]:
            as_of_epoch = manifest["epochs"][-1]["epoch"]
        rows: list[tuple] = []

        def _du(path: str) -> tuple[int, int]:
            n = b = 0
            for root, _, files in os.walk(path):
                for f in files:
                    if f.endswith(".parquet"):
                        n += 1
                        b += os.path.getsize(os.path.join(root, f))
            return n, b

        if as_of_epoch is not None:
            for e in _committed(manifest, table, as_of_epoch):
                path = self._epoch_dir(table, e)
                if os.path.exists(path):
                    n, b = _du(path)
                    rows.append(("delta", e, n, b))
        comp = manifest.get("compactions", {}).get(table)
        if comp is not None:
            base = self._compact_dir(table, comp["as_of"])
            if os.path.exists(base):
                n, b = _du(base)
                rows.append(("base", comp["as_of"], n, b))
        return self.spark.createDataFrame(
            rows, "kind string, epoch int, n_files long, total_bytes long"
        )

    def expire_deltas_before(self, table: str, epoch: int) -> int:
        """Delete a delta table's per-epoch directories <= epoch (Iceberg
        ``expire_snapshots``). Only legal below an existing compaction point
        — current-state reads are unaffected; time travel below the expiry
        boundary becomes unavailable, as in Iceberg. Returns dirs removed."""
        manifest = self.read_manifest()
        comp = manifest.get("compactions", {}).get(table)
        if comp is None or epoch > comp["as_of"]:
            raise ValueError(
                f"cannot expire {table} deltas <= {epoch}: not covered by a compaction"
            )
        removed = 0
        for e in _committed(manifest, table, epoch):
            path = self._epoch_dir(table, e)
            if os.path.exists(path):
                shutil.rmtree(path)
                removed += 1
        manifest.setdefault("expired", {})[table] = max(
            epoch, manifest.get("expired", {}).get(table, -1)
        )
        self._write_manifest(manifest)
        return removed

    def _compact_dir(self, table: str, as_of: int) -> str:
        return os.path.join(self.root, table, f"compact={as_of}")

    def _raw_paths(self, manifest: dict, table: str, as_of_epoch: int) -> list[str]:
        """Dirs of the raw per-epoch partitions <= as_of_epoch, ignoring any
        compaction; once deltas were expired, the previous compacted base
        stands in under the surviving deltas (requires that base to cover
        as_of_epoch)."""
        committed = _committed(manifest, table, as_of_epoch)
        expired_to = manifest.get("expired", {}).get(table, -1)
        if expired_to < 0:
            return [self._epoch_dir(table, e) for e in committed]
        comp = manifest.get("compactions", {}).get(table)
        if comp is None or comp["as_of"] > as_of_epoch:
            raise ValueError(
                f"time travel to epoch {as_of_epoch} of {table}: deltas <= "
                f"{expired_to} expired"
            )
        live = [e for e in committed if e > comp["as_of"]]
        return [self._compact_dir(table, comp["as_of"])] + [
            self._epoch_dir(table, e) for e in live
        ]


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
