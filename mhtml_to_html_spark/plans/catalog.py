"""Snapshot/checkpoint catalog — Iceberg's layout in miniature.

No Iceberg jars ship in this environment (bare pyspark), so the crawl
checkpoints go through this seam instead: immutable Parquet data files
+ a JSON manifest per snapshot carrying snapshot id, parent pointer,
per-table row counts, per-partition lineage (file → rows), and the
round's fetch metrics. If Iceberg jars appear, this class binds to
real Iceberg tables with no caller changes (same write/load/latest
surface).

Writing a snapshot and reading it back also serves as the round's
lineage cut (the role ``localCheckpoint`` plays in iterative Spark
jobs) — each crawl round starts from files, not from a
6-rounds-deep lazy plan.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    # -- helpers -----------------------------------------------------------

    def _snap_dir(self, snapshot_id: int) -> str:
        return os.path.join(self.root, "snapshots", f"snap_{snapshot_id:06d}")

    def _write_manifest(self, snapshot_id: int, manifest: dict[str, Any]) -> None:
        """Commit a snapshot: the manifest's existence is the commit
        marker, so it is written to a temp file and swapped in with
        ``os.replace`` (atomic on POSIX — Iceberg's metadata swap). A
        crash mid-dump leaves only the temp file, which no reader
        lists; the previous snapshot stays the latest."""
        path = os.path.join(self._snap_dir(snapshot_id), "manifest.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, path)

    def list_snapshots(self) -> list[int]:
        base = os.path.join(self.root, "snapshots")
        ids = []
        for name in os.listdir(base):
            if name.startswith("snap_") and os.path.exists(
                os.path.join(base, name, "manifest.json")
            ):
                ids.append(int(name.split("_")[1]))
        return sorted(ids)

    # -- write -------------------------------------------------------------

    def write_snapshot(
        self,
        tables: dict[str, DataFrame],
        metrics: dict[str, Any] | None = None,
        round_idx: int | None = None,
    ) -> int:
        existing = self.list_snapshots()
        snapshot_id = (existing[-1] + 1) if existing else 0
        parent = existing[-1] if existing else None
        snap_dir = self._snap_dir(snapshot_id)
        manifest: dict[str, Any] = {
            "snapshot_id": snapshot_id,
            "parent_id": parent,
            "round": round_idx,
            "created_ms": int(time.time() * 1000),
            "tables": {},
            "metrics": metrics or {},
        }
        for name, df in tables.items():
            path = os.path.join(snap_dir, name)
            df.write.mode("overwrite").parquet(path)
            files = []
            spark = df.sparkSession
            stats = spark.read.parquet(path)
            # per-partition lineage: every data file with its row count
            import pyspark.sql.functions as F

            per_file = (
                stats.groupBy(F.input_file_name().alias("file"))
                .count()
                .collect()
            )
            total = 0
            for row in per_file:
                files.append({"file": os.path.basename(row["file"]), "rows": row["count"]})
                total += row["count"]
            manifest["tables"][name] = {"rows": total, "files": sorted(files, key=lambda f: f["file"])}
        self._write_manifest(snapshot_id, manifest)
        return snapshot_id

    # -- read ---------------------------------------------------------------

    def latest(self) -> dict[str, Any] | None:
        ids = self.list_snapshots()
        if not ids:
            return None
        return self.manifest(ids[-1])

    def manifest(self, snapshot_id: int) -> dict[str, Any]:
        with open(os.path.join(self._snap_dir(snapshot_id), "manifest.json")) as f:
            return json.load(f)

    def load_table(self, spark: SparkSession, snapshot_id: int, name: str) -> DataFrame:
        entry = self.manifest(snapshot_id)["tables"].get(name) or {}
        # a table entry may reference another snapshot's data files
        # (Iceberg's unchanged-manifest reuse — see merge_table)
        path = entry.get("path") or os.path.join(self._snap_dir(snapshot_id), name)
        return spark.read.parquet(path)

    def _carry_parent_refs(
        self, snapshot_id: int, parent: dict[str, Any], exclude: str
    ) -> None:
        """Carry the parent snapshot's unchanged sibling tables into the
        new manifest as REFERENCES to the parent's data files (Iceberg's
        unchanged-manifest reuse) — only the rewritten table gets new
        files."""
        man = self.manifest(snapshot_id)
        changed = False
        for other, entry in parent["tables"].items():
            if other == exclude or other in man["tables"]:
                continue
            path = entry.get("path") or os.path.join(
                self._snap_dir(parent["snapshot_id"]), other
            )
            man["tables"][other] = {**entry, "path": path}
            changed = True
        if changed:
            self._write_manifest(snapshot_id, man)

    # -- maintenance ---------------------------------------------------------

    def compact_table(
        self,
        spark: SparkSession,
        name: str,
        target_files: int = 1,
        metrics: dict[str, Any] | None = None,
    ) -> int:
        """Small-file compaction (Iceberg ``rewrite_data_files`` in
        miniature): rewrite the latest snapshot's table into
        ``target_files`` files as a NEW snapshot — rows identical, file
        count bounded; history still time-travels to the fragmented
        version. Incremental ingest appends a file per micro-batch/
        round, so compaction is what keeps scan task counts sane."""
        parent = self.latest()
        if parent is None or name not in parent["tables"]:
            raise KeyError(f"no table {name!r} in the latest snapshot")
        df = self.load_table(spark, parent["snapshot_id"], name).coalesce(target_files)
        snapshot_id = self.write_snapshot(
            {name: df}, metrics={**(metrics or {}), "compacted": name}
        )
        self._carry_parent_refs(snapshot_id, parent, exclude=name)
        return snapshot_id

    # -- merge ---------------------------------------------------------------

    def merge_table(
        self,
        spark: SparkSession,
        name: str,
        updates: DataFrame,
        key_cols: list[str],
        metrics: dict[str, Any] | None = None,
        round_idx: int | None = None,
    ) -> int:
        """MERGE INTO in miniature (Iceberg copy-on-write semantics):
        rows of ``updates`` replace same-key rows of the latest
        snapshot's table, new keys append, and the result is a NEW
        immutable snapshot (time travel to the parent still sees the
        pre-merge table).

        Schema evolution is additive (Iceberg's rule): a column present
        on only one side is null-filled on the other, so old snapshots
        stay readable and new columns appear without a rewrite of
        history. Sibling tables of the parent snapshot ride into the
        new manifest as REFERENCES to the parent's data files — only
        the merged table's files are rewritten.

        Shape at scale: one left-anti join of the base against the
        update keys (broadcastable when the update batch is small — the
        common incremental-ingest case) + a union; never a row-by-row
        driver loop."""
        import pyspark.sql.functions as F

        # real MERGE INTO errors when one target row matches several
        # update rows; mirror that contract up front (one agg, two longs)
        ucounts = updates.agg(
            F.count("*").alias("n"),
            F.count_distinct(*[F.col(c) for c in key_cols]).alias("d"),
        ).collect()[0]
        if int(ucounts["n"]) != int(ucounts["d"]):
            raise ValueError(
                f"updates batch is not key-unique on {key_cols}: "
                f"{int(ucounts['n'])} rows, {int(ucounts['d'])} distinct keys"
            )
        parent = self.latest()
        if parent is not None and name in parent["tables"]:
            base = self.load_table(spark, parent["snapshot_id"], name)
            for c, t in updates.dtypes:
                if c not in base.columns:
                    base = base.withColumn(c, F.lit(None).cast(t))
            for c, t in base.dtypes:
                if c not in updates.columns:
                    updates = updates.withColumn(c, F.lit(None).cast(t))
            cols = base.columns
            merged = (
                base.join(updates.select(*key_cols).distinct(), key_cols, "left_anti")
                .select(*cols)
                .unionByName(updates.select(*cols))
            )
        else:
            merged = updates
        snapshot_id = self.write_snapshot({name: merged}, metrics=metrics, round_idx=round_idx)
        if parent is not None:
            self._carry_parent_refs(snapshot_id, parent, exclude=name)
        return snapshot_id

    # -- retention -----------------------------------------------------------

    def expire_snapshots(self, keep_last: int = 2) -> dict[str, Any]:
        """Iceberg ``expire_snapshots`` in miniature: drop all but the
        last ``keep_last`` snapshots and garbage-collect their data
        files — EXCEPT table directories still referenced by a retained
        manifest (merge/compact carry unchanged sibling tables by
        reference to the parent's files, so an expired snapshot's data
        can outlive its manifest; references are stored as resolved
        paths, so direct reachability is the full closure).

        The manifest goes first — the snapshot stops being listable/
        time-travelable even while referenced data dirs survive. The
        oldest retained manifest's parent pointer dangles afterwards
        (Iceberg's expired-parent behavior). Returns expired/retained
        ids and the number of files removed."""
        import shutil

        ids = self.list_snapshots()
        retained = ids[-keep_last:] if keep_last > 0 else []
        expired = [i for i in ids if i not in retained]
        reachable = set()
        for sid in retained:
            man = self.manifest(sid)
            for name, entry in man["tables"].items():
                path = entry.get("path") or os.path.join(self._snap_dir(sid), name)
                reachable.add(os.path.normpath(path))
        removed_files = 0
        # sweep EVERY snapshot dir, not just ids with manifests: a dir
        # expired earlier may have kept data that a then-retained
        # manifest referenced — once that manifest is itself replaced
        # or expired, the orphaned data must finally be collected
        base = os.path.join(self.root, "snapshots")
        for name in sorted(os.listdir(base)):
            if not name.startswith("snap_"):
                continue
            sid = int(name.split("_")[1])
            if sid in retained:
                continue
            sdir = os.path.join(base, name)
            mpath = os.path.join(sdir, "manifest.json")
            if os.path.exists(mpath):
                os.remove(mpath)
                removed_files += 1
            for entry_name in os.listdir(sdir):
                p = os.path.normpath(os.path.join(sdir, entry_name))
                if p in reachable:
                    continue
                if os.path.isdir(p):
                    removed_files += sum(len(fs) for _, _, fs in os.walk(p))
                    shutil.rmtree(p)
                else:
                    os.remove(p)
                    removed_files += 1
            if not os.listdir(sdir):
                os.rmdir(sdir)
        return {
            "expired": expired,
            "retained": retained,
            "removed_files": removed_files,
        }
