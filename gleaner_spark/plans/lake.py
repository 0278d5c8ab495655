"""Lake tables: append-only parquet with an Iceberg-style snapshot log.

The object store *is* Gleaner's durable table (docs/docs.md:36-48 —
content-hash keys make writes idempotent and additive). Here each
logical table is a directory of immutable parquet files plus a
``_snapshots.json`` manifest listing, per committed snapshot, the data
files that belong to it. That gives us the Iceberg properties the
north rule needs without the (unavailable-offline) Iceberg runtime:

- atomic append  (write files → fsync → append manifest entry last)
- snapshot reads (read only files listed in the chosen snapshot, with
                  the schema its append recorded)
- resume         (a killed job never published its manifest entry, so
                  partial files are invisible; re-run appends cleanly)
- lineage        (every snapshot records run_id + per-partition
                  row/byte metrics)

On a production cluster swap ``LakeTable`` for an Iceberg catalog
table — the operator layer only uses append/read/latest_snapshot.
Production tables should be ``PARTITIONED BY (source_name,
bucket(N, url_hash))``; ``partition_by`` reproduces the layout here.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class LakeTable:
    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.name = name
        os.makedirs(self.dir, exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.dir, "_snapshots.json")

    def snapshots(self) -> list[dict]:
        if not os.path.exists(self._manifest_path):
            return []
        with open(self._manifest_path) as f:
            return json.load(f)

    def latest_snapshot(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def _write_manifest(self, snaps: list[dict]) -> None:
        """Durably replace the manifest: flush+fsync the temp file
        BEFORE the atomic rename, so a crash mid-rewrite can never
        leave a truncated manifest that wedges snapshots() with a
        JSONDecodeError. Every manifest mutation (publish, drop,
        rollback) must go through here — drop/rollback are now
        load-bearing in torn-run recovery (ADVICE r4)."""
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snaps, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path)  # atomic publish

    def _publish(self, entry: dict) -> None:
        snaps = self.snapshots()
        snaps.append(entry)
        self._write_manifest(snaps)

    def append(self, df: DataFrame, run_id: str | None = None,
               partition_by: list[str] | None = None,
               files_per_partition: int = 4) -> dict:
        """Write df as a new snapshot (previous snapshots untouched).

        A partitioned write WITHOUT co-location emits one file per
        (task, partition-value) pair — at cluster scale 10^4 tasks x
        10^3 sources is 10^7 tiny objects per snapshot, the classic
        small-file explosion that makes every subsequent scan and
        manifest operation metadata-bound (and on this sandbox's
        shared disk, file-create latency dominates the write itself).
        So when ``partition_by`` is set the rows are first hash-
        clustered on the partition columns plus a bounded salt: at
        most ``files_per_partition`` files per partition value,
        regardless of upstream task count, while the salt keeps a
        skewed partition value from serializing into one writer. The
        shuffle this adds moves exactly the bytes being written once
        — the same trade Spark users make via ``repartition(cols)``
        before ``partitionBy`` (files_per_partition=0 skips it)."""
        snap_id = uuid.uuid4().hex[:12]
        data_dir = os.path.join(self.dir, f"snap-{snap_id}")
        if partition_by and files_per_partition > 0:
            from pyspark.sql import functions as F

            cols = [F.col(c) for c in partition_by]
            cols.append(
                F.pmod(F.spark_partition_id(), F.lit(files_per_partition))
            )
            df = df.repartition(*cols)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        rows = None  # avoid a second job; callers can count if needed
        entry = {
            "snapshot_id": snap_id,
            "parent": (self.latest_snapshot() or {}).get("snapshot_id"),
            "run_id": run_id or "",
            "ts": time.time(),
            "data_dir": f"snap-{snap_id}",
            "rows": rows,
            "schema": self._read_schema(df.schema, partition_by or []),
        }
        # an all-rows-filtered PARTITIONED write leaves a dir holding
        # only _SUCCESS — spark.read.parquet on it raises
        # UNABLE_TO_INFER_SCHEMA, so publishing it would wedge every
        # future read() of the table (and an append-then-retract dance
        # in the caller still has a crash window between publish and
        # retract). Refuse to publish dataless snapshots at the
        # manifest boundary instead; the entry is returned unpublished
        # (flat writes of an empty frame DO emit a schema-bearing
        # 0-row file and publish normally).
        if not self._has_data(data_dir):
            entry["published"] = False
            entry["rows"] = 0
            return entry
        self._publish(entry)
        return entry

    @staticmethod
    def _read_schema(schema: StructType, partition_by: list[str]) -> str:
        """The schema a read of the snapshot sees, as compact JSON: the
        data columns, then the partition columns (directory names)."""
        parts = [schema[c] for c in partition_by]
        data = [f for f in schema.fields if f.name not in partition_by]
        return StructType(data + parts).json()

    @staticmethod
    def _has_data(data_dir: str) -> bool:
        for _root, _dirs, files in os.walk(data_dir):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def append_local(self, rows: list[dict], run_id: str | None = None) -> dict:
        """Append a snapshot from driver-side rows via pyarrow — for
        tiny metadata tables (metrics, orgs) where a Spark write job is
        pure overhead. Same snapshot/manifest semantics as append()."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not rows:
            raise ValueError(
                "append_local needs at least one row (refusing to publish an "
                "empty snapshot with an unknowable column set)"
            )
        snap_id = uuid.uuid4().hex[:12]
        data_dir = os.path.join(self.dir, f"snap-{snap_id}")
        os.makedirs(data_dir, exist_ok=True)
        cols = {k: [r.get(k) for r in rows] for k in rows[0].keys()}
        pq.write_table(pa.table(cols), os.path.join(data_dir, "part-0.parquet"))
        entry = {
            "snapshot_id": snap_id,
            "parent": (self.latest_snapshot() or {}).get("snapshot_id"),
            "run_id": run_id or "",
            "ts": time.time(),
            "data_dir": f"snap-{snap_id}",
            "rows": len(rows),
        }
        self._publish(entry)
        return entry

    def read(self, spark: SparkSession, as_of: str | None = None) -> DataFrame | None:
        """Union of all snapshots up to ``as_of`` (inclusive); None if empty."""
        snaps = self.snapshots()
        if as_of is not None:
            keep = []
            for s in snaps:
                keep.append(s)
                if s["snapshot_id"] == as_of:
                    break
            snaps = keep
        dirs = [os.path.join(self.dir, s["data_dir"]) for s in snaps]
        # dataless dirs (only _SUCCESS) would fail schema inference —
        # append() refuses to publish them, but skip defensively so a
        # manifest written by an older version can't wedge the table
        dirs = [d for d in dirs if os.path.isdir(d) and self._has_data(d)]
        if not dirs:
            return None
        # each snapshot dir is its own partitioned root: load separately
        # and union (Iceberg reads do the equivalent via manifests)
        df = None
        for d in dirs:
            part = spark.read.option("mergeSchema", "false").parquet(d)
            df = part if df is None else df.unionByName(part, allowMissingColumns=True)
        return df

    def read_snapshot(self, spark: SparkSession, entry: dict) -> DataFrame | None:
        """Read exactly one snapshot's data from its append() entry,
        with the schema the entry recorded (inferred for entries that
        carry none); None for an unpublished or dataless entry."""
        d = os.path.join(self.dir, entry["data_dir"])
        if entry.get("published") is False or not os.path.isdir(d) or not self._has_data(d):
            return None
        reader = spark.read.option("mergeSchema", "false")
        if entry.get("schema"):
            # the schema append() recorded: no schema-inference job
            reader = reader.schema(StructType.fromJson(json.loads(entry["schema"])))
        return reader.parquet(d)

    def drop_snapshot(self, snapshot_id: str) -> None:
        """Remove one snapshot from the manifest (used to discard
        empty appends); its data dir is left for vacuum()."""
        snaps = [s for s in self.snapshots() if s["snapshot_id"] != snapshot_id]
        self._write_manifest(snaps)

    def rollback_to(self, snapshot_id: str) -> None:
        snaps = self.snapshots()
        keep = []
        for s in snaps:
            keep.append(s)
            if s["snapshot_id"] == snapshot_id:
                break
        self._write_manifest(keep)

    def vacuum(self, min_age_s: float = 3600.0) -> list[str]:
        """Delete ``snap-*`` data dirs not referenced by the manifest.

        drop_snapshot/rollback_to and refused dataless appends leave
        their data dirs behind (dropping the manifest entry first is
        what makes the retraction atomic); without gc those dirs
        accumulate forever — the same small-file/metadata hazard the
        sink clustering exists to prevent. Only dirs older than
        ``min_age_s`` are removed so an in-flight append (files
        written, manifest entry not yet published) is never swept.
        On Iceberg proper this is ``expire_snapshots`` +
        ``remove_orphan_files``. Returns the removed dir names."""
        import shutil

        live = {s["data_dir"] for s in self.snapshots()}
        now = time.time()
        removed = []
        try:
            entries = os.listdir(self.dir)
        except FileNotFoundError:
            return removed
        for name in entries:
            if not name.startswith("snap-") or name in live:
                continue
            path = os.path.join(self.dir, name)
            if not os.path.isdir(path):
                continue
            try:
                age = now - os.path.getmtime(path)
            except OSError:
                continue
            if age < min_age_s:
                continue
            shutil.rmtree(path, ignore_errors=True)
            removed.append(name)
        return removed


class Lake:
    """A warehouse directory holding the harvest tables
    (SURVEY §1.2): documents, prov, orgs, frontier, metrics,
    url_seen_sketch, fetched_pages (live-mode staging), and
    phase2_commit (the marker whose presence means phase 2's writes
    are ALL durable — resume keys on it, not on any one table)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> LakeTable:
        return LakeTable(self.root, name)

    def vacuum(self, min_age_s: float = 3600.0) -> dict[str, list[str]]:
        """vacuum() every table in the warehouse; returns
        {table_name: [removed snap dirs]} for tables that had orphans."""
        out: dict[str, list[str]] = {}
        for name in sorted(os.listdir(self.root)):
            tdir = os.path.join(self.root, name)
            if not os.path.isdir(tdir):
                continue
            removed = LakeTable(self.root, name).vacuum(min_age_s=min_age_s)
            if removed:
                out[name] = removed
        return out
