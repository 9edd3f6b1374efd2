"""Checkpoint / lineage / metrics — snapshot commits + idempotent resume
(north rule: "checkpoints to Iceberg with per-partition lineage + metrics").

Iceberg-lite commit protocol (no Iceberg runtime jar in this sandbox; the
semantics are the part that matters):

- every `write_table` writes data into a NEW immutable snapshot directory
  (`<table>/snap-<seq>-<uuid>/`), never in place;
- a manifest file (`<table>/_manifests/manifest-<seq>-<uuid>.json`) records
  the snapshot's data files with per-file row counts read from the parquet
  FOOTERS (metadata-only — the round-1 design re-read and re-counted every
  written table, roughly doubling stage IO; footers cost KBs);
- the commit point is one atomic `os.replace` of `<table>/_current.json`
  pointing at the new manifest — a reader mid-overwrite resolves either the
  previous snapshot or the new one, never a half-written directory (the
  round-1 rmtree+rename had a window where the table didn't exist);
- the previous snapshot is retained (readers holding the old resolved path
  keep working); snapshots older than the latest two are pruned.

The lineage table is append-only JSONL (driver-side metadata, tiny) — the
analog of Iceberg's snapshot log. Resume validates BOTH the latest committed
lineage row's fingerprint AND the on-disk `_current.json` fingerprint, so a
warehouse reused across configs (run A, run B, resume A) recomputes instead
of silently serving B's tables.

Reference analog: DuckDB tables are always-readable during the reference's
rebuilds (python/logai_agent.py:254-281).

Divergences from real Iceberg v2 metadata (documented so a migration to a
runtime-jar `writeTo()` path is mechanical — no jar ships in this sandbox):

- commit pointer: one `_current.json` per table flipped with os.replace,
  vs Iceberg's catalog-mediated swap of `vN.metadata.json` (a REST/Hive/
  Glue catalog arbitrates concurrent committers; this protocol assumes ONE
  writer per table, which the job runner enforces).
- manifest layout: a single JSON manifest listing data files with row
  counts, vs Iceberg's avro manifest-list → manifest hierarchy with
  per-column value/null counts and bounds (so our readers cannot do
  metadata-only min/max pruning; Spark's parquet footer pruning still
  applies at scan time).
- schema: each manifest records its snapshot's schema (the written
  DataFrame's columns, order and types, partition columns included), as
  Iceberg's table metadata does; readers pin it instead of inferring it
  from the files, so a read starts no Spark job and a partition column
  keeps its type. There is no schema evolution or partition-spec metadata:
  a column rename is a rewrite here, a metadata edit in Iceberg.
- no row-level deletes (Iceberg v2 position/equality delete files):
  deletes are copy-on-write snapshot rewrites.
- retention: last `SNAPSHOTS_TO_KEEP` (two) snapshots, hardcoded, vs
  Iceberg's configurable snapshot expiry + orphan-file GC.

What IS equivalent (the semantics the north rule needs): atomic commits,
immutable snapshots, always-readable tables during rewrite, per-partition
lineage + metrics rows, and fingerprint-validated idempotent resume.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SNAPSHOTS_TO_KEEP = 2


def _scan_snapshot(snap_dir: str) -> tuple[list[dict], int, dict[str, int]]:
    """File inventory of a written snapshot from parquet footers only.

    Returns (files, total_rows, per-partition row counts). Partition values
    come from the hive-style `k=v` path components Spark wrote."""
    import pyarrow.parquet as pq

    files: list[dict] = []
    total = 0
    part_counts: dict[str, int] = {}
    for dirpath, _dirs, names in os.walk(snap_dir):
        rel_dir = os.path.relpath(dirpath, snap_dir)
        part_key = "/".join(p for p in rel_dir.split(os.sep) if "=" in p)
        for fn in sorted(names):
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(dirpath, fn)
            n = pq.ParquetFile(full).metadata.num_rows
            files.append(
                {"path": os.path.relpath(full, snap_dir), "rows": n, "partition": part_key}
            )
            total += n
            if part_key:
                part_counts[part_key] = part_counts.get(part_key, 0) + n
    return files, total, part_counts


@dataclass
class SinkStore:
    """A warehouse directory holding the pipeline's derived tables."""

    root: str

    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    # --- manifest / snapshot resolution --------------------------------------
    def _current_path(self, name: str) -> str:
        return os.path.join(self.table_path(name), "_current.json")

    def _manifest_dir(self, name: str) -> str:
        return os.path.join(self.table_path(name), "_manifests")

    def current_manifest(self, name: str) -> dict | None:
        """The committed manifest the `_current.json` pointer resolves to."""
        cur = self._current_path(name)
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            pointer = json.load(f)
        mpath = os.path.join(self._manifest_dir(name), pointer["manifest"])
        if not os.path.exists(mpath):
            return None
        with open(mpath) as f:
            return json.load(f)

    def snapshot_path(self, name: str) -> str | None:
        m = self.current_manifest(name)
        if m is None:
            return None
        snap = os.path.join(self.table_path(name), m["snapshot"])
        return snap if os.path.isdir(snap) else None

    # --- lineage -------------------------------------------------------------
    @property
    def lineage_path(self) -> str:
        return os.path.join(self.root, "_lineage.jsonl")

    def lineage_rows(self) -> list[dict]:
        if not os.path.exists(self.lineage_path):
            return []
        with open(self.lineage_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def committed(self, stage: str, fingerprint: str) -> bool:
        """True iff the table on disk IS the requested fingerprint's output.

        Checks the LATEST committed lineage row for the stage (not any
        historical row — a warehouse reused across configs would otherwise
        resume-serve another config's tables) and cross-checks the
        fingerprint stamped in the table's current manifest. A manifest with
        no recorded schema (written before manifests carried one) is not
        committed: its stage recomputes rather than being read another way."""
        latest = None
        for r in self.lineage_rows():
            if r["stage"] == stage and r["status"] == "committed":
                latest = r
        if latest is None or latest["fingerprint"] != fingerprint:
            return False
        m = self.current_manifest(stage)
        return (
            m is not None
            and m.get("fingerprint") == fingerprint
            and "schema" in m
            and self.snapshot_path(stage) is not None
        )

    def record(self, row: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        with open(self.lineage_path, "a") as f:
            f.write(json.dumps(row, default=str) + "\n")

    # --- snapshot commits ------------------------------------------------------
    def write_table(
        self,
        df: DataFrame,
        name: str,
        fingerprint: str,
        partition_by: list[str] | None = None,
        run_id: str | None = None,
    ) -> dict:
        """Commit *df* as a new snapshot of table *name*; returns the lineage row.

        One partitioned write for fanout sinks (NOT a per-sink filter loop —
        at cluster scale a loop would rescan the input once per sink). Row and
        per-partition metrics come from the written files' parquet footers —
        no second read of the data. The manifest records `df.schema` (column
        order and types as written), which `read_table` reads back."""
        table_dir = self.table_path(name)
        mdir = self._manifest_dir(name)
        os.makedirs(mdir, exist_ok=True)
        prev = self.current_manifest(name)
        seq = (prev["seq"] + 1) if prev else 1
        uid = uuid.uuid4().hex[:8]
        snap_name = f"snap-{seq:06d}-{uid}"
        snap_dir = os.path.join(table_dir, snap_name)

        t0 = time.time()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(snap_dir)

        files, n, part_counts = _scan_snapshot(snap_dir)
        manifest = {
            "table": name,
            "seq": seq,
            "snapshot": snap_name,
            "fingerprint": fingerprint,
            "rows": n,
            "partitions": part_counts,
            "files": files,
            "schema": df.schema.jsonValue(),
            "created_ts": time.time(),
        }
        manifest_name = f"manifest-{seq:06d}-{uid}.json"
        with open(os.path.join(mdir, manifest_name), "w") as f:
            json.dump(manifest, f)
        # the commit point: atomic pointer flip
        tmp_ptr = self._current_path(name) + f".tmp-{uid}"
        with open(tmp_ptr, "w") as f:
            json.dump({"manifest": manifest_name, "fingerprint": fingerprint, "seq": seq}, f)
        os.replace(tmp_ptr, self._current_path(name))
        self._prune_snapshots(name, keep_from_seq=seq - SNAPSHOTS_TO_KEEP + 1)

        row = {
            "stage": name,
            "fingerprint": fingerprint,
            "run_id": run_id or "-",
            "rows": n,
            "partitions": part_counts,
            "n_files": len(files),
            "snapshot": snap_name,
            "wall_s": round(time.time() - t0, 3),
            "status": "committed",
            "ts": time.time(),
        }
        self.record(row)
        return row

    def _prune_snapshots(self, name: str, keep_from_seq: int) -> None:
        """Drop snapshots (and manifests) older than the retention window."""
        table_dir = self.table_path(name)
        for d in os.listdir(table_dir):
            if d.startswith("snap-") and int(d.split("-")[1]) < keep_from_seq:
                shutil.rmtree(os.path.join(table_dir, d), ignore_errors=True)
        mdir = self._manifest_dir(name)
        for m in os.listdir(mdir):
            if m.startswith("manifest-") and int(m.split("-")[1]) < keep_from_seq:
                os.remove(os.path.join(mdir, m))

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        """Resolve via the manifest pointer — never a mutable directory path.
        The resolved snapshot dir is immutable, so the returned DataFrame
        keeps working even if a newer commit lands mid-read. The read pins
        the manifest's schema, so it starts no inference job, partition
        columns keep their written types, and a snapshot with no data file
        (a partitioned write of zero rows) reads back empty. Every field is
        nullable, as with an inferring parquet read."""
        m = self.current_manifest(name)
        snap = None if m is None else os.path.join(self.table_path(name), m["snapshot"])
        if snap is None or not os.path.isdir(snap):
            raise FileNotFoundError(f"table {name!r} has no committed snapshot in {self.root}")
        schema = StructType.fromJson(m["schema"])
        # Spark appends partition columns last; select restores written order
        return spark.read.schema(schema).parquet(snap).select(*schema.names)
