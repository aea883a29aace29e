"""Snapshot catalog: checkpointed stage tables + lineage/metrics manifest.

North-rule requirement: "per-partition lineage and signature/candidate/
cluster metrics written alongside checkpointed Iceberg snapshots so any
stage is resumable".

Design: the API is Iceberg-shaped (snapshot id, parent id, append/overwrite,
time-travelable manifest log) but the sandbox has no Iceberg runtime jar
(verified: empty pyspark jars grep, SURVEY.md §1.4), so the storage layer is
plain Parquet directories plus a JSON manifest log with isomorphic fields —
swapping in Iceberg is a config change (``df.writeTo(table).append()``
instead of ``df.write.parquet``), not a redesign.

Layout:
    root/
      manifest.jsonl         one JSON line per snapshot (append-only log)
      <stage>/<snapshot_id>/ parquet data for that stage snapshot

Each manifest line:
    {snapshot_id, parent_id, stage, created_ms, rows, n_partitions,
     partition_rows: {task id: rows}, schema, metrics: {...}, path,
     replaces_prior, replaces_ids}

``partition_rows`` is the per-partition lineage record: rows per write task,
summed from the ``num_rows`` of the Parquet footers of the part files the
write produced (Iceberg analog: a manifest's per-file ``record_count``), so
it costs no Spark job. ``schema`` is the written frame's schema as Spark
JSON; every read passes it to the reader instead of inferring it from the
files, which would cost a Spark job per read.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class ConcurrentSnapshotError(RuntimeError):
    """Optimistic-concurrency conflict: another writer appended a snapshot
    for this stage between the caller's read of the manifest and its commit
    (Iceberg analog: a commit conflict on the table's current snapshot id).
    The attempted write left only an orphan data directory — catalog state
    is untouched; the caller may re-read and retry."""


def _footer_lineage(path: str) -> dict[str, int]:
    """Rows per write task of the Parquet directory ``path``, read from the
    part files' footers on the driver. Spark names each file
    ``part-<task id>-<uuid>-c<n>...``; a task that ``maxRecordsPerFile``
    split into several files is summed under its one id. Files with no rows
    are left out: Spark writes one empty part file for an empty frame, which
    therefore reads ``{}``."""
    rows: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        n = pq.read_metadata(f).num_rows
        if n:
            task = str(int(os.path.basename(f).split("-")[1]))
            rows[task] = rows.get(task, 0) + n
    return rows


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "manifest.jsonl")

    # -- manifest log -----------------------------------------------------

    def _read_manifest(self) -> list[dict]:
        if not os.path.exists(self._manifest_path):
            return []
        with open(self._manifest_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _append_manifest(self, entry: dict) -> None:
        with open(self._manifest_path, "a") as f:
            f.write(json.dumps(entry, sort_keys=True) + "\n")

    def snapshots(self, stage: str | None = None) -> list[dict]:
        entries = self._read_manifest()
        if stage is not None:
            entries = [e for e in entries if e["stage"] == stage]
        return entries

    def active_snapshots(self, stage: str) -> list[dict]:
        """Snapshots that constitute the stage's CURRENT state: everything
        from the most recent ``replaces_prior`` snapshot (a full compaction
        rewrite) onward, minus any snapshots superseded by a later entry's
        ``replaces_ids`` (a minor/delta compaction that merged a SUBSET of
        prior deltas without rewriting the base). ``snapshots()`` keeps the
        full append-only history for time travel; readers of delta stages
        use this view so a compaction truncates their union without
        rewriting the manifest (Iceberg analog: a rewrite/compaction commit
        replacing prior data files while old snapshots stay
        time-travelable)."""
        entries = self.snapshots(stage)
        for i in range(len(entries) - 1, -1, -1):
            if entries[i].get("replaces_prior"):
                entries = entries[i:]
                break
        replaced: set[str] = set()
        for e in entries:
            replaced.update(e.get("replaces_ids") or [])
        return [e for e in entries if e["snapshot_id"] not in replaced]

    def latest(self, stage: str) -> dict | None:
        entries = self.snapshots(stage)
        return entries[-1] if entries else None

    def has_stage(self, stage: str) -> bool:
        return self.latest(stage) is not None

    # -- write / read -----------------------------------------------------

    def write_stage(
        self,
        df: DataFrame,
        stage: str,
        metrics: dict | None = None,
        replaces_prior: bool = False,
        replaces_ids: list[str] | None = None,
        expected_latest_id: str | None | bool = False,
    ) -> dict:
        """Persist a stage output as a new snapshot; records its schema,
        per-partition lineage and caller metrics in the manifest.
        ``partition_rows`` maps each write task's id to the rows it wrote,
        taken from the part files' footers (:func:`_footer_lineage`), so the
        write is the only Spark job this call starts.

        ``replaces_prior=True`` marks a full compaction rewrite: the
        snapshot holds the stage's FULL current state and
        ``active_snapshots`` stops unioning anything older.
        ``replaces_ids`` marks a minor (delta) compaction: the snapshot
        supersedes exactly those prior snapshot ids, leaving the base and
        later deltas in place. The parquet write completes before the
        manifest line is appended, so a crash mid-compaction leaves only an
        orphan directory — readers stay consistent on the prior snapshots.

        ``expected_latest_id``: optimistic concurrency for compactions —
        pass the stage's latest snapshot_id (or None for an empty stage) as
        observed when the caller READ the state it is rewriting; if another
        writer appended in between, the commit is refused with
        ``ConcurrentSnapshotError`` *after* the parquet write (orphan dir,
        no manifest entry) so a concurrent batch's delta is never silently
        dropped from the active set. The default (False) skips the check —
        plain delta appends are order-insensitive and need no guard."""
        snapshot_id = uuid.uuid4().hex[:16]
        parent = self.latest(stage)
        path = os.path.join(self.root, stage, snapshot_id)
        df.write.mode("errorifexists").parquet(path)
        if expected_latest_id is not False:
            current = self.latest(stage)
            current_id = current["snapshot_id"] if current else None
            if current_id != expected_latest_id:
                raise ConcurrentSnapshotError(
                    f"stage {stage!r}: expected latest snapshot "
                    f"{expected_latest_id!r} but found {current_id!r} — "
                    "another writer committed since this compaction read its "
                    "input; aborting (orphan data dir only, state untouched)"
                )
        part_rows = _footer_lineage(path)
        entry = {
            "snapshot_id": snapshot_id,
            "parent_id": parent["snapshot_id"] if parent else None,
            "stage": stage,
            "created_ms": int(time.time() * 1000),
            "rows": int(sum(part_rows.values())),
            "n_partitions": len(part_rows),
            "partition_rows": part_rows,
            "schema": df.schema.json(),
            "metrics": metrics or {},
            "path": path,
            "replaces_prior": replaces_prior,
            "replaces_ids": replaces_ids or [],
        }
        self._append_manifest(entry)
        return entry

    def read_stage_union(self, stage: str) -> DataFrame:
        """Union of ALL snapshots of a delta stage (each snapshot holds only
        the rows added by one batch). This is the read path for append-only
        stages like incremental features/docs: at 10^12 docs a batch writes
        its delta and readers union the snapshot list — never a full rewrite.
        (Iceberg analog: reading the table = union of all appended data
        files; here the manifest log plays the manifest-list role.) Unions
        the ACTIVE snapshots only — a compaction rewrite truncates the list
        read-side, bounding read cost by state size instead of batch count."""
        entries = self.active_snapshots(stage)
        if not entries:
            raise FileNotFoundError(f"no snapshot for stage {stage!r}")
        return self.read_entries(entries)

    def read_entries(self, entries: list[dict]) -> DataFrame:
        """One lazy read of the snapshots ``entries`` with the schema their
        manifest lines carry (no inference job). Refuses an entry without a
        schema (written by older code) and entries whose schemas differ:
        with a given schema, a column missing from one snapshot would
        silently read as NULL."""
        for e in entries:
            if "schema" not in e:
                raise RuntimeError(
                    f"snapshot {e['snapshot_id']!r} of stage {e['stage']!r} has no "
                    "schema in the manifest: it was written by older code. "
                    "Rebuild the catalog."
                )
        schemas = [StructType.fromJson(json.loads(e["schema"])) for e in entries]
        # Parquet columns are matched by name and read back nullable, so
        # neither column order nor nullability makes two schemas differ
        columns = [sorted((f.name, f.dataType.simpleString()) for f in s) for s in schemas]
        for e, cols in zip(entries, columns):
            if cols != columns[0]:
                raise RuntimeError(
                    f"snapshot {e['snapshot_id']!r} of stage {e['stage']!r} has "
                    f"columns {cols}, but snapshot {entries[0]['snapshot_id']!r} "
                    f"has {columns[0]}"
                )
        return self.spark.read.schema(schemas[0]).parquet(*[e["path"] for e in entries])

    def read_stage(self, stage: str, snapshot_id: str | None = None) -> DataFrame:
        if snapshot_id is None:
            entry = self.latest(stage)
            if entry is None:
                raise FileNotFoundError(f"no snapshot for stage {stage!r}")
        else:
            matches = [e for e in self.snapshots(stage) if e["snapshot_id"] == snapshot_id]
            if not matches:
                raise FileNotFoundError(f"snapshot {snapshot_id!r} not found for {stage!r}")
            entry = matches[0]
        return self.read_entries([entry])

    def get_or_compute(self, stage: str, compute, metrics: dict | None = None) -> DataFrame:
        """Resume point: return the stage's latest snapshot if present,
        otherwise compute, persist, and return it. ``compute`` is a thunk
        returning a DataFrame."""
        if self.has_stage(stage):
            return self.read_stage(stage)
        return self.read_entries([self.write_stage(compute(), stage, metrics)])
