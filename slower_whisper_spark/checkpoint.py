"""Checkpoint manifest: per-partition lineage + resumable validation.

Reference ancestors:
  * resume-by-output-existence with nuanced re-entry
    (ref: transcription/pipeline.py:167-253 — skip_existing_json)
  * lockfile lifecycle: name → (version, hash, path, updated_at), strict
    verification raising on hash mismatch
    (ref: transcription/schema/integrity.py:156-219,222-335)
  * provenance receipt fields: run_id, config_hash, created_at
    (ref: transcription/receipt.py:129-159)

Manifest entry shape (FIXTURES.md F5):
  partition, snapshot_id, partition_spec, rule_hash, status, metrics, completed_at, run_id

Semantics:
  * a partition is DONE iff an entry exists with status='success' AND
    rule_hash == current suite hash AND snapshot_id == current snapshot —
    changing the rules or the data invalidates the checkpoint, exactly like
    the reference's lockfile hash check.
  * resume = set-difference driver-side over the latest entry per
    partition (the manifest is per-partition, i.e. thousands of rows at
    10^12-doc scale — it lives comfortably on the driver).

Storage is newline-delimited JSON, append-only, one file per run (atomic on
any filesystem; an Iceberg manifest table is a drop-in swap).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any

STATUS_SUCCESS = "success"
STATUS_PARTIAL = "partial"
STATUS_ERROR = "error"


def new_run_id() -> str:
    """run-YYYYMMDD-HHMMSS-xxxxxx (ref id format: transcription/ids.py:55-124)."""
    ts = datetime.now(timezone.utc).strftime("%Y%m%d-%H%M%S")
    return f"run-{ts}-{uuid.uuid4().hex[:6]}"


@dataclass
class ManifestEntry:
    partition: str
    snapshot_id: str
    partition_spec: str
    rule_hash: str
    status: str
    # numbers for success/partial; error entries carry error_type + error
    metrics: dict[str, Any] = field(default_factory=dict)
    completed_at: str = ""
    run_id: str = ""
    # mergeable per-partition sketches (column → b64): KLL quantiles / HLL
    # distincts persisted with the lineage, so cross-run table-level stats
    # merge from the manifest without rescanning data (SURVEY §4.2)
    sketches: dict[str, str] = field(default_factory=dict)

    def to_dict(self) -> dict[str, Any]:
        return {
            "partition": self.partition,
            "snapshot_id": self.snapshot_id,
            "partition_spec": self.partition_spec,
            "rule_hash": self.rule_hash,
            "status": self.status,
            "metrics": self.metrics,
            "completed_at": self.completed_at,
            "run_id": self.run_id,
            "sketches": self.sketches,
        }

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "ManifestEntry":
        return ManifestEntry(**{**d, "sketches": d.get("sketches", {})})


class CheckpointManifest:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _files(self) -> list[str]:
        return sorted(
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.endswith(".jsonl")
        )

    def load(self) -> list[ManifestEntry]:
        out: list[ManifestEntry] = []
        for fp in self._files():
            with open(fp) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        out.append(ManifestEntry.from_dict(json.loads(line)))
        return out

    def append(self, entries: list[ManifestEntry], run_id: str) -> str:
        fp = os.path.join(self.path, f"{int(time.time() * 1000):016d}-{run_id}.jsonl")
        tmp = fp + ".tmp"
        with open(tmp, "w") as f:
            for e in entries:
                f.write(json.dumps(e.to_dict(), sort_keys=True) + "\n")
        os.replace(tmp, fp)
        return fp

    def latest_per_partition(self) -> dict[str, "ManifestEntry"]:
        """Latest entry per partition (files are time-ordered) — the view
        baseline/resume logic reads; sketches in these entries are the
        accumulated mergeable stats across ALL prior runs."""
        latest: dict[str, ManifestEntry] = {}
        for e in self.load():
            latest[e.partition] = e
        return latest

    def completed_partitions(self, rule_hash: str, snapshot_id: str | None = None) -> set[str]:
        """Latest-entry-wins per partition; done iff that entry is a success
        under the SAME rule hash (and snapshot, when given)."""
        return {
            p
            for p, e in self.latest_per_partition().items()
            if e.status == STATUS_SUCCESS
            and e.rule_hash == rule_hash
            and (snapshot_id is None or e.snapshot_id == snapshot_id)
        }

    def completed_partitions_versioned(
        self, rule_hash: str, snapshots: dict[str, str]
    ) -> set[str]:
        """Incremental variant: a partition is done iff its latest entry is
        a success under the same rule hash AND the snapshot recorded for
        THAT PARTITION equals its current per-partition snapshot — appends
        to one partition no longer invalidate the rest (Iceberg per-
        partition manifest semantics)."""
        return {
            p
            for p, e in self.latest_per_partition().items()
            if e.status == STATUS_SUCCESS
            and e.rule_hash == rule_hash
            and p in snapshots
            and e.snapshot_id == snapshots[p]
        }
