"""ValidationRunner — the driver program: plan → prune → validate → manifest.

Shape mirrors the reference's batch pipeline (ref: transcription/pipeline.py:109-339):
  ensure dirs → resume check per unit → process pending units → per-unit
  status + timing → batch rollup with overall RTF. Here the "unit" is a
  table partition, the "RTF" is validated docs/sec, and the resume check is
  a manifest set-difference keyed by (partition, snapshot_id, rule_hash).

Gate vs report mode mirrors the reference's benchmark compare --gate
(ref: transcription/benchmark_cli.py:476-540): report returns the rollup;
gate raises if any rule failed.
"""

from __future__ import annotations

import base64
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from slower_whisper_spark.checkpoint import (
    STATUS_ERROR,
    STATUS_PARTIAL,
    STATUS_SUCCESS,
    CheckpointManifest,
    ManifestEntry,
    new_run_id,
)
from slower_whisper_spark.suite import ConstraintSuite, SuiteResult, check_violation_limit


# an error entry keeps the head of the exception message: a Spark error can
# carry a whole plan, and every later resume reads the manifest
_ERROR_CHARS = 2000


class GateFailure(Exception):
    """Raised in gate mode when any rule fails (exit-code-1 analog of the
    reference CLI, ref: transcription/cli.py:1164-1172)."""


@dataclass
class RunResult:
    run_id: str
    suite_hash: str
    snapshot_id: str
    planned_partitions: list[str]
    skipped_partitions: list[str]
    processed_partitions: list[str]
    result: SuiteResult | None  # already unpersisted: its frames recompute when read
    wall_sec: float
    rows_validated: int
    docs_per_sec: float
    overall_passed: bool
    metrics: dict[str, float] = field(default_factory=dict)
    # rows of ``result.violations`` (violation_limit per rule at most),
    # collected with the status rows
    violations: list = field(default_factory=list)


class ValidationRunner:
    def __init__(
        self,
        suite: ConstraintSuite,
        manifest_path: str,
        *,
        key_col: str = "url",
        partition_col: str = "warc_day",
        violation_limit: int = 100,
        sketch_columns: list[str] | None = None,
    ):
        """``sketch_columns``: numeric columns whose per-partition KLL
        quantile sketches are persisted (b64, ~5 KB each) into every
        manifest entry — one extra narrow grouped-Arrow pass per column over
        the PENDING partitions only. Across runs the manifest accumulates a
        mergeable distribution baseline for those columns
        (``rules.drift.kll_baseline_from_manifest``) with no rescan of
        history."""
        check_violation_limit(violation_limit, len(suite.counted_rules))
        self.suite = suite
        self.manifest = CheckpointManifest(manifest_path)
        self.key_col = key_col
        self.partition_col = partition_col
        self.violation_limit = violation_limit
        self.sketch_columns = list(sketch_columns or [])

    def run(
        self,
        df: DataFrame,
        *,
        snapshot_id: str = "",
        partitions: list[str] | None = None,
        resume: bool = True,
        mode: str = "report",
        partition_snapshots: dict[str, str] | None = None,
    ) -> RunResult:
        """``partition_snapshots`` (partition → content fingerprint, e.g.
        sources.catalog.partition_snapshots) switches resume to INCREMENTAL
        mode: a partition re-validates only when ITS OWN snapshot changed,
        so appending one day to a 10^4-partition table re-runs one
        partition, not all of them. Manifest entries are stamped with the
        per-partition snapshot.

        When validation raises, every pending partition gets an ``error``
        entry (exception type and message in ``metrics``) before the
        exception propagates, so the next run retries exactly those."""
        run_id = new_run_id()
        t0 = time.monotonic()

        if partitions is None and partition_snapshots is not None:
            partitions = list(partition_snapshots)
            if not partitions and not df.isEmpty():
                # a non-hive layout or mistyped partition column yields {}
                # from partition_snapshots — gate-passing with zero rows
                # validated would be a silent green gate (ADVICE r2)
                raise ValueError(
                    "incremental mode discovered no partitions but the table has "
                    f"data: partition_snapshots found no '{self.partition_col}' "
                    "hive directories. Pass partitions explicitly or run without "
                    "incremental discovery."
                )
        if partitions is None:
            # metadata-only when the caller can supply them (Iceberg/hive
            # layout); otherwise one distinct scan
            partitions = [
                r[0]
                for r in df.select(F.col(self.partition_col).cast("string")).distinct().collect()
            ]
        partitions = sorted(partitions)

        done: set[str] = set()
        if resume and partition_snapshots is not None:
            done = self.manifest.completed_partitions_versioned(
                self.suite.suite_hash, partition_snapshots
            )
        elif resume:
            done = self.manifest.completed_partitions(self.suite.suite_hash, snapshot_id or None)
        pending = [p for p in partitions if p not in done]
        skipped = [p for p in partitions if p in done]

        if not pending:
            return RunResult(
                run_id=run_id,
                suite_hash=self.suite.suite_hash,
                snapshot_id=snapshot_id,
                planned_partitions=partitions,
                skipped_partitions=skipped,
                processed_partitions=[],
                result=None,
                wall_sec=time.monotonic() - t0,
                rows_validated=0,
                docs_per_sec=0.0,
                overall_passed=True,
            )

        # partition pruning: with a hive/Iceberg layout this isin-filter
        # becomes file-level pruning (no data read for done partitions).
        # Cross-partition table rules (Unique) still see the FULL table via
        # global_df — a key duplicated across a completed and a pending
        # partition must fail the pending partition; their shuffle runs on
        # phase-1 partials, so the extra cost is bounded (ADVICE r1 #1).
        pruned = len(pending) < len(partitions)
        scoped = df.filter(F.col(self.partition_col).cast("string").isin(pending))

        def snapshot_of(part: str) -> str:
            if partition_snapshots is not None:
                return partition_snapshots.get(part, snapshot_id)
            return snapshot_id

        try:
            result = self.suite.validate(
                scoped,
                key_col=self.key_col,
                partition_col=self.partition_col,
                violation_limit=self.violation_limit,
                global_df=df if pruned else None,
            )
            # the violation rows behind the verdicts are read while the
            # results are cached, by a job concurrent with the status rows
            # and the sketch passes; a later read of ``RunResult.result``
            # recomputes its frames and can see data appended since
            with ThreadPoolExecutor(max_workers=1) as ex:
                fv = ex.submit(result.violations.collect)
                status_rows = result.partition_status().collect()
                wall = time.monotonic() - t0
                rows_total = int(sum(r["rows"] for r in status_rows))
                dps = rows_total / wall if wall > 0 else 0.0

                # mergeable per-partition KLL sketches for the manifest baseline
                # store: one grouped-Arrow pass per column over PENDING partitions
                sketches_by_part: dict[str, dict[str, str]] = {}
                if self.sketch_columns:
                    from slower_whisper_spark.functions.kll import kll_profile

                    for col in self.sketch_columns:
                        for sr in kll_profile(scoped, col, partition_col=self.partition_col).collect():
                            sketches_by_part.setdefault(sr["partition"], {})[col] = base64.b64encode(
                                bytes(sr["sketch"])
                            ).decode("ascii")
                violation_rows = fv.result()
            result.unpersist()
        except Exception as exc:
            # a crashed run leaves a record: one error entry per pending
            # partition (resume treats non-success entries as pending)
            now = datetime.now(timezone.utc).isoformat()
            error = {"error_type": type(exc).__name__, "error": str(exc)[:_ERROR_CHARS]}
            self.manifest.append(
                [
                    ManifestEntry(
                        partition=p,
                        snapshot_id=snapshot_of(p),
                        partition_spec=self.partition_col,
                        rule_hash=self.suite.suite_hash,
                        status=STATUS_ERROR,
                        metrics=error,
                        completed_at=now,
                        run_id=run_id,
                    )
                    for p in pending
                ],
                run_id,
            )
            raise

        now = datetime.now(timezone.utc).isoformat()
        entries = []
        any_failed = False
        for r in status_rows:
            failed = r["status"] != "success"
            any_failed = any_failed or failed
            entries.append(
                ManifestEntry(
                    partition=r["partition"],
                    snapshot_id=snapshot_of(r["partition"]),
                    partition_spec=self.partition_col,
                    rule_hash=self.suite.suite_hash,
                    status=STATUS_SUCCESS if not failed else STATUS_PARTIAL,
                    metrics={
                        "rows": float(r["rows"]),
                        "violations": float(r["violations"]),
                        "rules_failed": float(r["rules_failed"]),
                        "wall_sec": wall,
                        "docs_per_sec": dps,
                    },
                    completed_at=now,
                    run_id=run_id,
                    sketches=sketches_by_part.get(r["partition"], {}),
                )
            )
        self.manifest.append(entries, run_id)

        rr = RunResult(
            run_id=run_id,
            suite_hash=self.suite.suite_hash,
            snapshot_id=snapshot_id,
            planned_partitions=partitions,
            skipped_partitions=skipped,
            processed_partitions=pending,
            result=result,
            wall_sec=wall,
            rows_validated=rows_total,
            docs_per_sec=dps,
            overall_passed=not any_failed,
            metrics={"wall_sec": wall, "docs_per_sec": dps, "rows": float(rows_total)},
            violations=violation_rows,
        )
        if mode == "gate" and any_failed:
            raise GateFailure(
                f"suite {self.suite.name}@{self.suite.suite_hash[:12]} failed on "
                f"{sum(1 for r in status_rows if r['status'] != 'success')} partition(s)"
            )
        return rr
