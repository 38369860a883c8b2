"""The benchmark's workloads.

Each workload drives the engine through its public API, one validation at a
time (a closed loop with one client, the way a scheduler submits batch
validation jobs), and checks every iteration's output against the pandas
oracle (oracle.py). ``iterate`` returns the wall time of the engine work
alone; resetting state before it and checking after it are not timed.
"""

from __future__ import annotations

import base64
import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

from perfbench import inputs, leaves, oracle
from perfbench.trace import NullTracer

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _generate_inputs(work_dir: str, seed: int, rows: int, with_leaves: bool) -> None:
    oracle.load_expected(inputs.ensure_table(work_dir, seed, rows))
    if with_leaves:
        leaves.ensure_tables(work_dir)


@dataclass
class Iteration:
    wall: float
    rows: int
    errors: list[str] = field(default_factory=list)
    manifest_bytes: int = 0
    n_violations: int = 0


class Workload:
    name = ""
    # the traced run also times the headline query leaves (leaves.py)
    probes_leaves = False

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed
        self.rows = inputs.ROWS
        self.tracer = NullTracer()
        self.sequential = False
        self.input_s = 0.0  # time start() spent generating cached inputs

    # ------------------------------------------------------------------ #
    def prepare_inputs(self) -> None:
        """Generate (or reuse) the table, its expected results and the leaf
        tables. Not part of any timed metric. A child process writes them:
        it loads whole frames, which would otherwise set this process's
        peak RSS on the runs that generate."""
        code = (
            "import sys; from perfbench.workloads import _generate_inputs; "
            "_generate_inputs(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4] == '1')"
        )
        argv = [sys.executable, "-c", code, self.work_dir, str(self.seed), str(self.rows), str(int(self.probes_leaves))]
        subprocess.run(argv, cwd=_ROOT, check=True)
        self.paths = inputs.ensure_table(self.work_dir, self.seed, self.rows)
        self.exp = oracle.load_expected(self.paths)
        if self.probes_leaves:
            self.leaf_dir = leaves.ensure_tables(self.work_dir)

    def describe(self) -> dict:
        return {
            "seed": self.seed,
            "rows": self.exp["rows"],
            "partitions": len(self.exp["partitions"]),
            "input_bytes": inputs.input_bytes(self.paths["dir"]),
        }

    def start(self, spark) -> None:
        """Per-session set-up: the suite (its rules fingerprint their
        reference tables eagerly) and the table scan."""
        self.spark = spark
        self.suite = inputs.build_suite(spark, self.paths)
        self.docs = inputs.read_docs(spark, self.paths)

    def iterate(self) -> Iteration:
        raise NotImplementedError

    # ------------------------------------------------------------------ #
    def leg_inputs(self):
        """(input of the partition-local legs, input of the Unique leg)."""
        return self.docs, self.docs

    def leg_probes(self) -> list[str]:
        """Each table-rule leg alone, through its public entry point, on
        the input the suite gives it, then the WARC parser over shards
        rendered from the table and, if the workload probes them, the query
        leaves (traced run only). Returns the mismatches of the WARC parse
        and the leaves against their oracles."""
        from pyspark.sql import functions as F

        from slower_whisper_spark import ForeignKey
        from slower_whisper_spark.sources.warc import parse_warc_blobs

        tr = self.tracer
        local, full = self.leg_inputs()
        by_id = {r.rule_id: r for r in self.suite.rules}
        kw = dict(key_col=inputs.KEY_COL, partition_col=inputs.PARTITION_COL, violation_limit=inputs.VIOLATION_LIMIT)
        persisted: list = []
        fk = by_id["host_known"]
        fresh_fk = ForeignKey(
            fk.fk_expr, fk.dim_df, fk.dim_col, rule_id=fk.rule_id, mode=fk.mode, dim_version=fk._dim_version
        )
        with tr.span("rules.refint.bloom_build"):
            fresh_fk.row_predicate(local)
        legs = [
            ("rules.unique", by_id["unique(url)"], full),
            ("rules.invariant", by_id["text_bytes"], local),
            ("rules.refint", fresh_fk, local),
            ("rules.drift", by_id["drift(text_len)"], local),
        ]
        for name, rule, df in legs:
            with tr.span(name):
                verdicts, violations = rule.evaluate(df, persisted=persisted, **kw)
                tr.keep(verdicts)
                verdicts.collect()
                if violations is not None:
                    violations.collect()
        for df in persisted:
            df.unpersist()

        shards = self.spark.read.parquet(inputs.ensure_warc_shards(self.spark, self.paths))
        with tr.span("sources.warc.parse_warc_blobs"):
            row = (
                parse_warc_blobs(shards, blob_col="blob")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("content_length").alias("payload_bytes"),
                    F.sum((F.col("verdict") != "ok").cast("long")).alias("bad"),
                )
                .collect()[0]
            )
        errors = oracle.check_warc(row, self.exp)
        if self.probes_leaves:
            errors += leaves.run_leaves(self.spark, tr, self.leaf_dir)
        return errors


class DenseSuite(Workload):
    """Every partition fails: validate without the prune barrier, then the
    overlapped materialize (sequential when traced, so spans do not overlap)."""

    name = "dense_suite"

    def iterate(self) -> Iteration:
        tr = self.tracer
        t0 = time.monotonic()
        with tr.span("iteration"):
            res = self.suite.validate(
                self.docs,
                key_col=inputs.KEY_COL,
                partition_col=inputs.PARTITION_COL,
                violation_limit=inputs.VIOLATION_LIMIT,
                stats_columns=inputs.STATS_COLUMNS,
                pass2_prune=False,
            )
            violations = res.violations
            res.verdicts = tr.watch(res.verdicts, "suite.verdicts")
            res.violations = tr.watch(res.violations, "suite.violations")
            res.stats = tr.watch(res.stats, "suite.stats")
            out = res.materialize(parallel=not self.sequential)
        wall = time.monotonic() - t0
        # the violation rows were persisted by the count above
        viol_rows = violations.collect()
        res.unpersist()
        exp = self.exp
        errors = oracle.check_verdicts(out["verdicts"], exp)
        errors += oracle.check_violations(viol_rows, exp)
        errors += oracle.check_stats(out["stats"], exp)
        if out["n_violations"] != oracle.expected_violation_count(exp):
            errors.append(f"n_violations {out['n_violations']} != {oracle.expected_violation_count(exp)}")
        return Iteration(wall=wall, rows=exp["rows"], errors=errors, n_violations=out["n_violations"])


class ResumeAppend(Workload):
    """The dense table with a manifest history in which 30 of 31 partitions
    are done at their current snapshot: incremental resume re-validates one.
    The manifest is reset to the same history before every iteration."""

    name = "resume_append"
    probes_leaves = True

    def start(self, spark) -> None:
        from slower_whisper_spark.sources.catalog import partition_snapshots

        super().start(spark)
        self.manifest_dir = os.path.join(self.work_dir, "manifests", f"{self.name}-{os.getpid()}")
        # the template is keyed by the suite's hash, so it is written here,
        # once per table; that time is not part of set-up
        self.template_dir = os.path.join(self.paths["dir"], f"manifest-{self.suite.suite_hash[:16]}")
        t0 = time.monotonic()
        if not os.path.isdir(self.template_dir):
            snaps = partition_snapshots(self.paths["docs"], inputs.PARTITION_COL)
            tmp = self.template_dir + f".tmp{os.getpid()}"
            inputs.seed_manifest_template(tmp, self.suite.suite_hash, snaps, self.exp["text_len_by_part"])
            os.replace(tmp, self.template_dir)
        self.input_s = time.monotonic() - t0
        self.template_bytes = inputs.dir_bytes(self.template_dir)

    def describe(self) -> dict:
        return {**super().describe(), "history_runs": inputs.HISTORY_RUNS, "history_bytes": self.template_bytes}

    def leg_inputs(self):
        from pyspark.sql import functions as F

        part = F.col(inputs.PARTITION_COL).cast("string") == inputs.APPENDED_PARTITION
        return self.docs.filter(part), self.docs

    def iterate(self) -> Iteration:
        from slower_whisper_spark.runner import ValidationRunner
        from slower_whisper_spark.sources.catalog import partition_snapshots

        inputs.reset_manifest(self.template_dir, self.manifest_dir)
        tr = self.tracer
        t0 = time.monotonic()
        with tr.span("iteration"):
            with tr.span("sources.catalog.partition_snapshots"):
                snaps = partition_snapshots(self.paths["docs"], inputs.PARTITION_COL)
            runner = ValidationRunner(
                self.suite,
                self.manifest_dir,
                key_col=inputs.KEY_COL,
                partition_col=inputs.PARTITION_COL,
                violation_limit=inputs.VIOLATION_LIMIT,
                sketch_columns=[inputs.SKETCH_COLUMN],
            )
            with tr.span("runner.run"):
                rr = runner.run(self.docs, partition_snapshots=snaps)
        wall = time.monotonic() - t0
        errors, nbytes = self._check_run(rr, snaps)
        return Iteration(wall=wall, rows=rr.rows_validated, errors=errors, manifest_bytes=nbytes)

    def _check_run(self, rr, snaps: dict) -> tuple[list[str], int]:
        """Check the RunResult and the manifest file the run appended;
        returns (errors, bytes appended)."""
        from slower_whisper_spark.functions.kll import KLLSketch

        part = inputs.APPENDED_PARTITION
        want = oracle.partition_rollup(self.exp, part)
        errors = []
        if rr.processed_partitions != [part] or len(rr.skipped_partitions) != len(snaps) - 1:
            errors.append(f"processed {rr.processed_partitions}, skipped {len(rr.skipped_partitions)}")
        if rr.rows_validated != want["rows"]:
            errors.append(f"validated {rr.rows_validated} rows, want {want['rows']}")
        new = sorted(set(os.listdir(self.manifest_dir)) - set(os.listdir(self.template_dir)))
        if len(new) != 1:
            return errors + [f"run appended {len(new)} manifest files"], 0
        path = os.path.join(self.manifest_dir, new[0])
        with open(path) as f:
            entries = [json.loads(line) for line in f if line.strip()]
        if [e["partition"] for e in entries] != [part]:
            return errors + [f"manifest entries for {[e['partition'] for e in entries]}"], 0
        (e,) = entries
        m = e["metrics"]
        got = {"rows": int(m["rows"]), "violations": int(m["violations"]),
               "rules_failed": int(m["rules_failed"]), "status": e["status"]}
        if got != want:
            errors.append(f"manifest entry: got {got}, want {want}")
        if e["snapshot_id"] != snaps[part]:
            errors.append("manifest entry carries a stale snapshot")
        sketch = KLLSketch.deserialize(base64.b64decode(e["sketches"][inputs.SKETCH_COLUMN]))
        if sketch.n != want["rows"]:
            errors.append(f"sketch holds {sketch.n} values, want {want['rows']}")
        return errors, os.path.getsize(path)


WORKLOADS = {"dense_suite": DenseSuite, "resume_append": ResumeAppend}
