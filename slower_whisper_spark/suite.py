"""ConstraintSuite — a named, versioned, content-hashed set of rules, and the
engine that evaluates it.

Identity model mirrors the reference's schema registry + lockfile:
``KNOWN_SCHEMAS``-style (name, version) pairs with a canonical
sort-keys-JSON sha256 (ref: transcription/schema/registry.py:62-65,104-113);
``suite_hash`` plays the lockfile-hash role — a checkpoint whose recorded
rule_hash differs is invalid and forces re-validation
(ref: transcription/schema/integrity.py:222-335).

Evaluation plan (two scans, both fully declarative):

  pass 1 — one wide ``groupBy(partition).agg(...)``: total row count plus a
           conditional-sum failure count per row rule. This is the "single
           vectorized pass" — Catalyst prunes the scan to exactly the
           columns the rules reference, and whole-stage codegen fuses every
           predicate into the same loop over the Parquet column batches.
  pass 2 — violation rows, only executed when pass 1 found failures: one
           scan building an array of failed-rule structs per row →
           ``explode`` → per-rule ``row_number`` limit. The per-rule limit
           mirrors the reference's first-N-errors truncation
           (ref: transcription/transcript_io.py:27-30).

Table rules (unique / fk / hash-invariant / drift) contribute their own jobs
and are unioned into the same verdict/violation shapes
(ref violation-row shape: transcription/schema/validator.py:128-136).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from slower_whisper_spark.functions.hashing import canonical_hash, spec_hash
from slower_whisper_spark.rules.base import RowRule, Rule, TableRule
from slower_whisper_spark.sqltext import sql_ident, sql_str

VERDICT_COLS = ["partition", "rule_id", "passed", "rows", "violations", "observed", "expected"]
VIOLATION_COLS = ["key", "rule_id", "observed", "expected"]


@dataclass
class SuiteResult:
    suite_name: str
    suite_version: int
    suite_hash: str
    verdicts: DataFrame  # VERDICT_COLS
    violations: DataFrame  # VIOLATION_COLS
    stats: DataFrame | None = None  # stats.unpivot_stats shape, when requested
    persisted: list[DataFrame] = None  # type: ignore[assignment]

    def unpersist(self) -> None:
        """Release every DataFrame validate() cached/persisted. Call after
        the verdicts/violations/stats have been materialized — long-running
        drivers (streaming foreachBatch loops, multi-suite batch runs) would
        otherwise accumulate storage indefinitely."""
        for df in self.persisted or []:
            try:
                df.unpersist()
            except Exception:  # pragma: no cover - session already stopped
                pass

    def materialize(self, parallel: bool = True) -> dict[str, Any]:
        """Run all three result actions and return
        ``{"verdicts": rows, "n_violations": int, "stats": rows | None}``.

        ``parallel=True`` submits them from separate threads so Spark
        schedules the three jobs concurrently: the verdict union's
        independent legs (pass-1 agg, unique, hash-invariant), the pass-2
        violation scan, and the stats projection fill each other's
        scheduling gaps and straggler-wave idle slots instead of running as
        three serialized driver barriers. Shared subtrees are safe: the
        pass-1 ``wide`` row is cached and Spark's block store computes a
        cached partition once, blocking concurrent requesters on the same
        block. On a driver with SparkContext FIFO scheduling the jobs still
        interleave at stage granularity — exactly what a long-running 100-TB
        driver does with async actions."""
        if not parallel:
            verd = self.verdicts.collect()
            n_viol = self.violations.count()
            stats = self.stats.collect() if self.stats is not None else None
            return {"verdicts": verd, "n_violations": n_viol, "stats": stats}
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as ex:
            fv = ex.submit(self.verdicts.collect)
            fn = ex.submit(self.violations.count)
            fs = ex.submit(self.stats.collect) if self.stats is not None else None
            return {
                "verdicts": fv.result(),
                "n_violations": fn.result(),
                "stats": fs.result() if fs is not None else None,
            }

    def partition_status(self) -> DataFrame:
        """Per-partition rollup with the reference's status vocabulary:
        success (no rule failed) / partial (some rules failed)
        (ref: transcription/models.py:363,449 and audio_enrichment.py:322-377)."""
        return (
            self.verdicts.groupBy("partition")
            .agg(
                F.max("rows").alias("rows"),
                F.sum(F.when(~F.col("passed"), 1).otherwise(0)).alias("rules_failed"),
                F.sum("violations").alias("violations"),
            )
            .withColumn(
                "status",
                F.when(F.col("rules_failed") == 0, F.lit("success")).otherwise(F.lit("partial")),
            )
            .select("partition", "status", "rows", "rules_failed", "violations")
        )

    def overall_passed(self) -> bool:
        """Gate-mode verdict (ref: benchmark_cli.py overall_passed = all(...))."""
        return self.verdicts.filter(~F.col("passed")).limit(1).count() == 0


class ConstraintSuite:
    def __init__(self, name: str, rules: list[Rule], version: int = 1):
        self.name = name
        self.version = version
        self.rules = list(rules)
        ids = [r.rule_id for r in self.rules]
        if len(set(ids)) != len(ids):
            raise ValueError(f"duplicate rule_ids in suite: {ids}")

    @property
    def row_rules(self) -> list[RowRule]:
        return [r for r in self.rules if isinstance(r, RowRule)]

    @property
    def table_rules(self) -> list[TableRule]:
        return [r for r in self.rules if isinstance(r, TableRule)]

    def spec(self) -> dict[str, Any]:
        return {
            "name": self.name,
            "version": self.version,
            # spec FORMAT version, distinct from the suite's semantic
            # ``version`` — removes the structural-detection ambiguity for
            # future formats that keep a "rules" key (migrate.detect_version)
            "spec_format": 2,
            "rules": [r.spec() for r in self.rules],
        }

    @property
    def suite_hash(self) -> str:
        # spec_format is a serialization marker, not semantics: hash the
        # semantic content only, so format upgrades never invalidate
        # checkpoints or lockfiles (see functions.hashing.spec_hash).
        return spec_hash(self.spec())

    # ------------------------------------------------------------------ #

    def validate(
        self,
        df: DataFrame,
        *,
        key_col: str = "url",
        partition_col: str | None = None,
        violation_limit: int = 100,
        stats_columns: list[str] | None = None,
        global_df: DataFrame | None = None,
        pass2_prune: bool = True,
    ) -> SuiteResult:
        """Evaluate the suite.

        ``pass2_prune`` (default True): collect pass-1's failing-partition
        set eagerly and restrict the pass-2 violation scan to it — on a
        hive/Iceberg layout that isin literal becomes FILE-level partition
        pruning, so a mostly-clean 10^12-row table pays pass 2 only for its
        bad partitions. The collect is also validate()'s only blocking
        action: with ``pass2_prune=False`` the method returns a fully LAZY
        result (pass 2 scans every partition of ``df``; identical rows —
        the two-level limit bounds output regardless), which lets
        ``SuiteResult.materialize(parallel=True)`` overlap pass 1, the
        table-rule jobs, and pass 2 as concurrent jobs. Choose by violation
        geometry: sparse violations → prune (skip the data); violations
        everywhere (dense-failure benches, ingest quarantines) → False
        (skip the barrier).

        ``stats_columns``: fold a column-stats profile into the pass-1 scan
        (count/null-rate/min/max/mean/stddev/quantiles/HLL) — the result
        lands in ``SuiteResult.stats`` at zero extra scans.

        ``global_df``: the UNPRUNED table, for resumed runs where ``df`` has
        been filtered to pending partitions. Cross-partition table rules
        (``rule.cross_partition`` True, e.g. Unique) evaluate over it so a
        key duplicated across a completed and a pending partition is still
        caught — verdicts stay scoped to ``df``'s partitions via the
        part_rows join. Row rules and per-partition table rules stay on the
        pruned ``df`` (their verdicts are partition-local by construction).
        """
        spark = df.sparkSession
        pcol = partition_col or "__all"
        if partition_col is None:
            df = df.withColumn("__all", F.lit("ALL"))
            if global_df is not None:
                global_df = global_df.withColumn("__all", F.lit("ALL"))

        verdict_parts: list[DataFrame] = []
        violation_parts: list[DataFrame] = []
        persisted: list[DataFrame] = []

        # ---- classify rules: row / folded-into-scan / standalone -------- #
        row_rules: list = list(self.row_rules)
        folded_fk: list = []
        folded_drift: list = []
        standalone: list = []
        for rule in self.table_rules:
            if getattr(rule, "foldable", False):
                folded_fk.append(rule)
            elif hasattr(rule, "fold_agg_exprs"):
                folded_drift.append(rule)
            else:
                standalone.append(rule)

        # bloom-FK rules compile to per-row predicates (Spark's might_contain
        # over the rule's Bloom bits) and join the row-rule family for BOTH
        # passes
        fk_compiled = [(rule, rule.row_predicate(df)) for rule in folded_fk]

        # ---- pass 1: ONE wide agg — rule fail counts + drift histograms
        #      + column stats, all in a single scan ----------------------- #
        agg_exprs = [F.count(F.lit(1)).alias("rows")]
        agg_exprs += [r.fail_count_expr() for r in row_rules]
        agg_exprs += [
            F.sum(F.when(~pred, F.lit(1)).otherwise(F.lit(0))).alias(f"viol__{rule.rule_id}")
            for rule, pred in fk_compiled
        ]
        for rule in folded_drift:
            agg_exprs += rule.fold_agg_exprs()

        stat_profiles = None
        if stats_columns:
            from slower_whisper_spark.stats import _profiles_for, stat_agg_exprs

            stat_profiles = _profiles_for(df, stats_columns)
            agg_exprs += stat_agg_exprs(df, stat_profiles)

        wide = df.groupBy(F.col(pcol).cast("string").alias("partition")).agg(*agg_exprs)
        wide = wide.cache()
        persisted.append(wide)
        part_rows = wide.select("partition", "rows")

        counted_ids = [r.rule_id for r in row_rules] + [r.rule_id for r in folded_fk]
        if counted_ids:
            stacked = wide.select(
                "partition",
                "rows",
                F.expr(
                    f"stack({len(counted_ids)}, "
                    + ", ".join(f"{sql_str(rid)}, {sql_ident(f'viol__{rid}')}" for rid in counted_ids)
                    + ") as (rule_id, violations)"
                ),
            )
            row_verdicts = stacked.select(
                "partition",
                "rule_id",
                (F.col("violations") == 0).alias("passed"),
                F.col("rows").cast("long").alias("rows"),
                F.col("violations").cast("long").alias("violations"),
                F.concat(F.col("violations").cast("string"), F.lit(" violating rows")).alias("observed"),
                F.lit("0 violating rows").alias("expected"),
            )
            verdict_parts.append(row_verdicts)

            # ---- pass 2: violation rows (only if something failed, and only
            #      over the partitions that failed — on a hive/Iceberg layout
            #      the isin filter becomes file-level partition pruning, so a
            #      mostly-clean 10^12-row table pays pass 2 only for its bad
            #      partitions; ref first-N-errors: transcript_io.py:27-30) --- #
            any_fail = reduce(
                lambda a, b: a | b, [F.col(sql_ident(f"viol__{rid}")) > 0 for rid in counted_ids]
            )
            scan: DataFrame | None = df
            if pass2_prune:
                # ONE collect decides the prune AND yields the partition
                # total (a second wide.count() job would be pure overhead)
                flags = wide.select("partition", any_fail.alias("__fail")).collect()
                failing_parts = [r["partition"] for r in flags if r["__fail"]]
                if not failing_parts:
                    scan = None
                elif partition_col is not None and len(failing_parts) < len(flags):
                    scan = df.filter(F.col(pcol).cast("string").isin(failing_parts))
            if scan is not None:
                structs = F.array(
                    *(
                        [
                            F.struct(
                                F.lit(r.rule_id).alias("rule_id"),
                                r.observed().alias("observed"),
                                r.expected().alias("expected"),
                                r.predicate().alias("ok"),
                            )
                            for r in row_rules
                        ]
                        + [
                            F.struct(
                                F.lit(rule.rule_id).alias("rule_id"),
                                rule.fold_observed().alias("observed"),
                                rule.fold_expected().alias("expected"),
                                pred.alias("ok"),
                            )
                            for rule, pred in fk_compiled
                        ]
                    )
                )
                failed = F.filter(structs, lambda s: ~s["ok"])
                exploded = (
                    scan.select(F.col(key_col).cast("string").alias("key"), failed.alias("__f"))
                    .filter(F.size("__f") > 0)
                    .select("key", F.explode("__f").alias("v"))
                    .select(
                        "key",
                        F.col("v.rule_id").alias("rule_id"),
                        F.col("v.observed").alias("observed"),
                        F.col("v.expected").alias("expected"),
                    )
                )
                # two-level limit (VERDICT r1 #1): a single global
                # Window.partitionBy(rule_id) routes ALL violating rows of a
                # rule through one reducer — on a heavily-violating table
                # (the exact case pass 2 exists for) that task sorts the full
                # violation set. Level 1 caps per (rule, input-partition)
                # first, spreading the sort across every task; level 2 then
                # totals-orders only the ≤ limit × n_partitions survivors.
                w_local = Window.partitionBy("rule_id", "__pid").orderBy("key")
                pre = (
                    exploded.withColumn("__pid", F.spark_partition_id())
                    .withColumn("__rn", F.row_number().over(w_local))
                    .filter(F.col("__rn") <= violation_limit)
                    .drop("__rn")
                )
                w = Window.partitionBy("rule_id").orderBy("key")
                limited = (
                    pre.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") <= violation_limit)
                    .drop("__rn", "__pid")
                )
                # bounded to violation_limit × n_rules rows → persist so
                # downstream count()/collect() don't re-scan the table
                limited = limited.persist()
                persisted.append(limited)
                violation_parts.append(limited)

        # ---- folded drift verdicts: projections on the cached wide row -- #
        for rule in folded_drift:
            dv = rule.fold_verdict(wide).join(part_rows, "partition").select(
                "partition", "rule_id", "passed",
                F.col("rows").cast("long").alias("rows"),
                "violations", "observed", "expected",
            )
            verdict_parts.append(dv)

        # ---- standalone table rules (unique / join-based) ---------------- #
        for rule in standalone:
            # cross-partition rules (Unique) see the UNPRUNED table on
            # resumed runs — a key duplicated across a completed and a
            # pending partition must still fail the pending partition
            scope = global_df if (global_df is not None and getattr(rule, "cross_partition", False)) else df
            tv, tviol = rule.evaluate(
                scope, key_col=key_col, partition_col=pcol, violation_limit=violation_limit,
                persisted=persisted,
            )
            # fill in passing partitions the rule didn't emit
            full = (
                part_rows.join(tv, "partition", "left")
                .select(
                    "partition",
                    F.coalesce(F.col("rule_id"), F.lit(rule.rule_id)).alias("rule_id"),
                    F.coalesce(F.col("passed"), F.lit(True)).alias("passed"),
                    F.col("rows").cast("long").alias("rows"),
                    F.coalesce(F.col("violations"), F.lit(0)).cast("long").alias("violations"),
                    F.coalesce(F.col("observed"), F.lit("ok")).alias("observed"),
                    F.coalesce(F.col("expected"), F.lit("")).alias("expected"),
                )
            )
            verdict_parts.append(full)
            if tviol is not None:
                violation_parts.append(tviol)

        verdicts = reduce(lambda a, b: a.unionByName(b), verdict_parts) if verdict_parts else _empty_verdicts(spark)
        if "rows" not in verdicts.columns:  # pragma: no cover
            verdicts = verdicts.join(part_rows, "partition", "left")
        violations = (
            reduce(lambda a, b: a.unionByName(b), violation_parts)
            if violation_parts
            else spark.createDataFrame([], "key string, rule_id string, observed string, expected string")
        )

        stats_df = None
        if stat_profiles:
            from slower_whisper_spark.stats import unpivot_stats

            stats_df = unpivot_stats(wide, stat_profiles)

        return SuiteResult(
            suite_name=self.name,
            suite_version=self.version,
            suite_hash=self.suite_hash,
            verdicts=verdicts.select(*VERDICT_COLS),
            violations=violations.select(*VIOLATION_COLS),
            stats=stats_df,
            persisted=persisted,
        )


def _empty_verdicts(spark) -> DataFrame:
    return spark.createDataFrame(
        [],
        "partition string, rule_id string, passed boolean, rows long, violations long, observed string, expected string",
    )
