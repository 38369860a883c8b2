"""ConstraintSuite — a named, versioned, content-hashed set of rules, and the
engine that evaluates it.

Identity model mirrors the reference's schema registry + lockfile:
``KNOWN_SCHEMAS``-style (name, version) pairs with a canonical
sort-keys-JSON sha256 (ref: transcription/schema/registry.py:62-65,104-113);
``suite_hash`` plays the lockfile-hash role — a checkpoint whose recorded
rule_hash differs is invalid and forces re-validation
(ref: transcription/schema/integrity.py:222-335).

Evaluation plan (one scan of the input, fully declarative):

  pass 1 — one wide ``groupBy(partition).agg(...)``, cached: total row count
           plus, per row rule, a conditional-sum failure count and Spark's
           ``collect_top_k`` of the failing rows' (key, observed, expected)
           structs, the first ``violation_limit`` per table partition. This
           is the "single vectorized pass" — Catalyst prunes the scan to
           exactly the columns the rules reference.
  violation rows — read from the cached pass-1 row: the per-partition
           arrays are ``explode``d and a per-rule ``row_number`` keeps the
           first ``violation_limit`` over at most partitions × limit rows.
           The per-rule limit mirrors the reference's first-N-errors
           truncation (ref: transcription/transcript_io.py:27-30).
           ``ConstraintSuite.row_violations`` reads every row, unlimited.

Table rules (unique / fk / hash-invariant / drift) contribute their own jobs
and are unioned into the same verdict/violation shapes
(ref violation-row shape: transcription/schema/validator.py:128-136).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from slower_whisper_spark.functions.hashing import canonical_hash, spec_hash
from slower_whisper_spark.rules.base import RowRule, Rule, TableRule
from slower_whisper_spark.sqltext import sql_ident, sql_str

# Most top-k slots pass 1 may allocate per table partition: violation_limit
# times the counted rules (see check_violation_limit for the memory cost)
MAX_TOP_K_SLOTS = 100_000

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
        independent legs (pass-1 agg, unique, hash-invariant), the
        violation rows, and the stats projection fill each other's
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

    @property
    def counted_rules(self) -> list[Rule]:
        """Rules pass 1 counts and keeps failing rows of: row rules, Bloom FKs."""
        return self.row_rules + [r for r in self.table_rules if getattr(r, "foldable", False)]

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
        """Evaluate the suite. Plan construction only (apart from a Bloom
        ForeignKey's one-time filter build): the result is lazy, and
        ``SuiteResult.materialize(parallel=True)`` runs pass 1, the
        table-rule jobs and the stats read as concurrent jobs.

        ``violation_limit``: violation rows kept per rule, the first by
        (key, observed, expected); times the counted rules (row rules, Bloom
        ForeignKeys) at most ``MAX_TOP_K_SLOTS``, else ``ValueError``: see
        ``check_violation_limit`` for the cost. ``row_violations`` has no limit.

        ``pass2_prune`` is accepted and has no effect: violation rows come
        from the pass-1 aggregate, so there is no second scan to prune.

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
        check_violation_limit(violation_limit, len(self.counted_rules))
        spark = df.sparkSession
        pcol = partition_col or "__all"
        if partition_col is None:
            df = df.withColumn("__all", F.lit("ALL"))
            if global_df is not None:
                global_df = global_df.withColumn("__all", F.lit("ALL"))

        verdict_parts: list[DataFrame] = []
        violation_parts: list[DataFrame] = []
        persisted: list[DataFrame] = []

        # ---- classify rules: counted / folded drift / standalone -------- #
        counted = self._failing(df, key_col)
        folded_drift: list = []
        standalone: list = []
        for rule in self.table_rules:
            if hasattr(rule, "fold_agg_exprs"):
                folded_drift.append(rule)
            elif not getattr(rule, "foldable", False):
                standalone.append(rule)

        # ---- pass 1: ONE wide agg — per counted rule a fail count and the
        #      first violation_limit failing (key, observed, expected)
        #      structs, drift histograms, column stats: a single scan.
        #      Each rule's failing struct (NULL when the row passes) is
        #      projected once below the aggregate, so its predicate runs
        #      once per row, in whole-stage codegen ------------------------ #
        names = [f"__fail__{i}" for i in range(len(counted))]
        failing = [fail.alias(name) for name, (_, fail) in zip(names, counted)]
        tops = _collect_top_k(spark, [F.col(name) for name in names], violation_limit)
        agg_exprs = [F.count(F.lit(1)).alias("rows")]
        for name, (rid, _), top in zip(names, counted, tops):
            agg_exprs += [F.count(name).alias(f"viol__{rid}"), top.alias(f"top__{rid}")]
        for rule in folded_drift:
            agg_exprs += rule.fold_agg_exprs()

        stat_profiles = None
        if stats_columns:
            from slower_whisper_spark.stats import _profiles_for, stat_agg_exprs

            stat_profiles = _profiles_for(df, stats_columns)
            agg_exprs += stat_agg_exprs(df, stat_profiles)

        wide = df.select("*", *failing).groupBy(F.col(pcol).cast("string").alias("partition")).agg(*agg_exprs)
        wide = wide.cache()
        persisted.append(wide)
        part_rows = wide.select("partition", "rows")

        if counted:
            rids = [rid for rid, _ in counted]
            row_verdicts = wide.select(
                "partition", "rows", _stack(rids, [f"viol__{rid}" for rid in rids], "violations")
            ).select(
                "partition",
                "rule_id",
                (F.col("violations") == 0).alias("passed"),
                F.col("rows").cast("long").alias("rows"),
                F.col("violations").cast("long").alias("violations"),
                F.concat(F.col("violations").cast("string"), F.lit(" violating rows")).alias("observed"),
                F.lit("0 violating rows").alias("expected"),
            )
            verdict_parts.append(row_verdicts)

            # ---- violation rows: each table partition's first
            #      violation_limit failures per rule came out of pass 1;
            #      keep the first violation_limit over all partitions
            #      (ref first-N-errors: transcript_io.py:27-30) --------------- #
            found = wide.select(_stack(rids, [f"top__{rid}" for rid in rids], "top")).select(
                "rule_id", F.explode("top").alias("v")
            )
            w = Window.partitionBy("rule_id").orderBy("v")
            violation_parts.append(
                found.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= violation_limit)
                .select("v.key", "rule_id", "v.observed", "v.expected")
            )

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
            reduce(lambda a, b: a.unionByName(b), violation_parts) if violation_parts else _empty_violations(spark)
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

    def row_violations(self, df: DataFrame, *, key_col: str = "url") -> DataFrame:
        """Every violation row of the counted rules, unlimited: the rows
        ``validate()`` keeps the first ``violation_limit`` of, with no top-k
        buffer. Lazy, one scan of ``df`` a read; no table rules' rows."""
        failing = self._failing(df, key_col)
        if not failing:
            return _empty_violations(df.sparkSession)
        rids = [rid for rid, _ in failing]
        names = [f"__fail__{i}" for i in range(len(failing))]
        return (
            df.select(*[fail.alias(name) for name, (_, fail) in zip(names, failing)])
            .select(_stack(rids, names, "v"))
            .filter(F.col("v").isNotNull())
            .select("v.key", "rule_id", "v.observed", "v.expected")
        )

    def _failing(self, df: DataFrame, key_col: str) -> list[tuple[str, Column]]:
        """(rule_id, struct(key, observed, expected) of a failing row, NULL
        for a passing one) per counted rule; a Bloom FK builds its bits here."""
        key = F.col(key_col).cast("string").alias("key")
        out = []
        for r in self.counted_rules:
            row = isinstance(r, RowRule)
            pred = r.predicate() if row else r.row_predicate(df)
            observed, expected = (r.observed(), r.expected()) if row else (r.fold_observed(), r.fold_expected())
            out.append((r.rule_id, F.when(~pred, F.struct(key, observed.alias("observed"), expected.alias("expected")))))
        return out


def check_violation_limit(violation_limit: int, counted_rules: int = 1) -> None:
    """``ValueError`` unless 1 <= ``violation_limit`` and ``violation_limit``
    × ``counted_rules`` <= ``MAX_TOP_K_SLOTS``. Pass 1's top-k buffer per
    (table partition, counted rule, task) allocates its slots up front, 4-8
    bytes each, and a task holds up to 128 table partitions in memory
    (Spark's sort-based fallback threshold): at the bound, 128 × 100,000 ×
    8 B ≈ 100 MB a task. It costs time too: on a 4-CPU host, 200k rows in
    10^4 failing partitions, 4 row rules, took 2.3 s at limit 100 and 5.2 s
    at 25,000 (their bound), where a scan with no top-k took 2.0 and 2.2 s."""
    slots = violation_limit * max(counted_rules, 1)
    if violation_limit < 1 or slots > MAX_TOP_K_SLOTS:
        raise ValueError(
            f"violation_limit={violation_limit} x {counted_rules} counted rule(s) = {slots} top-k slots: the limit "
            f"must be >= 1 and the slots <= {MAX_TOP_K_SLOTS} (ConstraintSuite.row_violations has no limit)"
        )


def _stack(rule_ids: list[str], cols: list[str], name: str) -> Column:
    """One row per rule: ``(rule_id, <name>)`` from each rule's column."""
    pairs = ", ".join(f"{sql_str(rid)}, {sql_ident(c)}" for rid, c in zip(rule_ids, cols))
    return F.expr(f"stack({len(cols)}, {pairs}) as (rule_id, {name})")


def _collect_top_k(spark, values: list[Column], num: int) -> list[Column]:
    """Spark's ``collect_top_k`` aggregate over each of ``values``: the
    ``num`` smallest non-NULL values of a group, ascending. It is not a
    registered SQL function, so it is built from the catalyst class through
    the JVM gateway, as ``refint._might_contain`` is (``tests/test_plans.py``
    pins that path). The classes are looked up once for all ``values``."""
    jvm = spark._jvm
    utils = jvm.org.apache.spark.sql.classic.ExpressionUtils
    top_k = jvm.org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
    # reverse=True: keep the smallest, not the largest
    return [Column(utils.column(top_k(utils.expression(v._jc), num, True, 0, 0))) for v in values]


def _empty_violations(spark) -> DataFrame:
    return spark.createDataFrame([], "key string, rule_id string, observed string, expected string")


def _empty_verdicts(spark) -> DataFrame:
    return spark.createDataFrame(
        [],
        "partition string, rule_id string, passed boolean, rows long, violations long, observed string, expected string",
    )
