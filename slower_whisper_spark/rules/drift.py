"""Distribution-drift rules: PSI / KS against a checkpointed baseline.

Ancestor: the reference's baseline regression gate — per-metric regression
``(current - baseline) / baseline`` compared to a threshold (default 0.10),
``overall_passed = all(...)``, report vs gate mode
(ref: transcription/benchmark_cli.py:191,476-540). Here the "metric" is a
whole distribution: we bucket the column with fixed edges, compare the
per-partition histogram to the checkpointed baseline histogram with PSI
(Population Stability Index) or KS (max CDF distance), and fail partitions
whose statistic exceeds the threshold.

There is one computation. Each bucket's count is a conditional-sum
aggregate (``fold_agg_exprs``), which ConstraintSuite folds into its pass-1
``groupBy(partition).agg(...)``; PSI/KS are then SQL-text projections over
that one wide row per partition (``fold_verdict``). ``evaluate`` and
``statistic_df`` run the same aggregate on their own, so every entry point
costs one aggregation and no joins. The baseline itself is a small
JSON-able dict that lives in the checkpoint manifest (mergeable across runs
by summing counts).
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from slower_whisper_spark.rules.base import TableRule
from slower_whisper_spark.sqltext import sql_double, sql_ident, sql_str

_EPS = 1e-6


def _expr_or_col(name: str):
    """Column reference for rule/baseline specs: strings with a '(' parse as
    SQL expressions ('length(text)'); everything else — including names with
    hyphens, dots or spaces that F.expr would mis-parse as operators — stays
    a plain column lookup, preserving pre-expression behavior."""
    return F.expr(name) if "(" in name else F.col(name)


def _sql_ref(name: str) -> str:
    """SQL text for the same reference `_expr_or_col` builds: expressions
    pass through, plain names are backtick-quoted."""
    return name if "(" in name else sql_ident(name)


@dataclass
class Baseline:
    """Checkpointed distribution snapshot for one column.

    Kinds:
      * ``hist``     — fixed-edge equal-width histogram (lo/hi/n_buckets).
      * ``cat``      — top-N categorical counts.
      * ``quantile`` — equi-depth buckets whose ``edges`` come from a merged
        KLL sketch (``baseline_from_kll``): the baseline store is the ~5 KB
        mergeable sketch in the checkpoint manifest, so baselines accumulate
        across runs WITHOUT rescanning history, and bucket edges adapt to
        the data instead of needing lo/hi guessed up front.
    """

    column: str
    kind: str  # "hist" | "cat" | "quantile"
    counts: list[int]
    lo: float | None = None
    hi: float | None = None
    n_buckets: int | None = None
    categories: list[str] = field(default_factory=list)
    edges: list[float] = field(default_factory=list)

    def to_dict(self) -> dict[str, Any]:
        return asdict(self)

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "Baseline":
        return Baseline(**d)


def compute_baseline(
    df: DataFrame, column: str, kind: str = "hist", n_buckets: int = 20,
    lo: float | None = None, hi: float | None = None, max_categories: int = 100,
) -> Baseline:
    """One aggregation job → a small driver-side Baseline."""
    if kind == "hist":
        if lo is None or hi is None:
            mm = df.agg(
                F.min(_expr_or_col(column).cast("double")).alias("lo"),
                F.max(_expr_or_col(column).cast("double")).alias("hi"),
            ).first()
            lo = float(mm["lo"]) if lo is None else lo
            hi = float(mm["hi"]) if hi is None else hi
            if hi <= lo:
                hi = lo + 1.0
        rows = (
            df.select(
                F.width_bucket(_expr_or_col(column).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_buckets)).alias("b")
            )
            .groupBy("b")
            .count()
            .collect()
        )
        counts = [0] * (n_buckets + 2)  # width_bucket: 0=underflow, n+1=overflow
        for r in rows:
            if r["b"] is not None:
                counts[int(r["b"])] = int(r["count"])
        return Baseline(column=column, kind="hist", counts=counts, lo=lo, hi=hi, n_buckets=n_buckets)

    rows = (
        df.groupBy(_expr_or_col(column).cast("string").alias("c"))
        .count()
        .orderBy(F.desc("count"), F.asc("c"))
        .limit(max_categories)
        .collect()
    )
    cats = [r["c"] if r["c"] is not None else "<NULL>" for r in rows]
    counts = [int(r["count"]) for r in rows]
    return Baseline(column=column, kind="cat", counts=counts, categories=cats)


def baseline_from_kll(sketch, column: str, n_buckets: int = 20) -> Baseline:
    """Equi-depth Baseline from a (merged) KLL sketch: edges are the
    sketch's interior quantiles, expected mass is uniform by construction.
    Duplicate edges (heavy ties) collapse, so degenerate distributions get
    fewer, wider buckets instead of empty ones."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    raw_edges = sketch.quantiles(qs)
    edges: list[float] = []
    for e in raw_edges:
        if not edges or e > edges[-1]:
            edges.append(float(e))
    k = len(edges) + 1
    per = max(1, int(round(sketch.n / k)))
    return Baseline(column=column, kind="quantile", counts=[per] * k, edges=edges)


def kll_baseline_from_manifest(
    manifest, column: str, *, n_buckets: int = 20, k: int = 200
) -> Baseline:
    """Merge every partition's checkpointed KLL sketch for ``column`` (the
    latest manifest entry per partition THAT CARRIES the column's sketch,
    across however many runs produced them) into one table-level baseline —
    no data rescan; the manifest IS the baseline store. A later run executed
    WITHOUT sketch_columns must not erase the accumulated baseline, so
    sketch-less entries are skipped when picking the per-partition latest.
    Raises if no sketches were persisted."""
    import base64

    from slower_whisper_spark.functions.kll import merge_sketch_rows

    latest: dict[str, str] = {}
    for e in manifest.load():  # files are time-ordered; later overwrites
        if column in (e.sketches or {}):
            latest[e.partition] = e.sketches[column]
    raws = [base64.b64decode(b64) for b64 in latest.values()]
    if not raws:
        raise ValueError(f"no KLL sketches for column {column!r} in manifest")
    return baseline_from_kll(merge_sketch_rows(raws, k=k), column, n_buckets=n_buckets)


class Drift(TableRule):
    def __init__(
        self,
        column: str,
        baseline: Baseline,
        metric: str = "psi",  # "psi" | "ks"
        threshold: float = 0.25,
        min_rows: int = 100,
        rule_id: str | None = None,
    ):
        """min_rows: partitions smaller than this pass vacuously — a
        distribution statistic over a handful of rows is noise, and at
        10^12-doc scale a partition that small signals an ingest anomaly
        better caught by a Range/NotNull rule."""
        if metric == "ks" and baseline.kind == "cat":
            raise ValueError("KS drift requires an ordered (hist/quantile) baseline")
        self.column = column
        self.baseline = baseline
        self.metric = metric
        self.threshold = threshold
        self.min_rows = min_rows
        self.rule_id = rule_id or f"drift({column},{metric})"

    def spec(self) -> dict[str, Any]:
        return {
            "type": "drift",
            "column": self.column,
            "metric": self.metric,
            "threshold": self.threshold,
            "min_rows": self.min_rows,
            "baseline": self.baseline.to_dict(),
            "rule_id": self.rule_id,
        }

    # ------------------------------------------------------------------ #
    # bucket counts are aggregates (folded into the suite's pass-1 scan, or
    # run alone by evaluate/statistic_df); PSI/KS are then pure projections
    # over the (tiny) wide row — inside a suite, drift costs ZERO extra scans.
    # ------------------------------------------------------------------ #
    def _bucket_ids(self) -> list[int]:
        b = self.baseline
        if b.kind == "hist":
            return list(range(len(b.counts)))  # width_bucket: 0..n+1
        if b.kind == "quantile":
            return list(range(len(b.counts))) + [-1]  # -1 = NULL value
        ids = list(range(len(b.categories)))
        return ids + [-1]  # -1 = unseen category

    def _row_bucket_sql(self) -> str:
        """The per-row bucket id as SQL TEXT — one parsed string per bucket
        aggregate instead of a py4j round-trip per Column operator (plan
        construction for a 40-rule suite is driver-SERIAL at both ends of a
        scaling run, so it is sized like any other phase)."""
        b = self.baseline
        if b.kind == "hist":
            x = f"CAST({_sql_ref(self.column)} AS DOUBLE)"
            return f"width_bucket({x}, {sql_double(b.lo)}, {sql_double(b.hi)}, {int(b.n_buckets)})"
        if b.kind == "quantile":
            # equi-depth bucket = #edges strictly below the value (0..k-1);
            # a ~20-element literal-array HOF, stays in codegen
            x = f"CAST({_sql_ref(self.column)} AS DOUBLE)"
            edges = ", ".join(sql_double(e) for e in b.edges)
            return (
                f"CASE WHEN {x} IS NULL THEN -1 "
                f"ELSE size(filter(array({edges}), e -> {x} > e)) END"
            )
        known = f"CAST({_sql_ref(self.column)} AS STRING)"
        cats = list(b.categories)
        null_idx = cats.index("<NULL>") if "<NULL>" in cats else -1
        arr = ", ".join(sql_str(c) for c in cats)
        # array_position returns 0 (not NULL) when absent → -1 after the
        # shift, so unseen categories collapse into one drift bucket
        return (
            f"CASE WHEN {known} IS NULL THEN {null_idx} "
            f"ELSE array_position(array({arr}), {known}) - 1 END"
        )

    def fold_agg_exprs(self) -> list:
        bucket = self._row_bucket_sql()
        return [
            F.expr(
                f"sum(CASE WHEN ({bucket}) = {i} THEN 1 ELSE 0 END) "
                f"AS {sql_ident(f'drift__{self.rule_id}__{i}')}"
            )
            for i in self._bucket_ids()
        ]

    def _stat(self, wide: DataFrame) -> DataFrame:
        """(partition, __tot, __stat) from the wide row of bucket counts.

        Intermediates (total, per-bucket probabilities, KS cumulative sums)
        are materialized as NAMED columns step by step — inlining them would
        nest each cumulative sum inside the next and blow the expression
        tree up quadratically (Catalyst analysis then takes minutes for a
        20-bucket histogram)."""
        ids = self._bucket_ids()
        base_counts = {i: float(c) for i, c in enumerate(self.baseline.counts)}
        if self.baseline.kind in ("cat", "quantile"):
            base_counts[-1] = 0.0
        qtot = sum(base_counts.values()) or 1.0

        # Every projection ships as SQL TEXT (one selectExpr = one py4j
        # round-trip, parsed JVM-side) instead of per-operator Column calls;
        # sums are left-associative ('a + b + c') and sql_double round-trips
        # constants, so results equal the Column-API formulas bit for bit.
        ks = range(len(ids))
        rid = self.rule_id
        w = wide.selectExpr(
            "partition",
            *[
                f"CAST({sql_ident(f'drift__{rid}__{i}')} AS DOUBLE) AS __c{k}"
                for k, i in enumerate(ids)
            ],
        )
        tot = " + ".join(f"__c{k}" for k in ks)
        w = w.selectExpr("partition", *[f"__c{k}" for k in ks], f"{tot} AS __tot")
        eps = sql_double(_EPS)
        w = w.selectExpr(
            "partition",
            "__tot",
            *[f"(__c{k} + {eps}) / (__tot + {eps}) AS __p{k}" for k in ks],
        )

        if self.metric == "psi":
            contribs = []
            for k, i in enumerate(ids):
                q = sql_double((base_counts[i] + _EPS) / (qtot + _EPS))
                contribs.append(f"((__p{k} - {q}) * ln(__p{k} / {q}))")
            stat = " + ".join(contribs)
        else:  # ks over ascending bucket order, cumulative sums stay NAMED
            # (inlining them would nest quadratically; the cum TEXT reuses
            # the previous step's parenthesized sum, left-assoc)
            order = sorted(range(len(ids)), key=lambda k: ids[k])
            cq = 0.0
            diffs = []
            cum = None
            for k in order:
                cum = f"__p{k}" if cum is None else f"({cum} + __p{k})"
                cq += (base_counts[ids[k]] + _EPS) / (qtot + _EPS)
                diffs.append(f"abs(({cum}) - {sql_double(cq)})")
            stat = f"greatest({', '.join(diffs)})" if len(diffs) > 1 else diffs[0]

        return w.selectExpr("partition", "__tot", f"{stat} AS __stat")

    def fold_verdict(self, wide: DataFrame) -> DataFrame:
        """Per-partition verdict rows from the wide row of bucket counts."""
        w = self._stat(wide)
        small = f"(__tot < {sql_double(float(self.min_rows))})"
        obs_small = (
            "concat('skipped: n=', CAST(CAST(__tot AS BIGINT) AS STRING), "
            + sql_str(f" < min_rows={self.min_rows}")
            + ")"
        )
        obs_stat = f"concat({sql_str(self.metric + '=')}, CAST(round(__stat, 6) AS STRING))"
        return w.selectExpr(
            "partition",
            f"{sql_str(self.rule_id)} AS rule_id",
            f"({small} OR (__stat <= {sql_double(self.threshold)})) AS passed",
            "CAST(0 AS BIGINT) AS violations",
            f"CASE WHEN {small} THEN {obs_small} ELSE {obs_stat} END AS observed",
            f"{sql_str(f'{self.metric} <= {self.threshold}')} AS expected",
        )

    def _wide(self, df: DataFrame, partition_col: str) -> DataFrame:
        """The pass-1 fold run alone: one row of bucket counts per partition."""
        return df.groupBy(F.col(partition_col).cast("string").alias("partition")).agg(
            *self.fold_agg_exprs()
        )

    def statistic_df(self, df: DataFrame, partition_col: str) -> DataFrame:
        """Per-partition drift statistic as DATA: (__part, __stat, __n).
        The same computation as the verdict — exposed so callers (e.g.
        drift dashboards, oracle-checked queries) can consume the statistic
        directly instead of parsing it back out of the verdict string."""
        return self._stat(self._wide(df, partition_col)).selectExpr(
            "partition AS __part", "__stat", "CAST(__tot AS BIGINT) AS __n"
        )

    def evaluate(
        self,
        df: DataFrame,
        *,
        key_col: str,
        partition_col: str,
        violation_limit: int,
        persisted: list[DataFrame] | None = None,
    ) -> tuple[DataFrame, DataFrame | None]:
        return self.fold_verdict(self._wide(df, partition_col)), None
