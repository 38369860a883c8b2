"""Per-partition column statistics, folded into the suite's pass-1 scan.

The north star's "column stats via a single vectorized pass": count,
null-rate, min/max, mean/stddev, quantiles, approximate distinct — every
profiled column, every partition, inside the ONE
``groupBy(partition).agg(...)`` job that ``ConstraintSuite.validate``
runs for its rules (``stats_columns=[...]``; the long-format table lands
in ``SuiteResult.stats``). Catalyst prunes the Parquet scan to the
referenced columns and whole-stage codegen fuses every aggregate into one
loop.

Reference ancestors: per-speaker stats rollups
(ref: transcription/speaker_stats.py:26-102 — sums, medians, categorical
ratios) and the batch verdict rollup (ref: transcription/models.py:384-429).

Distinct counts come from Spark's built-in Apache DataSketches HLL
(``hll_sketch_agg``, read back with ``hll_sketch_estimate``); quantiles use
``percentile_approx`` (Greenwald-Khanna) in-pass. Mergeable, persistable
quantile sketches are ``functions/kll.py``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from slower_whisper_spark.sqltext import sql_double, sql_ident, sql_str

NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
# the p50/p95 columns of the stats table, and percentile_approx's accuracy
_QUANTILES = (0.5, 0.95)
_QUANTILE_ACCURACY = 1000


@dataclass
class ColumnProfile:
    column: str
    dtype: str


def _profiles_for(df: DataFrame, columns: list[str] | None) -> list[ColumnProfile]:
    out = []
    for f in df.schema.fields:
        if columns is not None and f.name not in columns:
            continue
        if f.name.startswith("__"):
            continue
        out.append(ColumnProfile(column=f.name, dtype=f.dataType.simpleString()))
    return out


def stat_agg_exprs(df: DataFrame, profiles: list[ColumnProfile]) -> list:
    """Aggregate expressions for a stats profile, which ConstraintSuite
    folds into its pass-1 scan (ONE scan computes rule fail-counts AND
    column stats).

    Built as SQL text (one parsed F.expr per aggregate): profiling 5
    columns is ~35 py4j round-trips instead of several hundred Column
    calls — plan construction is driver-serial at both ends of a scaling
    run, so it is sized like any other phase.

    String/binary columns are profiled on their LENGTH for the numeric
    moments (the webtext table's text/html stats are length distributions);
    min/max of strings stay lexical."""
    by_type = {f.name: f.dataType for f in df.schema.fields}
    qs = ", ".join(sql_double(q) for q in _QUANTILES)
    aggs = []
    for p in profiles:
        dt = by_type[p.column]
        c = sql_ident(p.column)
        if isinstance(dt, NUMERIC_TYPES):
            num = f"CAST({c} AS DOUBLE)"
        elif isinstance(dt, (T.TimestampType, T.DateType)):
            num = f"CAST(CAST({c} AS TIMESTAMP) AS DOUBLE)"
        elif isinstance(dt, (T.StringType, T.BinaryType)):
            num = f"CAST(length({c}) AS DOUBLE)"
        elif isinstance(dt, T.ArrayType):
            num = f"CAST(size({c}) AS DOUBLE)"
        else:
            num = "CAST(NULL AS DOUBLE)"
        n = p.column
        # binary min/max as raw bytes would produce non-UTF8 strings; use lengths
        ordered = f"length({c})" if isinstance(dt, T.BinaryType) else c
        # hll_sketch_agg accepts int/bigint/string/binary only
        if isinstance(dt, (T.StringType, T.BinaryType, T.IntegerType, T.LongType)):
            sk_src = c
        else:
            sk_src = f"CAST({c} AS STRING)"
        aggs += [
            F.expr(f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS {sql_ident(f'nulls__{n}')}"),
            F.expr(f"CAST(min({ordered}) AS STRING) AS {sql_ident(f'min__{n}')}"),
            F.expr(f"CAST(max({ordered}) AS STRING) AS {sql_ident(f'max__{n}')}"),
            F.expr(f"avg({num}) AS {sql_ident(f'mean__{n}')}"),
            F.expr(f"stddev_samp({num}) AS {sql_ident(f'stddev__{n}')}"),
            F.expr(
                f"percentile_approx({num}, array({qs}), {_QUANTILE_ACCURACY})"
                f" AS {sql_ident(f'q__{n}')}"
            ),
            F.expr(f"hll_sketch_agg({sk_src}, 14) AS {sql_ident(f'hll__{n}')}"),
        ]
    return aggs


def unpivot_stats(wide: DataFrame, profiles: list[ColumnProfile]) -> DataFrame:
    """Long-format stats from a (cached) wide agg row. Pure projections —
    no extra scan of the source table.

    Output: (partition, column, dtype, rows, nulls, null_rate, min, max,
    mean, stddev, p50, p95, approx_distinct).

    ONE ``stack`` generator unpivots every profiled column in a single
    projection: no per-column select + unionByName chain (which re-analyzed
    a growing plan per column — O(n²) driver time) and no Union node at
    runtime."""
    names = ["column", "dtype", "nulls", "null_rate", "min", "max", "mean", "stddev"]
    names += [f"p{int(q * 100)}" for q in _QUANTILES]
    names.append("approx_distinct")

    tuples = []
    for p in profiles:
        n = p.column
        nulls, q_arr, hll = sql_ident(f"nulls__{n}"), sql_ident(f"q__{n}"), sql_ident(f"hll__{n}")
        row = [
            sql_str(n),
            sql_str(p.dtype),
            f"CAST({nulls} AS BIGINT)",
            f"{nulls} / rows",
            sql_ident(f"min__{n}"),
            sql_ident(f"max__{n}"),
            sql_ident(f"mean__{n}"),
            sql_ident(f"stddev__{n}"),
        ]
        row += [f"{q_arr}[{i}]" for i in range(len(_QUANTILES))]
        row.append(f"CAST(hll_sketch_estimate({hll}) AS BIGINT)")
        tuples.append(", ".join(row))

    stacked = wide.selectExpr(
        "partition",
        "CAST(rows AS BIGINT) AS rows",
        f"stack({len(profiles)}, {', '.join(tuples)}) AS ({', '.join(names)})",
    )
    return stacked.select("partition", *names[:2], "rows", *names[2:])
