"""Referential-integrity rule: broadcast anti-join, with a Bloom-filter
scale path.

Reference semantics: intra-document array cross-references
(turns[].segment_ids ⊆ segments[].id, ref: transcription/turns.py:151-175 and
transcript-v2.schema.json:90-94) generalized to real relational referential
integrity: every fk value in the fact table must exist in a dimension table.

Physical strategy:
  * **broadcast left-anti join** (default): the dimension's distinct key set
    is broadcast to every executor; violations = fact rows with no match.
    Never shuffles the fact table.
  * **Bloom filter** (``mode="bloom"``): for dimensions too large to
    broadcast raw but whose Bloom fits in a plan literal. Spark's own filter
    (``DataFrameStatFunctions.bloomFilter`` over ``xxhash64(dim_col)``) is
    built once per rule by a distributed aggregate and probed by Spark's
    ``might_contain`` expression, so membership runs inside whole-stage
    codegen with no Python worker. False-positive rate p means a violating
    row escapes with probability p; false negatives are impossible, so
    every reported violation is real. A dimension past Spark's runtime
    Bloom-filter bound (``spark.sql.optimizer.runtime.bloomFilter.maxNumBits``,
    8 MiB by default) is refused at build time: use the broadcast mode.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from slower_whisper_spark.rules.base import TableRule, _str, content_fingerprint, failure_result

# Spark's bound on its own runtime Bloom filters (default 8 MiB of bits)
_MAX_BITS = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
_MAX_ITEMS = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"


def _might_contain(spark, bloom: bytes, value: Column) -> Column:
    """Spark's ``might_contain(bloom, value)`` expression as a Column.
    PySpark has no wrapper for it, so it is built from the catalyst classes
    through the JVM gateway (``tests/test_plans.py`` pins that path)."""
    jvm = spark._jvm
    expr = jvm.org.apache.spark.sql.catalyst.expressions
    utils = jvm.org.apache.spark.sql.classic.ExpressionUtils
    bits = expr.Literal.create(bloom, jvm.org.apache.spark.sql.types.DataTypes.BinaryType)
    return Column(utils.column(expr.BloomFilterMightContain(bits, utils.expression(value._jc))))


class ForeignKey(TableRule):
    def __init__(
        self,
        fk_expr: str,
        dim_df: DataFrame,
        dim_col: str,
        rule_id: str | None = None,
        mode: str = "broadcast",
        fp_rate: float = 1e-6,
        allow_null: bool = True,
        dim_version: str | None = None,
    ):
        """fk_expr: SQL expression producing the fk value from a fact row
        (e.g. ``parse_url(url, 'HOST')``). dim_df/dim_col: the reference set.

        ``dim_version``: content identity of the dimension, folded into
        spec() → suite_hash → checkpoint validity (a changed dimension must
        invalidate 'done' partitions). Pass a snapshot id when available;
        otherwise the dimension is fingerprinted EAGERLY here (count +
        xor-hash aggregate, one bounded job at construction time) — eager so
        suite_hash never depends on when spec() was first called and a getter
        never hides a Spark job (ADVICE r2). If the dimension DataFrame's
        contents change later in the same driver session, rebuild the rule
        (the fingerprint identifies construction-time content)."""
        self.fk_expr = fk_expr
        self.dim_df = dim_df
        self.dim_col = dim_col
        self.mode = mode
        self.fp_rate = fp_rate
        self.allow_null = allow_null
        self.rule_id = rule_id or f"fk({fk_expr})"
        self._bloom_bytes: bytes | None = None
        if dim_version is None:
            dim_version = content_fingerprint(dim_df, [dim_col])
        self._dim_version = dim_version

    def spec(self) -> dict[str, Any]:
        return {
            "type": "foreign_key",
            "fk_expr": self.fk_expr,
            "dim_col": self.dim_col,
            "mode": self.mode,
            "fp_rate": self.fp_rate if self.mode == "bloom" else None,
            "allow_null": self.allow_null,
            "dim_version": self._dim_version,
            "rule_id": self.rule_id,
        }

    @property
    def foldable(self) -> bool:
        """Bloom mode compiles to a per-row predicate → the suite folds it
        into the single pass-1 scan (no separate job)."""
        return self.mode == "bloom"

    def _bloom(self) -> bytes:
        """Spark's serialized Bloom filter over ``xxhash64(dim_col)``, built by
        a distributed aggregate that collects only the bits. Cached per
        rule instance: the dimension is fixed, so repeated validations
        (multi-partition runs, resume) pay the build once.

        The bits travel in the plan and every task binary, so they are held
        to Spark's own runtime-filter bound. Past it Spark would silently
        shrink the filter and raise its false-positive rate, so this
        refuses instead."""
        if self._bloom_bytes is not None:
            return self._bloom_bytes
        spark = self.dim_df.sparkSession
        sketch = spark._jvm.org.apache.spark.util.sketch.BloomFilter
        hashed = self.dim_df.select(F.xxhash64(F.col(self.dim_col)).alias("h"))
        n = hashed.distinct().count()
        bits = sketch.optimalNumOfBits(n, self.fp_rate)
        max_bits = int(spark.conf.get(_MAX_BITS))
        max_items = int(spark.conf.get(_MAX_ITEMS))
        if bits > max_bits or n > max_items:
            raise ValueError(
                f"{self.rule_id}: a Bloom filter of {n} keys at fp_rate={self.fp_rate} "
                f"needs {bits} bits; Spark caps it at {_MAX_BITS}={max_bits} and "
                f"{_MAX_ITEMS}={max_items}. Use mode=\"broadcast\" for this dimension."
            )
        # an empty dimension aggregates to NULL, not a filter; a fresh filter rejects every key
        filt = hashed._jdf.stat().bloomFilter("h", n, self.fp_rate) if n else sketch.create(1, self.fp_rate)
        out = spark._jvm.java.io.ByteArrayOutputStream()
        filt.writeTo(out)
        self._bloom_bytes = bytes(out.toByteArray())
        return self._bloom_bytes

    def row_predicate(self, df: DataFrame):
        """Boolean pass-predicate Column for bloom mode (fold-into-scan)."""
        fk = F.expr(self.fk_expr)
        ok = _might_contain(df.sparkSession, self._bloom(), F.xxhash64(fk))
        return F.when(fk.isNull(), F.lit(self.allow_null)).otherwise(ok)

    def fold_observed(self):
        return _str(F.expr(self.fk_expr))

    def fold_expected(self):
        return F.lit(f"member of dim.{self.dim_col}")

    def _violating_rows(self, df: DataFrame, key_col: str, partition_col: str) -> DataFrame:
        fk = F.expr(self.fk_expr)
        cols = [
            F.col(partition_col).cast("string").alias("__part"),
            F.col(key_col).cast("string").alias("__key"),
            fk.alias("__fk"),
        ]
        if self.mode == "bloom":
            # the same membership predicate the suite folds into its scans
            return df.filter(~self.row_predicate(df)).select(*cols)

        fact = df.select(*cols)
        if self.allow_null:
            fact = fact.filter(F.col("__fk").isNotNull())
        dim = self.dim_df.select(F.col(self.dim_col).alias("__fk")).distinct()
        return fact.join(F.broadcast(dim), "__fk", "left_anti")

    def evaluate(
        self,
        df: DataFrame,
        *,
        key_col: str,
        partition_col: str,
        violation_limit: int,
        persisted: list[DataFrame] | None = None,
    ) -> tuple[DataFrame, DataFrame | None]:
        # violations are rare; persist so verdict agg + violation projection
        # share one anti-join/bloom scan
        viol_rows = self._violating_rows(df, key_col, partition_col).persist()
        if persisted is not None:
            persisted.append(viol_rows)

        counts = viol_rows.groupBy("__part").agg(F.count(F.lit(1)).alias("violations"))
        rows = viol_rows.select(
            F.col("__key").alias("key"),
            F.col("__fk").cast("string").alias("observed"),
            self.fold_expected().alias("expected"),
        )
        return failure_result(
            self.rule_id, counts, rows, "rows with unknown reference",
            f"{self.fk_expr} in dim.{self.dim_col}", violation_limit,
        )
