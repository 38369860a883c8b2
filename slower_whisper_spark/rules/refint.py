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
    broadcast raw but whose Bloom fits in memory. Bits are built once on the
    driver (streamed, never a full collect of the fact side), broadcast, and
    membership-tested in a vectorized Arrow-batch pandas UDF (numpy, no
    per-row Python). False-positive rate p means a violating row escapes
    with probability p; false negatives are impossible, so every reported
    violation is real.
"""

from __future__ import annotations

from typing import Any

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from slower_whisper_spark.rules.base import TableRule, _str, content_fingerprint, failure_result


def _bloom_params(n_items: int, fp_rate: float) -> tuple[int, int]:
    """Standard Bloom sizing: m bits, k hashes."""
    n = max(1, n_items)
    m = int(np.ceil(-n * np.log(fp_rate) / (np.log(2) ** 2)))
    k = max(1, int(round((m / n) * np.log(2))))
    return m, k


def _bloom_hashes(vals: np.ndarray, m: int, k: int) -> np.ndarray:
    """Double hashing: h_i = h1 + i*h2 mod m over uint64 key hashes.

    vals: uint64 array of pre-hashed keys. Returns (len(vals), k) positions.
    """
    h1 = vals
    # splitmix64-style second hash, vectorized
    z = (vals + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    h2 = (z ^ (z >> np.uint64(31))) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)).astype(np.int64)


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
        self._cached_bloom_udf = None
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

    def _build_bloom_udf(self, spark):
        """Build Bloom bits from the dimension (driver-side stream, never a
        full collect of the fact side) → vectorized membership UDF. Cached
        per rule instance: the dimension is fixed, so repeated validations
        (multi-partition runs, resume) pay the build once — rule compilation
        is planning-time work, like codegen."""
        if self._cached_bloom_udf is not None:
            return self._cached_bloom_udf
        dim_hashed = self.dim_df.select(F.xxhash64(F.col(self.dim_col)).alias("h")).distinct()
        n = dim_hashed.count()
        m, k = _bloom_params(n, self.fp_rate)
        bits = np.zeros((m + 7) // 8, dtype=np.uint8)
        for batch in dim_hashed.toArrow().to_batches():
            vals = batch.column(0).to_numpy(zero_copy_only=False).astype(np.uint64)
            pos = _bloom_hashes(vals, m, k).ravel()
            np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        bc = spark.sparkContext.broadcast((bits, m, k))

        from slower_whisper_spark.functions.vectorized import make_bloom_might_contain

        self._cached_bloom_udf = make_bloom_might_contain(bc)
        return self._cached_bloom_udf

    def row_predicate(self, df: DataFrame):
        """Boolean pass-predicate Column for bloom mode (fold-into-scan)."""
        might_contain = self._build_bloom_udf(df.sparkSession)
        fk = F.expr(self.fk_expr)
        ok = might_contain(F.xxhash64(fk))
        if self.allow_null:
            return F.when(fk.isNull(), F.lit(True)).otherwise(ok)
        return F.when(fk.isNull(), F.lit(False)).otherwise(ok)

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
