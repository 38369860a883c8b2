"""Rule DSL base classes.

Two rule families:

* **RowRule** — compiles to a boolean pass-predicate ``Column`` plus
  observed/expected projection Columns. All row rules in a suite are
  evaluated in a SINGLE scan: one wide ``groupBy(partition).agg(...)``
  yields both the failure counts and each partition's first violation
  rows. This is the vectorized analog of the reference's collect-all-errors
  validator (ref: transcription/schema/validator.py:77-212 — `iter_errors`
  does not stop at the first error; neither do we).

* **TableRule** — whole-table checks that need their own (still declarative)
  Spark job: uniqueness (shuffle on key), referential integrity (broadcast
  anti-join), distribution drift (histogram agg vs baseline). Each returns
  per-partition verdict rows and optional violation rows in the shared shapes.

Everything stays JVM-side: predicates are Spark SQL expressions, never
per-row Python. Arrow-batch pandas UDFs are the only sanctioned escape hatch
(ref north rule: "zero per-row Python").
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class Rule(ABC):
    """A named constraint. ``spec()`` must be a pure-JSON dict — it feeds the
    suite content hash (suite identity ≈ reference's schema lockfile hash,
    ref: transcription/schema/integrity.py:222-335)."""

    rule_id: str

    @abstractmethod
    def spec(self) -> dict[str, Any]:
        """Canonical JSON-able description of the rule (for hashing)."""

    def __repr__(self) -> str:  # pragma: no cover
        return f"{type(self).__name__}({self.rule_id})"


class RowRule(Rule):
    """A per-row constraint: one boolean Column; violations are rows where it
    is (strictly) false. Nulls in the predicate are treated as *failures*
    unless the rule says otherwise — each concrete rule builds null-safety
    into its predicate explicitly."""

    @abstractmethod
    def predicate(self) -> Column:
        """True ⇒ row passes. Must never return NULL (coalesce inside)."""

    @abstractmethod
    def observed(self) -> Column:
        """String Column: what the row actually had (for the violation row)."""

    @abstractmethod
    def expected(self) -> Column:
        """String Column: what the rule wanted (for the violation row)."""


class TableRule(Rule):
    """A whole-table constraint evaluated as its own Spark job.

    ``evaluate`` returns ``(verdicts, violations)`` where

    * verdicts: DataFrame(partition string, rule_id string, passed boolean,
      violations long, observed string, expected string); a partition
      with no row has passed — the suite fills those in, and joins
      ``rows`` in from its pass-1 row counts
    * violations: DataFrame(key string, rule_id string, observed string,
      expected string) or None

    Join/aggregate rules build both with ``failure_result``.

    ``persisted``: optional sink list — any DataFrame the rule persists must
    be appended so SuiteResult.unpersist() can release it (streaming /
    long-running drivers would otherwise leak storage).

    ``cross_partition``: True ⇒ the rule's verdict depends on rows OUTSIDE a
    single partition (Unique). On resumed/pruned runs the suite feeds such
    rules the unpruned table.
    """

    cross_partition: bool = False

    @abstractmethod
    def evaluate(
        self,
        df: DataFrame,
        *,
        key_col: str,
        partition_col: str,
        violation_limit: int,
        persisted: list[DataFrame] | None = None,
    ) -> tuple[DataFrame, DataFrame | None]:
        ...


def failure_result(
    rule_id: str,
    counts: DataFrame,
    rows: DataFrame,
    noun: str,
    expected: str,
    violation_limit: int,
) -> tuple[DataFrame, DataFrame]:
    """Render a table rule's failures in the suite's verdict and violation
    shapes (ref violation-row shape: transcription/schema/validator.py:128-136).

    ``counts``: (__part, violations), one row per failing partition →
    verdicts with ``observed`` = "<violations> <noun>" and ``expected``.
    ``rows``: (key, observed, expected), one row per violation → violation
    rows, the first ``violation_limit`` in (key, observed, expected) order —
    pass 1's top-k order, so rows that tie on key at the limit are kept the
    same way whatever the partitioning."""
    verdicts = counts.select(
        F.col("__part").alias("partition"),
        F.lit(rule_id).alias("rule_id"),
        F.lit(False).alias("passed"),
        F.col("violations").cast("long").alias("violations"),
        F.concat(F.col("violations").cast("string"), F.lit(f" {noun}")).alias("observed"),
        F.lit(expected).alias("expected"),
    )
    violations = (
        rows.select("key", F.lit(rule_id).alias("rule_id"), "observed", "expected")
        .orderBy("key", "observed", "expected")
        .limit(violation_limit)
    )
    return verdicts, violations


def _str(col: Column) -> Column:
    """Null-safe cast-to-string for observed/expected projections."""
    return F.coalesce(col.cast("string"), F.lit("NULL"))


def content_fingerprint(df: DataFrame, cols: list[str]) -> str:
    """Cheap content identity of a reference-side table: row count, an
    order-independent XOR of xxhash64 over the projected columns, and the
    exact (decimal) sum of the same hashes. XOR alone cancels equal hashes
    in pairs, so ``[x, x, y]`` and ``[z, z, y]`` would agree; the sum does
    not cancel. One aggregate-only job.

    Rules whose verdict depends on a second table (ForeignKey.dim_df,
    HashInvariant.expected_df) fold this into spec() so the suite hash — and
    therefore checkpoint validity — changes when the REFERENCE data changes,
    not just the rule parameters. Mirrors the reference lockfile hashing
    actual content (ref: transcription/schema/integrity.py:222-335)."""
    hashed = df.select(F.xxhash64(*[F.col(c) for c in cols]).alias("__h"))
    row = hashed.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(__h)").alias("x"),
        F.expr("sum(cast(__h as decimal(38,0)))").alias("s"),
    ).first()
    return f"{row['n']}:{row['x']}:{row['s']}"
