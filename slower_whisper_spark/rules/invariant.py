"""Byte-identity invariant: sha2(column) must equal a per-key expected hash.

This is the engine's per-row invariant vs the reference ("byte-identical
extracted text per url", BASELINE.json input_hint); the ancestor is the
reference's content-hash integrity verification
(ref: transcription/schema/integrity.py:222-335 — recompute hash, compare to
lockfile, strict raises).

Physical strategy: a single equi-join on the key column between the fact
table (projected to key + sha2) and the expected-hash table. At 100 TB both
sides should be bucketed by key on disk so the join is co-located
(no shuffle); at test scale Spark's shuffled hash/sort-merge join with AQE is
fine. The hash itself is JVM-side (``sha2``), no Python.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from slower_whisper_spark.rules.base import RowRule, TableRule, _str, content_fingerprint, failure_result


class HashInvariant(TableRule):
    def __init__(
        self,
        column: str,
        expected_df: DataFrame,
        expected_key: str = "url",
        expected_hash_col: str = "text_sha256",
        rule_id: str | None = None,
        missing_is_violation: bool = False,
        expected_version: str | None = None,
    ):
        """``expected_version``: identity of the expected-hash table's
        CONTENT, folded into spec() → suite_hash → checkpoint validity.
        Pass a version string when the caller tracks it (e.g. an Iceberg
        snapshot id — free); otherwise it is fingerprinted EAGERLY at
        construction (count + xor-hash aggregate, one bounded job) so
        suite_hash never depends on when spec() was first called and no
        getter hides a Spark job (ADVICE r2). Rebuild the rule if the
        expected table's contents change in the same driver session. Without
        this a changed expected table would leave checkpointed partitions
        'done' and never re-validated."""
        self.column = column
        self.expected_df = expected_df
        self.expected_key = expected_key
        self.expected_hash_col = expected_hash_col
        self.missing_is_violation = missing_is_violation
        self.rule_id = rule_id or f"hash_invariant({column})"
        if expected_version is None:
            expected_version = content_fingerprint(
                expected_df, [expected_key, expected_hash_col]
            )
        self._expected_version = expected_version

    def spec(self) -> dict[str, Any]:
        return {
            "type": "hash_invariant",
            "column": self.column,
            "expected_key": self.expected_key,
            "expected_hash_col": self.expected_hash_col,
            "missing_is_violation": self.missing_is_violation,
            "expected_version": self._expected_version,
            "rule_id": self.rule_id,
        }

    def evaluate(
        self,
        df: DataFrame,
        *,
        key_col: str,
        partition_col: str,
        violation_limit: int,
        persisted: list[DataFrame] | None = None,
    ) -> tuple[DataFrame, DataFrame | None]:
        actual = df.select(
            F.col(partition_col).cast("string").alias("__part"),
            F.col(key_col).cast("string").alias("__key"),
            F.sha2(F.col(self.column).cast("binary"), 256).alias("__actual"),
        )
        expected = self.expected_df.select(
            F.col(self.expected_key).cast("string").alias("__key"),
            F.col(self.expected_hash_col).alias("__expected"),
        )
        joined = actual.join(expected, "__key", "left")
        # null-safe compare (<=>): sha2(NULL) is NULL, and a plain != would
        # evaluate to NULL and silently PASS a vanished payload that has a
        # recorded expected hash — a byte-identity rule must flag it
        mismatch = ~F.col("__actual").eqNullSafe(F.col("__expected"))
        if self.missing_is_violation:
            bad = joined.filter(F.col("__expected").isNull() | mismatch)
        else:
            bad = joined.filter(F.col("__expected").isNotNull() & mismatch)
        # mismatches are rare; persist them so the verdict agg and the
        # violation projection don't each re-run the full join
        bad = bad.persist()
        if persisted is not None:
            persisted.append(bad)

        counts = bad.groupBy("__part").agg(F.count(F.lit(1)).alias("violations"))
        rows = bad.select(
            F.col("__key").alias("key"),
            F.coalesce(F.col("__actual"), F.lit("NULL")).alias("observed"),
            F.coalesce(F.col("__expected"), F.lit("<no expected row>")).alias("expected"),
        )
        return failure_result(
            self.rule_id, counts, rows, "rows with hash mismatch",
            f"sha256({self.column}) == expected", violation_limit,
        )


class ExtractionInvariant(RowRule):
    """Row-local byte-identity between HTML-extracted text and the stored
    text column: ``extract_html_text(html) <=> text``.

    The derivable form of the engine's per-row invariant ("byte-identical
    extracted text per url", BASELINE.json input_hint): unlike
    ``HashInvariant`` it needs NO golden table and NO join — the whole check
    is one fused projection inside the scan stage, so at 10^12 rows it adds
    zero shuffle and folds into pass 1's single wide aggregate. Ancestor:
    the reference recomputes content hashes and compares to its lockfile
    (ref: transcription/schema/integrity.py:222-335); here the "recompute"
    is the HTML extraction itself (functions/html.py documents the
    supported-subset contract).

    Null semantics: both NULL ⇒ pass (null-safe <=>); one-sided NULL ⇒
    violation.
    """

    def __init__(
        self,
        html_col: str = "html",
        text_col: str = "text",
        from_binary: bool = True,
        rule_id: str | None = None,
    ):
        from slower_whisper_spark.functions.html import extract_html_text_sql

        self.html_col = html_col
        self.text_col = text_col
        self.from_binary = from_binary
        self.rule_id = rule_id or f"extraction_invariant({html_col})"
        src = f"decode({html_col}, 'UTF-8')" if from_binary else html_col
        self._extract_sql = extract_html_text_sql(src, "spark")

    def spec(self) -> dict[str, Any]:
        return {
            "type": "extraction_invariant",
            "html_column": self.html_col,
            "text_column": self.text_col,
            "from_binary": self.from_binary,
            "rule_id": self.rule_id,
        }

    def predicate(self) -> Column:
        return F.expr(f"({self._extract_sql}) <=> {self.text_col}")

    def observed(self) -> Column:
        return _str(F.expr(f"substring({self._extract_sql}, 1, 64)"))

    def expected(self) -> Column:
        return F.lit(f"extract_html_text({self.html_col}) == {self.text_col}")
