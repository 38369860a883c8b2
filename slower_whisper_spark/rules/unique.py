"""Uniqueness check with explicit skew handling.

North-rule requirement: "uniqueness on url via salted repartition +
hash-dedup to defuse host-domain skew". The reference's ancestor is its
dedup-by-span / unique-speaker-set logic (ref: transcription/privacy.py:425-452,
transcription/models.py:716-723) — here it becomes a two-phase distributed
aggregation:

  phase 1: ``groupBy(partition_value, key)`` — Spark's hash aggregate does
           map-side partial aggregation, so a hot key (one url duplicated
           millions of times, or a mega-host's rows concentrated in a few
           input splits) is collapsed to one row per task BEFORE the
           shuffle. That partial aggregate is what defuses the skew: phase-1
           output is at most |partitions| rows per key. (A salt that is a
           function of the key, such as ``pmod(xxhash64(key), b)``, would
           leave the groups unchanged and spread nothing.)
  phase 2: the per-key total sits beside the partials as
           ``sum(__cnt_part) OVER (PARTITION BY __key)``; rows whose key
           totals more than 1 are the duplicates. This shuffles only the
           phase-1 partials (≈ distinct keys), never the raw rows.

Only the duplicate partials are persisted, and both outputs come from them:
per-partition verdict counts sum the partials, violation rows keep one
partial per key. The table is scanned once. NULL keys are exempt, as under
SQL ``UNIQUE``: they are filtered out before phase 1, so they are neither
counted nor listed.

At small scale this is provably equivalent to naive
``dropDuplicates``/``count`` (asserted in tests/test_table_rules.py).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from slower_whisper_spark.rules.base import TableRule, failure_result


class Unique(TableRule):
    # a key duplicated across two table partitions is this rule's whole
    # point: on resumed/pruned runs the suite must feed it the full table
    cross_partition = True

    def __init__(self, column: str, rule_id: str | None = None):
        self.column = column
        self.rule_id = rule_id or f"unique({column})"

    def spec(self) -> dict[str, Any]:
        return {
            "type": "unique",
            "column": self.column,
            # a constant: stored specs, suite hashes and manifests written
            # while the rule took a salt stay valid
            "salt_buckets": 0,
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
        key = F.col(self.column)

        # phase 1: per-(partition, key) partial counts (map-side combine)
        per_part = (
            df.filter(key.isNotNull())
            .groupBy(F.col(partition_col).cast("string").alias("__part"), key.alias("__key"))
            .agg(F.count(F.lit(1)).alias("__cnt_part"))
        )

        # phase 2: the global per-key total beside each partial; duplicates
        # are rare → persist them so verdicts and violations share one scan
        by_key = Window.partitionBy("__key")
        dups = (
            per_part.withColumn("__cnt", F.sum("__cnt_part").over(by_key))
            .filter(F.col("__cnt") > 1)
            .withColumn("__nth", F.row_number().over(by_key.orderBy("__part")))
            .persist()
        )
        if persisted is not None:
            persisted.append(dups)

        counts = dups.groupBy("__part").agg(F.sum("__cnt_part").alias("violations"))
        # one violation row per key, whatever the partitions it spans
        rows = dups.filter(F.col("__nth") == 1).select(
            F.col("__key").cast("string").alias("key"),
            F.concat(F.lit("count="), F.col("__cnt").cast("string")).alias("observed"),
            F.lit("count=1").alias("expected"),
        )
        return failure_result(
            self.rule_id, counts, rows, "rows with duplicated key",
            f"{self.column} unique", violation_limit,
        )
