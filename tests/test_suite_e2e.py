"""Slice 0: suite end-to-end on the synthetic webtext table.

Golden-style asserts on exact violation counts implied by the deterministic
corruption plan (ref test model: golden fixtures
tests/fixtures/semantic_golden/*.json asserted exact-match, SURVEY.md §5.3).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from slower_whisper_spark import (
    Conditional,
    ConstraintSuite,
    Enum,
    Expr,
    Length,
    NotNull,
    Pattern,
    Range,
)
from slower_whisper_spark.suite import MAX_TOP_K_SLOTS

LANG_RE = r"^[a-z]{2}(-[A-Z]{2})?$"
WINDOW_LO = datetime.datetime(2026, 7, 1)
WINDOW_HI = datetime.datetime(2026, 7, 31)


def _std_suite():
    return ConstraintSuite(
        "webtext-std",
        [
            NotNull("url"),
            NotNull("lang", rule_id="not_null(lang)"),
            Pattern("lang", LANG_RE),
            Range("warc_ts", min=WINDOW_LO, max=WINDOW_HI),
            Length("text", min=1),
            Expr("length(html) >= 16", rule_id="html_min_bytes", expected="html >= 16 bytes"),
        ],
    )


def test_suite_hash_stable_and_order_insensitive_fields():
    s1 = _std_suite()
    s2 = _std_suite()
    assert s1.suite_hash == s2.suite_hash
    assert len(s1.suite_hash) == 64
    # changing any rule parameter changes the hash
    s3 = ConstraintSuite("webtext-std", [NotNull("url")])
    assert s3.suite_hash != s1.suite_hash


def test_validate_counts_match_manual_counts(docs_small):
    docs, _, _ = docs_small
    suite = _std_suite()
    res = suite.validate(docs, key_col="url", partition_col="warc_day", violation_limit=1000)

    verd = res.verdicts.toPandas()
    assert set(verd.columns) == {"partition", "rule_id", "passed", "rows", "violations", "observed", "expected"}

    # totals per rule vs direct DataFrame counts
    totals = verd.groupby("rule_id")["violations"].sum().to_dict()
    n_null_lang = docs.filter(F.col("lang").isNull()).count()
    n_bad_lang = docs.filter(
        F.col("lang").isNull() | ~F.col("lang").rlike(LANG_RE)
    ).count()
    n_oow = docs.filter(
        F.col("warc_ts").isNull()
        | (F.col("warc_ts") < F.lit(WINDOW_LO))
        | (F.col("warc_ts") > F.lit(WINDOW_HI))
    ).count()
    assert totals["not_null(url)"] == 0
    assert totals["not_null(lang)"] == n_null_lang > 0
    assert totals["pattern(lang)"] == n_bad_lang > n_null_lang
    assert totals["range(warc_ts)"] == n_oow > 0
    assert totals["length(text)"] == 0

    # rows roll up to the table size
    assert verd[verd.rule_id == "not_null(url)"]["rows"].sum() == docs.count()


def test_violation_rows_shape_and_content(docs_small):
    docs, _, _ = docs_small
    suite = _std_suite()
    res = suite.validate(docs, key_col="url", partition_col="warc_day", violation_limit=10_000)
    viol = res.violations.toPandas()
    assert list(viol.columns) == ["key", "rule_id", "observed", "expected"]

    bad_lang = viol[viol.rule_id == "pattern(lang)"]
    assert len(bad_lang) > 0
    # every reported key really does violate
    bad_keys = set(bad_lang["key"])
    actual_bad = {
        r["url"]
        for r in docs.filter(F.col("lang").isNull() | ~F.col("lang").rlike(LANG_RE))
        .select("url")
        .collect()
    }
    assert bad_keys <= actual_bad
    # NULL lang rows report observed NULL
    nulls = viol[(viol.rule_id == "not_null(lang)")]
    assert (nulls["observed"] == "NULL").all()


def test_violation_limit_per_rule(docs_small):
    docs, _, _ = docs_small
    suite = _std_suite()
    res = suite.validate(docs, key_col="url", partition_col="warc_day", violation_limit=5)
    counts = res.violations.groupBy("rule_id").count().toPandas()
    assert (counts["count"] <= 5).all()


@pytest.mark.parametrize("shuffle_partitions", [8, 64])
@pytest.mark.parametrize("partition_col", ["part", None])
def test_violation_limit_ties_keep_smallest_rows(spark, shuffle_partitions, partition_col):
    """Rows whose keys tie at the limit boundary are kept in (key, observed,
    expected) order, wherever the table partitions and tasks split them."""
    rows = [("a", "x1", 0), ("b", "x2", 1), ("c", "z", 0), ("c", "m", 1), ("c", "b", 2), ("c", "y", 3)]
    rows += [(f"k{i}", "ok", i % 4) for i in range(40)]
    df = spark.createDataFrame(rows, "key string, val string, part int").repartition(4)
    rule = Conditional("true", "val = 'ok'", rule_id="ok", observed_expr="val")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        res = ConstraintSuite("ties", [rule]).validate(
            df, key_col="key", partition_col=partition_col, violation_limit=3
        )
        got = sorted((r["key"], r["observed"]) for r in res.violations.collect())
        n_failed = res.verdicts.agg(F.sum("violations")).first()[0]
        res.unpersist()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert n_failed == 6
    assert got == [("a", "x1"), ("b", "x2"), ("c", "b")]


@pytest.mark.parametrize("n_rules,limit", [(1, 0), (1, 100_001), (1, 10**9), (2, 50_001)])
def test_violation_limit_is_bounded(spark, n_rules, limit):
    """Pass 1 allocates violation_limit slots per (table partition, counted
    rule) buffer up front, so validate() refuses a limit whose slots, the
    limit times the counted rules, pass its bound."""
    df = spark.createDataFrame([("a", None)], "url string, lang string")
    suite = ConstraintSuite("bound", [NotNull("lang"), NotNull("url")][:n_rules])
    with pytest.raises(ValueError, match="violation_limit"):
        suite.validate(df, violation_limit=limit)
    suite.validate(df, violation_limit=MAX_TOP_K_SLOTS // n_rules).unpersist()


def test_row_violations_has_no_limit(spark):
    """row_violations returns every violation row, past the top-k bound too,
    and validate() keeps the first violation_limit of them per rule."""
    n = 2 * MAX_TOP_K_SLOTS + 2
    df = spark.range(n).select(
        F.format_string("k%07d", "id").alias("url"),
        F.when(F.col("id") % 2 == 0, F.lit(None)).otherwise(F.lit("en")).alias("lang"),
        (F.col("id") % 3).alias("part"),
    )
    suite = ConstraintSuite("all", [NotNull("lang"), Expr("part < 2", rule_id="part")])
    rows = suite.row_violations(df, key_col="url")
    counts = {r["rule_id"]: r["count"] for r in rows.groupBy("rule_id").count().collect()}
    assert counts == {"not_null(lang)": MAX_TOP_K_SLOTS + 1, "part": n // 3}
    res = suite.validate(df, key_col="url", partition_col="part", violation_limit=7)
    kept = sorted(tuple(r) for r in res.violations.collect())
    res.unpersist()
    first = (
        rows.withColumn("rn", F.row_number().over(Window.partitionBy("rule_id").orderBy("key", "observed", "expected")))
        .filter("rn <= 7")
        .drop("rn")
    )
    assert kept == sorted(tuple(r) for r in first.collect())
    assert ConstraintSuite("none", []).row_violations(df, key_col="url").count() == 0


def test_partition_status_vocabulary(docs_small):
    docs, _, _ = docs_small
    suite = _std_suite()
    res = suite.validate(docs, key_col="url", partition_col="warc_day")
    st = res.partition_status().toPandas()
    assert set(st["status"]) <= {"success", "partial"}
    assert (st["rows"] > 0).all()
    assert not res.overall_passed()


def test_clean_table_passes(spark):
    df = spark.createDataFrame(
        [("https://a/1", "en"), ("https://a/2", "fr")], "url string, lang string"
    )
    suite = ConstraintSuite("mini", [NotNull("url"), Pattern("lang", LANG_RE)])
    res = suite.validate(df, key_col="url")
    assert res.overall_passed()
    assert res.violations.count() == 0
    st = res.partition_status().toPandas()
    assert list(st["status"]) == ["success"]


def test_unpartitioned_validation(docs_small):
    docs, _, _ = docs_small
    suite = ConstraintSuite("mini", [Pattern("lang", LANG_RE)])
    res = suite.validate(docs, key_col="url")  # no partition col → "ALL"
    verd = res.verdicts.toPandas()
    assert list(verd["partition"].unique()) == ["ALL"]


def test_conditional_rule(spark):
    df = spark.createDataFrame(
        [("a", "purchase", 5.0), ("b", "purchase", -1.0), ("c", "view", -9.0)],
        "id string, etype string, value double",
    )
    suite = ConstraintSuite(
        "cond", [Conditional("etype = 'purchase'", "value > 0", rule_id="purchase_positive")]
    )
    res = suite.validate(df, key_col="id")
    viol = res.violations.toPandas()
    assert list(viol["key"]) == ["b"]  # 'c' passes vacuously


def test_vectorized_rule_batch_escape_hatch(spark):
    """Arrow-batch plugin rule: validation result + impl-fingerprint
    identity (editing the function invalidates the suite hash)."""
    from slower_whisper_spark import ConstraintSuite, Vectorized

    df = spark.createDataFrame(
        [("1", "one two three four five"), ("2", "too short"), ("3", None)],
        "id string, text string",
    )

    def min5(s):
        return (s.str.split().str.len() >= 5).fillna(False)

    res = ConstraintSuite("v", [Vectorized("text", min5, rule_id="m5")]).validate(
        df, key_col="id", violation_limit=10
    )
    viol = {r["key"] for r in res.violations.collect()}
    assert viol == {"2", "3"}

    def min5_variant(s):
        return (s.str.split().str.len() >= 4).fillna(False)

    h1 = ConstraintSuite("v", [Vectorized("text", min5, rule_id="m5")]).suite_hash
    h2 = ConstraintSuite("v", [Vectorized("text", min5_variant, rule_id="m5")]).suite_hash
    assert h1 != h2

    # allow_null: a null RESULT from the batch fn falls back to allow_null
    def nully(s):
        import pandas as pd
        return pd.Series([None] * len(s), index=s.index, dtype=object)

    res2 = ConstraintSuite("v", [Vectorized("text", nully, rule_id="n", allow_null=True)]).validate(
        df, key_col="id"
    )
    assert res2.verdicts.collect()[0]["violations"] == 0


def test_overlapped_materialize_matches_sequential(docs_small):
    """The scaling-path form — materialize(parallel=True) running
    verdicts/violations/stats as concurrent jobs — must produce exactly the
    rows of the sequential form (same verdicts, same violation set, same
    stats). ``pass2_prune=False`` is still accepted and changes nothing."""
    docs, _, _ = docs_small
    suite = _std_suite()

    seq = suite.validate(
        docs, key_col="url", partition_col="warc_day", violation_limit=1000,
        stats_columns=["url", "lang"],
    )
    seq_out = seq.materialize(parallel=False)

    def vset(rows):
        return {tuple(r) for r in rows}

    par = suite.validate(
        docs, key_col="url", partition_col="warc_day", violation_limit=1000,
        stats_columns=["url", "lang"], pass2_prune=False,
    )
    par_out = par.materialize(parallel=True)

    assert vset(par_out["verdicts"]) == vset(seq_out["verdicts"])
    assert par_out["n_violations"] == seq_out["n_violations"] > 0
    assert vset(par_out["stats"]) == vset(seq_out["stats"])
    # violation ROW sets equal too (limit high enough to be inert here)
    assert vset(par.violations.collect()) == vset(seq.violations.collect())
    par.unpersist()
    seq.unpersist()


def test_rule_ids_with_backslash_and_backtick(spark):
    """Rule ids are user text: a backslash or backtick in one must reach the
    verdict and violation rows unchanged, not be read as a SQL escape or
    end the quoted column name."""
    df = spark.createDataFrame([("a", None), ("b", "x")], "url string, text string")
    ids = ["nn\\text", "nn`text"]
    res = ConstraintSuite("ids", [NotNull("text", rule_id=i) for i in ids]).validate(df, key_col="url")
    verd = {r["rule_id"]: r["violations"] for r in res.verdicts.collect()}
    assert verd == {i: 1 for i in ids}
    assert sorted(r["rule_id"] for r in res.violations.collect()) == sorted(ids)
