"""Nested-array validation (Nested rule + explode-child helpers) and the
TypeCheck (P2) try_cast rule.

Reference contracts mirrored: every segments[] element has end >= start and
a non-negative id (ref: transcription/schemas/transcript-v2.schema.json:
232-238,403-431; transcription/models.py:524-579), JSON-Schema type atoms
(ref: transcription/receipt.py:305-344).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from slower_whisper_spark import ConstraintSuite, Nested, TypeCheck
from slower_whisper_spark.migrate import suite_from_spec
from slower_whisper_spark.operators import explode_child


@pytest.fixture(scope="module")
def nested_df(spark):
    rows = [
        ("d1", [(0, 0.0, 1.0), (1, 1.0, 2.5)]),          # clean
        ("d2", [(0, 0.0, 1.0), (1, 2.0, 1.5)]),          # end < start at pos 1
        ("d3", [(-1, 0.0, 1.0)]),                        # negative id
        ("d4", []),                                       # empty (min_size)
        ("d5", None),                                     # null array
    ]
    return spark.createDataFrame(
        rows, "doc_id string, segments array<struct<id:long,start:double,end:double>>"
    )


PRED = "x.end >= x.start AND x.id >= 0"


def test_nested_rule_verdicts(nested_df):
    suite = ConstraintSuite("n", [Nested("segments", PRED, min_size=1, rule_id="segs")])
    res = suite.validate(nested_df, key_col="doc_id", violation_limit=100)
    verd = res.verdicts.collect()[0]
    assert verd["rows"] == 5 and verd["violations"] == 4  # d2,d3,d4,d5

    viol = {r["key"]: r["observed"] for r in res.violations.collect()}
    assert set(viol) == {"d2", "d3", "d4", "d5"}
    assert viol["d2"].startswith("element[1]=") and '"id":1' in viol["d2"]
    assert viol["d4"] == "size=0"
    assert viol["d5"] == "NULL"


def test_nested_allow_null_and_sizes(nested_df):
    suite = ConstraintSuite(
        "n", [Nested("segments", PRED, allow_null=True, rule_id="segs")]
    )
    res = suite.validate(nested_df, key_col="doc_id")
    verd = res.verdicts.collect()[0]
    # d5 (null) passes; d4 (empty) passes forall vacuously with no min_size
    assert verd["violations"] == 2  # d2, d3


def test_nested_spec_roundtrip(nested_df):
    s1 = ConstraintSuite("n", [Nested("segments", PRED, min_size=1, rule_id="segs")])
    s2 = suite_from_spec(s1.spec())
    assert s1.suite_hash == s2.suite_hash
    r1 = s1.validate(nested_df, key_col="doc_id").verdicts.collect()
    r2 = s2.validate(nested_df, key_col="doc_id").verdicts.collect()
    assert r1 == r2


def test_nested_rule_folds_into_single_scan(nested_df):
    """The forall() contract must live inside the pass-1 aggregate — no
    Generate/Explode node in the verdict plan."""
    suite = ConstraintSuite("n", [Nested("segments", PRED, rule_id="segs")])
    res = suite.validate(nested_df, key_col="doc_id")
    plan = res.verdicts._jdf.queryExecution().optimizedPlan().toString()
    assert "forall" in plan
    # no explode of the source table in the counting pass (the only Generate
    # is the stack() unpivot of the 1-row-per-partition wide aggregate)
    assert "Generate explode" not in plan and "Generate posexplode" not in plan


def test_explode_child_flattens_structs(nested_df):
    child = explode_child(nested_df, key_col="doc_id", array_col="segments")
    assert set(child.columns) == {"key", "pos", "id", "start", "end"}
    rows = child.filter(F.col("key") == "d1").orderBy("pos").collect()
    assert [r["id"] for r in rows] == [0, 1]
    # d4/d5 disappear (inner explode); outer keeps them
    keys = {r["key"] for r in child.select("key").distinct().collect()}
    assert keys == {"d1", "d2", "d3"}
    outer = explode_child(nested_df, key_col="doc_id", array_col="segments", outer=True)
    okeys = {r["key"] for r in outer.select("key").distinct().collect()}
    assert okeys == {"d1", "d2", "d3", "d4", "d5"}


def test_child_suite_verdicts_rejoin(nested_df):
    """Element-grain suite over the exploded child, verdicts per parent."""
    from slower_whisper_spark import Expr

    inner = ConstraintSuite(
        "c", [Expr("end >= start AND id >= 0", rule_id="elem_ok")]
    )
    child = explode_child(nested_df, key_col="doc_id", array_col="segments").withColumn(
        "__ckey", F.concat(F.col("key"), F.lit("["), F.col("pos").cast("string"), F.lit("]"))
    )
    res = inner.validate(child, key_col="__ckey", partition_col="key")
    verd, viol = res.verdicts, res.violations
    by_parent = {r["partition"]: r for r in verd.collect()}
    assert by_parent["d1"]["violations"] == 0
    assert by_parent["d2"]["violations"] == 1
    assert by_parent["d3"]["violations"] == 1
    vkeys = {r["key"] for r in viol.collect()}
    assert vkeys == {"d2[1]", "d3[0]"}


# --------------------------------------------------------------------- #
# TypeCheck (P2)
# --------------------------------------------------------------------- #
def test_typecheck_try_cast_residual(spark):
    df = spark.createDataFrame(
        [("1", "3.5"), ("2", "oops"), ("3", None), ("4", "1e3")],
        "id string, v string",
    )
    res = ConstraintSuite("t", [TypeCheck("v", "double", rule_id="t")]).validate(
        df, key_col="id", violation_limit=100
    )
    viol = {r["key"]: r["observed"] for r in res.violations.collect()}
    assert set(viol) == {"2", "3"}
    assert viol["2"] == "oops" and viol["3"] == "NULL"

    # allow_null: NULL passes, garbage still fails
    res2 = ConstraintSuite(
        "t", [TypeCheck("v", "double", rule_id="t", allow_null=True)]
    ).validate(df, key_col="id")
    assert res2.verdicts.collect()[0]["violations"] == 1


def test_typecheck_spec_roundtrip():
    s1 = ConstraintSuite("t", [TypeCheck("v", "bigint", rule_id="t", allow_null=True)])
    s2 = suite_from_spec(s1.spec())
    assert s1.suite_hash == s2.suite_hash


def test_typecheck_timestamp_and_int(spark):
    df = spark.createDataFrame(
        [("1", "2026-07-01 10:00:00", "42"), ("2", "not-a-time", "4.5")],
        "id string, ts string, n string",
    )
    suite = ConstraintSuite(
        "t",
        [
            TypeCheck("ts", "timestamp", rule_id="ts_type"),
            TypeCheck("n", "bigint", rule_id="n_type"),
        ],
    )
    res = suite.validate(df, key_col="id", violation_limit=10)
    viol = {(r["rule_id"], r["key"]) for r in res.violations.collect()}
    assert ("ts_type", "2") in viol
    assert ("n_type", "2") in viol  # '4.5' is not a bigint
    assert ("n_type", "1") not in viol
