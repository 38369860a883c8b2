"""Crawl-snapshot delta (operators/delta.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from slower_whisper_spark.operators.delta import snapshot_delta


def test_verdicts(spark):
    old = spark.createDataFrame(
        [("u1", "same"), ("u2", "before"), ("u3", "gone"), ("u4", None)],
        "url string, text string",
    )
    new = spark.createDataFrame(
        [("u1", "same"), ("u2", "after"), ("u5", "brand new"), ("u4", None)],
        "url string, text string",
    )
    got = {r.url: r.verdict for r in snapshot_delta(old, new).collect()}
    assert got == {
        "u1": "unchanged", "u2": "changed", "u3": "removed",
        "u5": "added", "u4": "unchanged",  # NULL->NULL body: null-safe unchanged
    }


def test_precomputed_fingerprint_and_null_transition(spark):
    old = spark.createDataFrame(
        [("u1", "aa"), ("u2", None)], "url string, fp string"
    )
    new = spark.createDataFrame(
        [("u1", None), ("u2", "bb")], "url string, fp string"
    )
    got = {
        r.url: r.verdict
        for r in snapshot_delta(old, new, fingerprint_col="fp").collect()
    }
    # body appearing or disappearing IS a change under null-safe compare
    assert got == {"u1": "changed", "u2": "changed"}


def test_corpus_scale_roundtrip(spark, docs_small):
    docs, _, _ = docs_small
    src = (
        docs.where(F.col("url").isNotNull() & F.col("text").isNotNull())
        .select("url", "text")
        .dropDuplicates(["url"])  # datagen plants dup-url corruptions
    )
    mutated = src.withColumn(
        "text",
        F.when(F.crc32("url") % 10 == 0, F.concat("text", F.lit(" edit"))).otherwise(
            F.col("text")
        ),
    )
    d = snapshot_delta(src, mutated)
    st = {r.verdict: r["count"] for r in d.groupBy("verdict").count().collect()}
    assert st.get("added", 0) == 0 and st.get("removed", 0) == 0
    assert st["changed"] == src.where(F.crc32("url") % 10 == 0).count()
    assert st["changed"] + st["unchanged"] == src.count()
