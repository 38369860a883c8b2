"""PII redaction (V10), chunk packing (W2), interval overlap (J4)."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from slower_whisper_spark.functions.text import redact_pii
from slower_whisper_spark.operators.sessionize import interval_overlap_pairs, pack_chunks

SF = "/root/testdata/sf0.001"


def test_pii_redaction(spark):
    df = spark.createDataFrame(
        [("mail me at bob@example.com or call +1 (555) 123-4567, ssn 123-45-6789 ip 10.0.0.1",)],
        "t string",
    )
    red = df.select(redact_pii("t").alias("r")).first()["r"]
    assert "[EMAIL]" in red and "[PHONE]" in red and "[SSN]" in red and "[IPV4]" in red
    assert "bob@example.com" not in red and "123-45-6789" not in red


def test_pack_chunks_budget(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = pack_chunks(ev, key_col="user_id", order_col="event_id", weight_col="value", budget=500.0)
    pdf = (
        out.groupBy("user_id", "chunk_id")
        .agg(F.sum("value").alias("v"), F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    # chunk ids are contiguous from 0 per user
    for uid, grp in pdf.groupby("user_id"):
        ids = sorted(grp["chunk_id"])
        assert ids[0] == 0 and ids == list(range(len(ids)))
    # a chunk only exceeds budget by at most one item's weight
    maxv = ev.agg(F.max("value")).first()[0]
    assert (pdf["v"] <= 500.0 + maxv + 1e-9).all()


def test_interval_overlap_matches_duckdb(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").filter(F.col("event_id") < 300)
    iv = ev.select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp_ltz").cast("double").alias("s"),
        (F.col("ts").cast("timestamp_ltz").cast("double") + F.col("value")).alias("e"),
    )
    got = (
        interval_overlap_pairs(iv, key_col="user_id", id_col="event_id", start_col="s", end_col="e")
        .count()
    )
    con = duckdb.connect()
    oracle = con.sql(
        f"""
        WITH iv AS (
          SELECT user_id, event_id, epoch(ts) AS s, epoch(ts) + value AS e
          FROM (SELECT * FROM '{SF}/events.parquet' WHERE event_id < 300))
        SELECT count(*) FROM iv a JOIN iv b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
         AND a.s < b.e AND b.s < a.e
        """
    ).fetchone()[0]
    assert got == oracle
