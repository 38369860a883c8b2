"""Streaming: the PARTIAL → FINALIZED turn lifecycle, its batch twin and
sink merge rule, and the quality-filter chain run as a stream."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_turn_lifecycle_partial_then_finalized(tmp_path, spark):
    """applyInPandasWithState PARTIAL→FINALIZED lifecycle: a turn emitted as
    PARTIAL in one micro-batch is superseded by a FINALIZED row with the
    SAME segment_id ({key}-{turn_start_ms}) once a gap (in-data) or the
    event-time timeout (watermark passing last+gap) closes it."""
    import datetime as dt
    import os
    import time

    from slower_whisper_spark.streaming.validate import turn_lifecycle

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    sec = dt.timedelta(seconds=1)
    src = str(tmp_path / "turns_src")
    os.makedirs(src, exist_ok=True)

    def write_file(name, rows):
        spark.createDataFrame(rows, "key string, ts timestamp").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(0.05)  # distinct mod-times: deterministic file order

    # batch 0: u1 turn 0 (3 events within gap) + u2 turn 0 (1 event)
    write_file("f1", [("u1", t0), ("u1", t0 + 5 * sec), ("u1", t0 + 10 * sec), ("u2", t0)])
    # batch 1: u1 event 10 min later -> IN-DATA gap finalizes u1-0, opens u1-1
    write_file("f2", [("u1", t0 + 600 * sec)])
    # batch 2: unrelated key far later -> watermark passes u2-0's timeout
    write_file("f3", [("u3", t0 + 4000 * sec)])

    stream = spark.readStream.schema("key string, ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = turn_lifecycle(stream, key_col="key", ts_col="ts", gap_seconds=30.0, watermark="1 second")
    q = (
        out.writeStream.format("memory")
        .queryName("turns_tbl")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "turns_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM turns_tbl").collect()
    by = {}
    for r in rows:
        by.setdefault((r["segment_id"], r["status"]), []).append(r)

    ms0 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)

    def sid(key, off_sec):
        return f"{key}-{ms0 + off_sec * 1000}"

    # u1 turn@t0: PARTIAL first, then FINALIZED with the same segment id
    assert (sid("u1", 0), "PARTIAL") in by and (sid("u1", 0), "FINALIZED") in by, sorted(by)
    fin = by[(sid("u1", 0), "FINALIZED")][0]
    assert fin["n_events"] == 3
    assert fin["turn_end"] - fin["turn_start"] == 10.0
    # the successor turn went PARTIAL first; the final watermark (t0+4000-1s)
    # then passed its timeout too, so it ALSO finalized — via state timeout
    assert (sid("u1", 600), "PARTIAL") in by
    # u2 turn@t0 finalized purely via event-time STATE TIMEOUT (no successor)
    assert (sid("u2", 0), "PARTIAL") in by
    assert (sid("u2", 0), "FINALIZED") in by, sorted(by)
    assert by[(sid("u2", 0), "FINALIZED")][0]["n_events"] == 1
    # u3's turn timeout (t0+4030) is beyond the final watermark: stays open
    assert (sid("u3", 4000), "PARTIAL") in by and (sid("u3", 4000), "FINALIZED") not in by


def test_turn_lifecycle_no_id_reuse_after_timeout(tmp_path, spark):
    """A key that resumes AFTER its turn finalized via state timeout must get
    a FRESH segment_id: ids derive from the turn's event-time start, so a
    later turn can never re-emit an earlier FINALIZED turn's id (the failure
    a per-key counter had after state.remove() reset it) — while the state
    entry is still removed on finalization, keeping the store O(open turns)
    rather than O(keys ever seen)."""
    import datetime as dt
    import os
    import time

    from slower_whisper_spark.streaming.validate import turn_lifecycle

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    sec = dt.timedelta(seconds=1)
    src = str(tmp_path / "seq_src")
    os.makedirs(src, exist_ok=True)

    def write_file(rows):
        spark.createDataFrame(rows, "key string, ts timestamp").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(0.05)

    # batch 0: u1 turn 0
    write_file([("u1", t0)])
    # batch 1: unrelated key advances the watermark past u1-0's timeout
    write_file([("u9", t0 + 1000 * sec)])
    # batch 2: another u9 event — u1-0's TIMEOUT fires in this batch (u1 has
    # no data here, so it takes the hasTimedOut branch, not the in-data gap)
    write_file([("u9", t0 + 1001 * sec)])
    # batch 3: u1 RESUMES after its turn was timeout-finalized
    write_file([("u1", t0 + 2000 * sec)])

    stream = spark.readStream.schema("key string, ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = turn_lifecycle(stream, key_col="key", ts_col="ts", gap_seconds=30.0, watermark="1 second")
    q = (
        out.writeStream.format("memory")
        .queryName("turns_seq_tbl")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "seq_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM turns_seq_tbl WHERE key = 'u1'").collect()
    by = {}
    for r in rows:
        by.setdefault((r["segment_id"], r["status"]), []).append(r)

    ms0 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    first_id, resumed_id = f"u1-{ms0}", f"u1-{ms0 + 2_000_000}"
    # the first turn finalized via the state timeout
    assert (first_id, "FINALIZED") in by, sorted(by)
    # the resumed turn carries a DIFFERENT id — never a second life of the
    # finalized one
    assert (resumed_id, "PARTIAL") in by, sorted(by)
    fin0 = by[(first_id, "FINALIZED")][0]
    p1 = by[(resumed_id, "PARTIAL")][0]
    assert p1["turn_start"] - fin0["turn_start"] == 2000.0
    # no post-finalization row ever reused the finalized id
    post = [r for r in rows if r["segment_id"] == first_id and r["turn_start"] != fin0["turn_start"]]
    assert post == []


def test_merge_turn_updates_restores_finalized_over_ghost(spark):
    """The documented at-least-once sink merge rule: a within-watermark
    redelivery ghost (same segment_id, n_events restarted at 1) must lose to
    the true FINALIZED row under keep-max-per-segment_id; PARTIAL loses to
    FINALIZED on equal counts."""
    from slower_whisper_spark.streaming.validate import merge_turn_updates

    rows = [
        # true row, then the ghost re-emission of the same segment
        ("u1", "u1-1000", "FINALIZED", 1.0, 9.0, 5),
        ("u1", "u1-1000", "FINALIZED", 1.0, 2.0, 1),
        # PARTIAL vs FINALIZED at the same count: FINALIZED wins
        ("u2", "u2-5000", "PARTIAL", 5.0, 6.0, 2),
        ("u2", "u2-5000", "FINALIZED", 5.0, 6.0, 2),
        # untouched singleton passes through
        ("u3", "u3-7000", "PARTIAL", 7.0, 7.5, 3),
    ]
    df = spark.createDataFrame(
        rows,
        "key string, segment_id string, status string, "
        "turn_start double, turn_end double, n_events long",
    )
    got = {r["segment_id"]: r for r in merge_turn_updates(df).collect()}
    assert len(got) == 3
    assert got["u1-1000"]["n_events"] == 5 and got["u1-1000"]["turn_end"] == 9.0
    assert got["u2-5000"]["status"] == "FINALIZED"
    assert got["u3-7000"]["n_events"] == 3


def test_turn_lifecycle_batch_twin_parity(tmp_path, spark):
    """turn_lifecycle_batch must produce exactly the FINALIZED set the
    streaming operator converges to — same event-time-derived segment ids
    (µs-precision timestamps exercise the floor(ms) id math), bounds, and
    counts. This parity is what lets the driver-checked batch row
    (q: turn_lifecycle_batch, DuckDB oracle) transitively pin the
    streaming operator."""
    import datetime as dt
    import os

    from slower_whisper_spark.streaming.validate import (
        turn_lifecycle,
        turn_lifecycle_batch,
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = []
    for k in range(4):
        base = t0 + dt.timedelta(seconds=137 * k)
        for turn in range(3):
            start = base + dt.timedelta(seconds=300 * turn)
            for e in range(turn + 1):
                rows.append(
                    (f"u{k}", start + dt.timedelta(microseconds=1_234_567 * e + 575))
                )
    src = str(tmp_path / "twin_src")
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(rows, "key string, ts timestamp").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # sentinel far-future event: advances the watermark past every real
    # turn's timeout so the stream finalizes them all before draining
    spark.createDataFrame(
        [("zz", t0 + dt.timedelta(days=30))], "key string, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("key string, ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = turn_lifecycle(
        stream, key_col="key", ts_col="ts", gap_seconds=30.0, watermark="1 second"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("twin_tbl")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "twin_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    def row_key(r):
        return (
            r["key"],
            r["segment_id"],
            round(r["turn_start"], 6),
            round(r["turn_end"], 6),
            r["n_events"],
        )

    streamed = {
        row_key(r)
        for r in spark.sql("SELECT * FROM twin_tbl").collect()
        if r["status"] == "FINALIZED" and r["key"] != "zz"
    }
    batch_df = turn_lifecycle_batch(
        spark.read.parquet(src).filter("key <> 'zz'"),
        key_col="key",
        ts_col="ts",
        gap_seconds=30.0,
    )
    batched = {row_key(r) for r in batch_df.collect()}
    assert len(batched) == 12  # 4 keys × 3 turns
    assert streamed == batched


def test_quality_filter_chain_streams(docs_small, tmp_path, spark):
    """The quality chain is stateless row algebra, so the SAME operator
    runs unmodified over readStream — the ingest-time filtering mode. The
    streamed verdicts must equal the batch verdicts on the same files."""
    from slower_whisper_spark.operators.quality import quality_filter

    docs, _, _ = docs_small
    src = str(tmp_path / "qsrc")
    batch_in = docs.where(F.col("text").isNotNull() & F.col("url").isNotNull()).select(
        "url", "text", "lang"
    )
    batch_in.write.mode("overwrite").parquet(src)

    stored = spark.read.parquet(src)
    stream = spark.readStream.schema(stored.schema).parquet(src)
    q = (
        quality_filter(stream, lang_col="lang")
        .select("url", "verdict", F.concat_ws(",", "reasons").alias("reasons"))
        .writeStream.format("memory")
        .queryName("qf_stream")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "qck"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("qf_stream").orderBy("url").toPandas()
    want = (
        quality_filter(stored, lang_col="lang")
        .select("url", "verdict", F.concat_ws(",", "reasons").alias("reasons"))
        .orderBy("url")
        .toPandas()
    )
    assert len(got) == len(want) > 0
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))
