"""Streaming turn lifecycle and its batch twin.

The engine is batch-first (the north rule is a batch suite over a table).
Its streaming operator is the PARTIAL -> FINALIZED turn lifecycle (SURVEY
§2.9): ``turn_lifecycle`` runs it on a stream with Spark's state store,
``turn_lifecycle_batch`` computes the rows it converges to as a plain query
(the ``turn_lifecycle`` query in ``__spark_entry__.py`` checks it against
DuckDB), and ``merge_turn_updates`` is the sink-side merge rule for its
output.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def turn_lifecycle(
    stream_df: DataFrame,
    *,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    gap_seconds: float = 30.0,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Explicit-state PARTIAL → FINALIZED turn lifecycle via
    ``applyInPandasWithState`` — the full streaming twin of the reference's
    segment event contract (ref: transcription/schemas/stream_event.schema.json:308-393:
    a PARTIAL carries an unstable segment that a later FINALIZED row with
    the same id supersedes).

    Per key, events within ``gap_seconds`` of each other belong to one turn
    whose id is ``{key}-{turn_start_ms}`` — derived from the turn's EVENT
    TIME, not a per-key counter:

      * every micro-batch that leaves a turn open emits a PARTIAL row for it
        (update output mode — downstream sinks overwrite by segment_id);
      * a gap observed INSIDE the arriving data finalizes the earlier turn
        immediately (no timeout round-trip);
      * a turn with no successor event finalizes via event-time state
        timeout once the watermark passes ``last_event + gap`` — Spark's
        state store handles recovery, so a crash between PARTIAL and
        FINALIZED replays correctly from the checkpoint.

    Event-time-derived ids make finalization STATELESS-after-the-fact: the
    state entry is removed on finalization, so the store stays O(open
    turns) — NOT O(keys ever seen), which a per-key counter would require
    retaining forever to keep ids unique (on a near-unique key like url
    that is unbounded growth in every checkpoint). Ids still never collide:
    successive turns of a key start > gap_seconds apart by construction,
    and a replayed duplicate of a finalized turn's first event maps to the
    SAME id — the idempotent outcome an overwrite-by-id sink wants.

    Late-data handling: events older than the current watermark are dropped
    inside the function (Spark does not pre-filter stateful-op input) — so a
    redelivered duplicate of an already-finalized turn's event is discarded
    once the watermark has passed it, instead of re-opening the turn and
    overwriting the correct FINALIZED row with a 1-event ghost. Duplicates
    arriving WITHIN the watermark window can still re-open a closed turn
    (they are indistinguishable from genuinely new data) and later re-emit
    its segment_id with ``n_events`` restarted at 1. The output CONTRACT
    covers this: a redelivery ghost replays a subset of the turn's events,
    so its n_events is ≤ the true row's — sinks must merge with "keep
    max(n_events) per segment_id, FINALIZED over PARTIAL on ties"
    (``merge_turn_updates`` implements exactly that for batch sinks /
    foreachBatch); upstream dedup remains the clean fix.

    State-schema note: builds before 2026-08-17 stored a 4-field tuple
    (seq, start, last, n); this build stores (start, last, n). A stream
    restarted from an old checkpoint fails Spark's state-schema check —
    drain the stream (stop sources, let timeouts finalize) or start a fresh
    checkpoint when upgrading.

    State is one fixed-width tuple per open turn (start, last, n); the
    pandas function sees Arrow batches (no per-row Python dispatch at the
    JVM boundary)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "key string, segment_id string, status string, "
        "turn_start double, turn_end double, n_events long"
    )
    state_schema = "start double, last double, n long"
    gap = float(gap_seconds)

    def fn(key, pdfs, state):
        k = key[0]

        def seg_id(start):
            # FLOOR of the ms value (not round): floor is the one operation
            # Python, Spark SQL (unix_micros DIV 1000) and DuckDB
            # (epoch_us // 1000) compute identically — the batch twin and
            # its oracle must derive bit-equal ids from the same timestamps
            return f"{k}-{int(math.floor(start * 1000))}"

        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "key": k,
                        "segment_id": seg_id(start),
                        "status": "FINALIZED",
                        "turn_start": start,
                        "turn_end": last,
                        "n_events": n,
                    }
                ]
            )
            return
        start, last, n = state.get if state.exists else (None, None, 0)
        # manual late-data filter (stateful ops receive unfiltered input):
        # a replayed event the watermark has passed must not re-open its
        # (already finalized) turn
        wm = state.getCurrentWatermarkMs() / 1000.0
        ts = []
        for pdf in pdfs:
            col = pdf[ts_col]
            if str(col.dtype).startswith("datetime"):
                col = col.astype("int64") / 1e9
            ts.extend(float(t) for t in col if float(t) >= wm)
        ts.sort()
        rows = []
        for t in ts:
            if start is None:
                start, last, n = t, t, 1
            elif t - last > gap:
                rows.append(
                    {
                        "key": k,
                        "segment_id": seg_id(start),
                        "status": "FINALIZED",
                        "turn_start": start,
                        "turn_end": last,
                        "n_events": n,
                    }
                )
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        if start is not None:
            rows.append(
                {
                    "key": k,
                    "segment_id": seg_id(start),
                    "status": "PARTIAL",
                    "turn_start": start,
                    "turn_end": last,
                    "n_events": n,
                }
            )
            state.update((float(start), float(last), int(n)))
            state.setTimeoutTimestamp(int((last + gap) * 1000))
        yield pd.DataFrame(rows)

    return (
        stream_df.select(F.col(key_col).alias("key"), F.col(ts_col))
        .withWatermark(ts_col, watermark)
        .groupBy("key")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "update", GroupStateTimeout.EventTimeTimeout
        )
    )


def turn_lifecycle_batch(
    df: DataFrame,
    *,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    gap_seconds: float = 30.0,
) -> DataFrame:
    """Batch twin of ``turn_lifecycle``: the FINALIZED rows the streaming
    operator converges to once every watermark passes, computed as a plain
    gaps-and-islands query (lag → gap flag → cumulative turn index → one
    agg). Output schema and ids match the streaming op exactly —
    ``{key}-{floor(turn_start_ms)}`` via ``unix_micros DIV 1000`` (integer
    math; the streaming fn floors the same value) — so (a) the driver can
    oracle-check this twin against DuckDB, and (b) the pytest parity
    assertion (streaming availableNow == batch twin on the same input)
    transitively pins the streaming operator to that driver row. On a
    replay/backfill this IS the recommended implementation: one shuffle per
    key, no state store."""
    turns = (
        # NTZ parquet timestamps cast via the (UTC) session zone so
        # unix_micros resolves; a real TIMESTAMP column passes through
        df.select(
            F.col(key_col).alias("key"),
            F.col(ts_col).cast("timestamp").alias("__ts"),
        )
        .withColumn("__prev", F.lag(F.col("__ts").cast("double")).over(
            Window.partitionBy("key").orderBy(F.col("__ts").cast("double"))
        ))
        .withColumn(
            "__new_turn",
            F.when(
                F.col("__prev").isNull()
                | (F.col("__ts").cast("double") - F.col("__prev") > F.lit(float(gap_seconds))),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "__turn",
            F.sum("__new_turn").over(
                Window.partitionBy("key")
                .orderBy(F.col("__ts").cast("double"))
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        turns.groupBy("key", "__turn")
        .agg(
            F.min("__ts").alias("__start_ts"),
            F.max(F.col("__ts").cast("double")).alias("turn_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "key",
            F.concat_ws(
                "-", "key", F.expr("CAST(unix_micros(__start_ts) DIV 1000 AS STRING)")
            ).alias("segment_id"),
            F.lit("FINALIZED").alias("status"),
            F.col("__start_ts").cast("double").alias("turn_start"),
            "turn_end",
            "n_events",
        )
    )


def merge_turn_updates(df: DataFrame) -> DataFrame:
    """The recommended sink-side merge rule for ``turn_lifecycle`` output
    under at-least-once delivery: keep, per segment_id, the row with the
    highest ``n_events`` (FINALIZED over PARTIAL, then latest ``turn_end``,
    on ties). A within-watermark redelivery ghost re-emits an already-
    finalized segment_id with n_events restarted at 1 — and since a ghost
    replays a SUBSET of the turn's events, its count can never exceed the
    true row's, so max-merge always restores the correct FINALIZED row.
    Apply inside ``foreachBatch`` against the accumulated sink table (or
    over the raw append log at read time)."""
    w = Window.partitionBy("segment_id").orderBy(
        F.desc("n_events"),
        F.asc("status"),  # 'FINALIZED' < 'PARTIAL' lexically → wins ties
        F.desc("turn_end"),
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
