"""Ordered/windowed operators: sessionization, adjacent-pair analytics,
monotonicity checks, as-of joins.

Reference semantics re-expressed as window functions (SURVEY §2.5):
  * turn building — group contiguous same-key events, splitting on key
    change OR gap ≥ threshold (ref: transcription/turns.py:46-148)
  * adjacent-pair analytics — lag() transitions, interruptions, response
    latency (ref: transcription/conversation_physics.py:104-172)
  * monotonic-id gap detection (ref: transcription/ids.py:263-317 and the
    stream replay buffer's RESUME_GAP, streaming_ws.py:751-767)

Pattern: ``lag`` flags a session start → running ``sum`` of flags is the
session id → ``groupBy(session)`` aggregates. One shuffle on the partition
key; everything else is within-partition ordered evaluation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _ts_sec(c: Column) -> Column:
    """Epoch seconds as double; works for TIMESTAMP and TIMESTAMP_NTZ (Spark
    4 forbids a direct NTZ→double cast). Session TZ is UTC, so NTZ wall time
    == UTC epoch, matching DuckDB's epoch()."""
    return c.cast("timestamp_ltz").cast("double")


def sessionize(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    gap_seconds: float,
) -> DataFrame:
    """Adds ``session_id`` (per-key 1-based) — new session when the gap from
    the previous event ≥ gap_seconds (the reference's pause-threshold
    split)."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    gap = _ts_sec(F.col(ts_col)) - _ts_sec(prev_ts)
    is_new = F.when(prev_ts.isNull(), F.lit(1)).otherwise(
        F.when(gap >= F.lit(gap_seconds), F.lit(1)).otherwise(F.lit(0))
    )
    running = Window.partitionBy(key_col).orderBy(ts_col).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("session_id", F.sum(is_new).over(running))


def adjacent_pairs(df: DataFrame, *, key_col: str, ts_col: str, value_cols: list[str]) -> DataFrame:
    """Adds prev_<col> + gap_sec columns via lag over (key, ts) — the
    response-latency / interruption primitive."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    out = df
    for c in value_cols:
        out = out.withColumn(f"prev_{c}", F.lag(F.col(c)).over(w))
    out = out.withColumn(
        "gap_sec", _ts_sec(F.col(ts_col)) - _ts_sec(F.lag(F.col(ts_col)).over(w))
    )
    return out


def monotonic_gaps(df: DataFrame, *, key_col: str, id_col: str) -> DataFrame:
    """Detect gaps in a per-key monotonically-increasing id (event_id
    semantics: gaps = dropped events). Returns (key, after_id, before_id,
    missing) rows."""
    w = Window.partitionBy(key_col).orderBy(id_col)
    with_prev = df.select(
        F.col(key_col).alias("key"), F.col(id_col).alias("id"), F.lag(F.col(id_col)).over(w).alias("prev_id")
    )
    return with_prev.filter(
        F.col("prev_id").isNotNull() & (F.col("id") - F.col("prev_id") > 1)
    ).select(
        "key",
        F.col("prev_id").alias("after_id"),
        F.col("id").alias("before_id"),
        (F.col("id") - F.col("prev_id") - 1).alias("missing"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key_col: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    right_ts <= left_ts per key (a backward as-of join).

    Implemented as the union-tag-window pattern (one shuffle on key, no
    range self-join): tag sides, sort by (key, ts, side), carry the last
    seen right value forward with last_value(ignorenulls). This is the
    idiomatic distributed as-of — equivalent to DuckDB/pandas ASOF joins
    (asserted in tests against duckdb's ASOF JOIN).
    """
    lcols = left.columns
    tagged_l = left.select(
        F.col(key_col).alias("__k"),
        F.col(left_ts).cast("timestamp_ltz").alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in lcols]).alias("__lrow"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{right.schema[c].dataType.simpleString()}" for c in right_cols) + ">"
        ).alias("__rrow"),
    )
    tagged_r = right.select(
        F.col(key_col).alias("__k"),
        F.col(right_ts).cast("timestamp_ltz").alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{left.schema[c].dataType.simpleString()}" for c in lcols) + ">"
        ).alias("__lrow"),
        F.struct(*[F.col(c) for c in right_cols]).alias("__rrow"),
    )
    unioned = tagged_l.unionByName(tagged_r)

    # right rows sort before left rows at equal ts → right@t matches left@t
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = unioned.withColumn("__match", F.last("__rrow", ignorenulls=True).over(w))
    out = matched.filter(F.col("__side") == 1).select(
        *[F.col("__lrow")[c].alias(c) for c in lcols],
        *[F.col("__match")[c].alias(f"asof_{c}") for c in right_cols],
    )
    return out


def pack_chunks(
    df: DataFrame,
    *,
    key_col: str,
    order_col: str,
    weight_col: str,
    budget: float,
) -> DataFrame:
    """Token-budget chunk packing (ref: transcription/chunking.py:217-366 —
    pack ordered units into chunks under a token estimate).

    Distributed formulation: running sum of weights over the ordered window
    → chunk_id = floor((cumsum - weight) / budget), i.e. a unit starts a new
    chunk when the budget boundary falls before it. One shuffle on the key;
    deterministic; SQL-portable (same expression runs in the DuckDB oracle).
    """
    w = Window.partitionBy(key_col).orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum(F.col(weight_col)).over(w)
    return df.withColumn(
        "chunk_id", F.floor((cum - F.col(weight_col)) / F.lit(budget)).cast("long")
    )


def interval_overlap_pairs(
    df: DataFrame,
    *,
    key_col: str,
    id_col: str,
    start_col: str,
    end_col: str,
    bucket_width: float | None = None,
    max_buckets_per_interval: int = 4096,
) -> DataFrame:
    """General interval-overlap self-join (J4's range-join form):
    pairs (id_a < id_b) within a key whose [start, end) intervals overlap
    (a.start < b.end AND b.start < a.end). Overlap duration included
    (ref: transcription/conversation_physics.py:148-172).

    ``bucket_width`` enables the classic interval-bucketing range join: each
    interval explodes to its covered time buckets and the self-join runs on
    (key, bucket) instead of key alone — a hot key with 10^5 intervals
    spread over time no longer makes 10^10 comparisons; each reducer only
    compares intervals in the same window. Pairs are deduplicated WITHOUT a
    distinct(): a pair is emitted only from the bucket containing
    max(start_a, start_b) — a point both intervals cover, lying in exactly
    one bucket. Results are identical to the unbucketed path (tested).
    Pick a width of the same order as a typical interval length: wider
    buckets → fewer replicas per interval but more per-reducer comparisons.
    ``None`` keeps the plain per-key equi-join (small-key path).

    Degenerate-interval guard: an interval spanning more than
    ``max_buckets_per_interval`` buckets would replicate unboundedly under
    explode (a 10^6×-width outlier → 10^6 rows). Such intervals are instead
    routed through the plain per-key join against ALL intervals of their key
    — still exact (nothing is dropped or clamped; tested against the
    unbucketed path), and cheap as long as degenerate intervals are rare,
    which is what makes them degenerate. The rest stay on the bucketed
    path."""
    a = df.select(
        F.col(key_col).alias("k"),
        F.col(id_col).alias("id_a"),
        F.col(start_col).alias("sa"),
        F.col(end_col).alias("ea"),
    )
    b = df.select(
        F.col(key_col).alias("k"),
        F.col(id_col).alias("id_b"),
        F.col(start_col).alias("sb"),
        F.col(end_col).alias("eb"),
    )
    overlap_pred = (F.col("id_a") < F.col("id_b")) & (F.col("sa") < F.col("eb")) & (
        F.col("sb") < F.col("ea")
    )
    if bucket_width is None:
        pairs = a.join(b, "k").filter(overlap_pred)
    else:
        w = float(bucket_width)

        def n_buckets(s: str, e: str) -> F.Column:
            return F.floor(F.col(e) / w).cast("long") - F.floor(F.col(s) / w).cast("long") + 1

        def bucketed(side: DataFrame, s: str, e: str) -> DataFrame:
            buckets = F.sequence(
                F.floor(F.col(s) / w).cast("long"), F.floor(F.col(e) / w).cast("long")
            )
            return side.withColumn("__bkt", F.explode(buckets))

        a_short = a.filter(n_buckets("sa", "ea") <= max_buckets_per_interval)
        b_short = b.filter(n_buckets("sb", "eb") <= max_buckets_per_interval)
        a_long = a.filter(n_buckets("sa", "ea") > max_buckets_per_interval)
        b_long = b.filter(n_buckets("sb", "eb") > max_buckets_per_interval)

        ab = bucketed(a_short, "sa", "ea")
        bb = bucketed(b_short, "sb", "eb")
        dedup = F.col("__bkt") == F.floor(F.greatest(F.col("sa"), F.col("sb")) / w).cast("long")
        short_pairs = ab.join(bb, ["k", "__bkt"]).filter(overlap_pred & dedup).drop("__bkt")

        # pairs touching ≥1 degenerate-long interval: plain per-key join.
        # (long, any) ∪ (short, long) covers every such pair exactly once —
        # both-long pairs only match the first arm, mixed pairs exactly one.
        long_pairs = a_long.join(b, "k").filter(overlap_pred).unionByName(
            a_short.join(b_long, "k").filter(overlap_pred)
        )
        pairs = short_pairs.unionByName(long_pairs)

    overlap = F.least(F.col("ea"), F.col("eb")) - F.greatest(F.col("sa"), F.col("sb"))
    return pairs.select("k", "id_a", "id_b", overlap.alias("overlap"))
