"""Crawl-snapshot delta: url-keyed diff of two corpus snapshots into
``added | removed | changed | unchanged`` verdicts — the monthly-recrawl
bookkeeping every webtext pipeline runs before deciding what to
re-extract, re-filter, and re-embed.

Engine analog of the reference's resume/incremental surface (ref:
transcription pipeline skip-existing + manifest diff semantics,
slower_whisper run orchestration): re-expressed as a snapshot set
operation on the record key (url — BASELINE input_hint) instead of a
filesystem walk.

Scale design: one shuffle per side on the (unique, therefore unskewed)
url key — a plain sort-merge full-outer join that AQE sizes; no
broadcast (both sides are corpus-scale). Content comparison rides an
8-byte-per-row fingerprint (md5 over text by default, or a caller-
provided column — e.g. the WARC payload digest — so diffing never moves
document bodies through the shuffle: fingerprints are computed scan-side
and ONLY (key, fp) columns shuffle). Repeated diffing of the same
corpora is the bucketing use case: two tables bucketed by url diff with
zero exchanges (see tests/test_bucketed_join.py for the plan contract).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    *,
    key_col: str = "url",
    text_col: str = "text",
    fingerprint_col: str | None = None,
) -> DataFrame:
    """Full-outer url diff → one row per url in either snapshot:
    ``(url, verdict, old_fp, new_fp)``.

    ``fingerprint_col`` names a precomputed digest column (preferred at
    scale — reuse the ingest-time hash); otherwise md5(text) is computed
    scan-side before the join so only 32-hex-char fingerprints shuffle.
    NULL text fingerprints as NULL and compares null-safely (NULL == NULL
    is 'unchanged' — an absent body that stays absent is not a change).
    """
    def fp(df: DataFrame) -> Column:
        if fingerprint_col is not None:
            return F.col(fingerprint_col)
        return F.md5(F.col(text_col))

    # membership flags must come from the join, not the fp (a present row
    # may legitimately carry a NULL fingerprint) — ride a sentinel column
    o = old.select(
        F.col(key_col).alias("url"), fp(old).alias("old_fp"), F.lit(True).alias("_in_old")
    )
    n = new.select(
        F.col(key_col).alias("url"), fp(new).alias("new_fp"), F.lit(True).alias("_in_new")
    )
    j = o.join(n, on="url", how="full_outer")
    verdict = (
        F.when(F.col("_in_old").isNull(), "added")
        .when(F.col("_in_new").isNull(), "removed")
        .when(F.col("old_fp").eqNullSafe(F.col("new_fp")), "unchanged")
        .otherwise("changed")
    )
    return j.select("url", verdict.alias("verdict"), "old_fp", "new_fp")
