"""Upload/ingest guards: byte-size caps, magic-byte format sniffing, and
deep header probes over opaque binary columns.

Engine analog of the reference's upload validation surface (ref:
transcription/service_validation.py:16-257 — ``validate_file_size`` byte
cap, ``validate_audio_format`` ffprobe/header probe, streamed chunked
ingest). Re-expressed for a table engine as a two-tier guard:

* **Tier 1 (JVM, whole-stage codegen)**: byte length + magic-byte format
  sniff as pure Column expressions — ``length(binary)`` and hex-prefix
  comparisons on ``substring``. At 100 TB this is the filter that rejects
  the bulk of bad payloads inside the scan, with predicate pushdown and
  zero Python. The reference's "streamed chunked" reading maps to the
  columnar scan itself: tier 1 touches only the first 12 bytes of each
  payload plus its length.
* **Tier 2 (Arrow batch, survivors only)**: the real container-header
  probe (operators/multimodal.parse_media_header — PNG/JPEG/GIF/BMP
  dimensions, WAV duration, AVI timing) runs via mapInPandas ONLY on rows
  that passed tier 1, so the Python cost scales with the accept set, not
  the corpus.

Verdict vocabulary mirrors the reference's rejection reasons:
``accepted | rejected_size | rejected_format | rejected_probe``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GUARD_SCHEMA = (
    "item_id long, n_bytes long, fmt string, verdict string, "
    "width long, height long, duration_sec double"
)


def sniff_format(col: Column) -> Column:
    """JVM-side magic-byte format detection over a binary column: a WHEN
    chain on hex prefixes (PNG/JPEG/GIF/BMP + RIFF→WAV/AVI discrimination
    at offset 8). Stays inside whole-stage codegen — no UDF."""
    hx = F.hex(F.substring(col, 1, 12))
    riff_kind = F.substring(col, 9, 4).cast("string")
    chain = (
        F.when(hx.startswith("89504E470D0A1A0A"), "png")
        .when(hx.startswith("FFD8"), "jpeg")
        .when(hx.startswith("4749463837"), "gif")
        .when(hx.startswith("4749463839"), "gif")
        .when(hx.startswith("424D"), "bmp")
        .when(
            hx.startswith("52494646"),
            F.when(riff_kind == "WAVE", "wav")
            .when(riff_kind == "AVI ", "avi")
            .otherwise("bin"),
        )
        .otherwise("bin")
    )
    return chain


def ingest_guards(
    df: DataFrame,
    *,
    key_col: str = "item_id",
    binary_col: str = "payload",
    size_cap: int = 1 << 20,
    allowed_formats: tuple[str, ...] = ("png", "jpeg", "gif", "wav", "avi"),
) -> DataFrame:
    """Two-tier ingest guard → one verdict row per payload.

    Tier-1 rejections (size, format) never enter Python; tier-2 runs the
    header probe on the survivors and rejects containers whose headers
    don't parse to usable metadata (images need dimensions, audio/video
    need a duration — the ffprobe-analog contract). Output columns carry
    the probed metadata for accepted rows.
    """
    base = df.select(
        F.col(key_col).cast("long").alias("item_id"),
        F.length(F.col(binary_col)).cast("long").alias("n_bytes"),
        sniff_format(F.col(binary_col)).alias("fmt"),
        F.col(binary_col).alias("_payload"),
    )
    size_ok = F.col("n_bytes") <= F.lit(int(size_cap))
    fmt_ok = F.col("fmt").isin(*allowed_formats)
    rejected = base.where(~size_ok | ~fmt_ok).select(
        "item_id",
        "n_bytes",
        "fmt",
        F.when(~size_ok, "rejected_size").otherwise("rejected_format").alias("verdict"),
        F.lit(None).cast("long").alias("width"),
        F.lit(None).cast("long").alias("height"),
        F.lit(None).cast("double").alias("duration_sec"),
    )
    survivors = base.where(size_ok & fmt_ok)

    def probe_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from slower_whisper_spark.operators.multimodal import parse_media_header

        cols = ["item_id", "n_bytes", "fmt", "verdict", "width", "height", "duration_sec"]
        for pdf in batches:
            out = []
            for item_id, n_bytes, fmt, payload in zip(
                pdf["item_id"], pdf["n_bytes"], pdf["fmt"], pdf["_payload"]
            ):
                meta = parse_media_header(bytes(payload))
                if meta["media_type"] in ("image",):
                    ok = meta["width"] is not None and meta["height"] is not None
                else:
                    ok = meta["duration_sec"] is not None
                out.append(
                    (
                        int(item_id),
                        int(n_bytes),
                        str(fmt),
                        "accepted" if ok else "rejected_probe",
                        meta["width"] if ok else None,
                        meta["height"] if ok else None,
                        meta["duration_sec"] if ok else None,
                    )
                )
            yield pd.DataFrame(out, columns=cols)

    probed = survivors.mapInPandas(probe_batches, schema=GUARD_SCHEMA)
    return probed.unionByName(rejected)
