"""WARC (Web ARChive, ISO 28500) source: the container format webtext
corpora ship in (Common Crawl stores ~100 TB/crawl as ~90k gzipped WARC
files). The engine keys records on url (BASELINE input_hint), and WARC is
where those records come from upstream, so ingest gets a first-class
reader rather than a pre-extracted-parquet assumption.

Engine analog of the reference's container ingest surface (ref:
transcription/service_validation.py — header probe + streamed chunked
upload; transcription/models.py — per-file identity as the record key):
re-expressed as a distributed record reader over opaque file bytes.

Scale design (the part that matters at 100 TB):

* **Parallelism unit = file.** Common Crawl's layout is ~1 GB gzipped
  WARCs; ``read_warc`` maps one Arrow batch per file via ``binaryFile`` +
  ``mapInPandas``, so a 90k-file crawl is a 90k-task scan — the exact
  shape real CC jobs (ccf/cc-pyspark) use. Per-record gzip members make
  the inside of a file inherently sequential; the file grain is the
  right one, and ``maxRecords``/projection keep memory bounded.
* **Record locator = (file, offset).** Every parsed record carries its
  byte offset, so a downstream index (the CC CDX convention) can seek
  straight back to one record without re-reading the file.
* **Content-Length-driven parsing.** Payload bytes are sliced by the
  declared length — a payload containing ``WARC/1.0`` never confuses the
  parser (no delimiter scanning in the happy path), and malformed tails
  degrade to a counted ``malformed`` verdict instead of corrupting
  subsequent records.
* **Rendering is JVM-side.** ``render_warc_record`` builds record text as
  a pure Column expression (whole-stage codegen, zero Python), so the
  write path — and the roundtrip driver query — only pays Python where
  parsing genuinely needs it.

The writer here (``write_warc_files``) writes executor-side without a
commit protocol — fixture/export grade. A production sink would wrap the
same render expression in a FileCommitProtocol-backed task commit.
"""

from __future__ import annotations

import glob
import gzip
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_CRLF = "\r\n"
_HDR_END = b"\r\n\r\n"

WARC_SCHEMA = (
    "file string, offset long, url string, warc_type string, "
    "warc_date string, content_type string, content_length long, "
    "payload binary, verdict string"
)


def render_warc_record(
    url: Column,
    payload: Column,
    *,
    warc_date: Column | None = None,
    warc_type: str = "resource",
    content_type: str = "text/plain",
) -> Column:
    """One WARC/1.0 record as a string Column — header block, declared
    Content-Length in UTF-8 bytes (octet_length), payload, record
    terminator. Pure JVM expression; cast to binary at the call site when
    concatenating into file blobs."""
    date = warc_date if warc_date is not None else F.lit("2026-01-01T00:00:00Z")
    return F.concat(
        F.lit("WARC/1.0" + _CRLF),
        F.lit(f"WARC-Type: {warc_type}" + _CRLF),
        F.lit("WARC-Target-URI: "), url, F.lit(_CRLF),
        F.lit("WARC-Date: "), date, F.lit(_CRLF),
        F.lit(f"Content-Type: {content_type}" + _CRLF),
        F.lit("Content-Length: "),
        F.octet_length(payload).cast("string"),
        F.lit(_CRLF + _CRLF),
        payload,
        F.lit(_CRLF + _CRLF),
    )


def parse_warc_bytes(data: bytes, *, file: str = "") -> list[dict]:
    """Parse a (decompressed) WARC byte stream into record dicts.

    Content-Length drives payload slicing. A record whose header block or
    declared payload overruns the buffer, or whose version line / length
    header is missing, yields ONE ``verdict='malformed'`` row carrying the
    offset, and parsing resynchronizes at the next ``WARC/1.0\\r\\n``
    marker — one bad record never poisons the rest of the file.
    """
    out: list[dict] = []
    pos, n = 0, len(data)
    marker = b"WARC/1.0\r\n"
    while pos < n:
        # skip inter-record padding (spec: exactly \r\n\r\n, be lenient)
        while pos < n and data[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        start = pos
        if not data.startswith(marker, pos):
            nxt = data.find(marker, pos + 1)
            out.append(_malformed(file, start))
            if nxt == -1:
                break
            pos = nxt
            continue
        hdr_end = data.find(_HDR_END, pos)
        if hdr_end == -1:
            out.append(_malformed(file, start))
            break
        # headers stay BYTES until a value is actually emitted: the per-batch
        # parse is the WARC leg's per-core ceiling, and decoding every header
        # key+value (~16 decodes/record) just to read 5 of them was ~30% of
        # it. bytes.lower() only maps ASCII letters — identical key matching
        # to the old decode('ascii','replace').lower() for ASCII header
        # names, and a non-ASCII key can't match our fixed names either way.
        headers: dict[bytes, bytes] = {}
        for line in data[pos + len(marker) : hdr_end].split(b"\r\n"):
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower()] = v.strip()
        body_start = hdr_end + len(_HDR_END)
        try:
            clen = int(headers[b"content-length"])
        except (KeyError, ValueError):
            clen = -1
        if clen < 0 or body_start + clen > n:
            nxt = data.find(marker, body_start)
            out.append(_malformed(file, start))
            if nxt == -1:
                break
            pos = nxt
            continue
        out.append(
            {
                "file": file,
                "offset": start,
                "url": _hdr_str(headers, b"warc-target-uri"),
                "warc_type": _hdr_str(headers, b"warc-type"),
                "warc_date": _hdr_str(headers, b"warc-date"),
                "content_type": _hdr_str(headers, b"content-type"),
                "content_length": clen,
                "payload": data[body_start : body_start + clen],
                "verdict": "ok",
            }
        )
        pos = body_start + clen
    return out


def _hdr_str(headers: dict[bytes, bytes], key: bytes) -> str | None:
    v = headers.get(key)
    return v.decode("utf-8", "replace") if v is not None else None


def _malformed(file: str, offset: int) -> dict:
    return {
        "file": file,
        "offset": offset,
        "url": None,
        "warc_type": None,
        "warc_date": None,
        "content_type": None,
        "content_length": None,
        "payload": None,
        "verdict": "malformed",
    }


def _records_df(rows: list[dict]) -> pd.DataFrame:
    cols = [
        "file", "offset", "url", "warc_type", "warc_date",
        "content_type", "content_length", "payload", "verdict",
    ]
    # column-wise construction: pandas builds one object array per column
    # instead of inferring across a list of 9-element row lists (~1.3x on
    # the parse+build core, measured on the bench blob shards)
    return pd.DataFrame({c: [r[c] for r in rows] for c in cols}, columns=cols)


def parse_warc_blobs(
    df: DataFrame, *, blob_col: str = "blob", file_col: str | None = None
) -> DataFrame:
    """Arrow-batched record extraction over an in-memory binary column —
    the same core the file reader uses, for pipelines whose WARC blobs
    arrive as table cells (ingest staging) rather than files."""
    fcol = F.col(file_col) if file_col else F.lit("")
    src = df.select(fcol.cast("string").alias("_f"), F.col(blob_col).alias("_b"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[dict] = []
            for f, b in zip(pdf["_f"], pdf["_b"]):
                rows.extend(parse_warc_bytes(bytes(b), file=str(f)))
            yield _records_df(rows)

    return src.mapInPandas(batches, schema=WARC_SCHEMA)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WARC scan: ``binaryFile`` (one task per file — the CC
    parallelism grain) → gzip-decompress ``.gz`` members → Content-Length
    record parse. Multi-member gzip (CC's per-record compression) is
    handled by ``gzip.decompress``'s concatenated-member support."""
    files = spark.read.format("binaryFile").load(path)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[dict] = []
            for p, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                if str(p).endswith(".gz"):
                    data = gzip.decompress(data)
                rows.extend(parse_warc_bytes(data, file=os.path.basename(str(p))))
            yield _records_df(rows)

    return files.select("path", "content").mapInPandas(batches, schema=WARC_SCHEMA)


def write_warc_files(
    df: DataFrame,
    out_dir: str,
    *,
    url_col: str = "url",
    text_col: str = "text",
    file_key: Column | None = None,
    compress: bool = False,
) -> DataFrame:
    """Executor-side WARC export: render records JVM-side, group by
    ``file_key`` (default: one file per Spark partition), write each
    group's concatenated bytes to ``out_dir/part-<key>.warc[.gz]`` inside
    the Arrow batch, and return a manifest DataFrame (file, n_records,
    n_bytes). Deterministic content given a deterministic key. No commit
    protocol — see module docstring."""
    key = file_key if file_key is not None else F.spark_partition_id()
    rec = render_warc_record(F.col(url_col), F.col(text_col))
    grouped = (
        df.select(key.cast("long").alias("_k"), F.col(url_col).alias("_u"), rec.alias("_r"))
        .groupBy("_k")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("_u"), F.col("_r")))),
                    lambda s: s["_r"],
                ),
                "",
            ).alias("_blob"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    os.makedirs(out_dir, exist_ok=True)
    suffix = ".warc.gz" if compress else ".warc"

    def write_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for k, blob, cnt in zip(pdf["_k"], pdf["_blob"], pdf["_n"]):
                data = str(blob).encode("utf-8")
                if compress:
                    data = gzip.compress(data, mtime=0)
                name = f"part-{int(k):05d}{suffix}"
                with open(os.path.join(out_dir, name), "wb") as fh:
                    fh.write(data)
                rows.append((name, int(cnt), len(data)))
            yield pd.DataFrame(rows, columns=["file", "n_records", "n_bytes"])

    return grouped.mapInPandas(
        write_batches, schema="file string, n_records long, n_bytes long"
    )


def list_warc_files(out_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out_dir, "part-*.warc*")))


def cdx_index(records: DataFrame, *, num_shards: int | None = None) -> DataFrame:
    """CDX-style lookup index over parsed WARC records: one row per ``ok``
    record keyed by SURT with its ``(file, offset, length)`` locator — the
    Common Crawl cc-index contract (a url lookup seeks straight to one
    record without touching the corpus).

    Scale shape: ``repartitionByRange`` on (surt, url) + sort-within-
    partition gives globally range-ordered shards — domain-contiguous, so
    a prefix lookup ('org,example,)' …) prunes to one shard and
    binary-searches inside it; writing the result as parquet preserves the
    order via row-group min/max on surt. The range exchange samples keys
    once (AQE-sized when ``num_shards`` is None)."""
    from slower_whisper_spark.functions.url import surt_key

    idx = records.where(F.col("verdict") == "ok").select(
        surt_key(F.col("url")).alias("surt"),
        "url",
        "file",
        F.col("offset").alias("rec_offset"),
        F.col("content_length").alias("length"),
    )
    parts = (
        idx.repartitionByRange(num_shards, "surt", "url")
        if num_shards
        else idx.repartitionByRange("surt", "url")
    )
    return parts.sortWithinPartitions("surt", "url")
