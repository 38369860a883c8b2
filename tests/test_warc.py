"""WARC source (sources/warc.py): parser core, file roundtrip, blobs."""

from __future__ import annotations

import gzip

from pyspark.sql import functions as F

from slower_whisper_spark.sources import warc as W


def _record(url: str, payload: bytes, extra: str = "") -> bytes:
    return (
        (
            f"WARC/1.0\r\nWARC-Type: resource\r\nWARC-Target-URI: {url}\r\n"
            f"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Type: text/plain\r\n"
            f"{extra}Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        + payload
        + b"\r\n\r\n"
    )


def test_parse_content_length_driven():
    # payload embeds the record marker — Content-Length must protect it
    tricky = b"inner WARC/1.0\r\n\r\n\r\nstill the same payload"
    data = _record("http://a/1", b"hello") + _record("http://a/2", tricky)
    recs = W.parse_warc_bytes(data, file="f.warc")
    assert [r["verdict"] for r in recs] == ["ok", "ok"]
    assert recs[0]["url"] == "http://a/1" and recs[0]["payload"] == b"hello"
    assert recs[1]["payload"] == tricky
    assert recs[1]["content_length"] == len(tricky)
    # offsets point back at the version line
    assert data[recs[1]["offset"] :].startswith(b"WARC/1.0\r\n")


def test_parse_malformed_resync_and_truncation():
    good = _record("http://a/1", b"x" * 10)
    garbage = b"NOT A RECORD AT ALL\r\n"
    # declared length overruns the buffer -> malformed, no crash
    trunc = _record("http://a/3", b"abcdef")[:-10]
    recs = W.parse_warc_bytes(garbage + good + trunc, file="f")
    verdicts = [r["verdict"] for r in recs]
    assert verdicts == ["malformed", "ok", "malformed"]
    assert recs[1]["url"] == "http://a/1"
    # missing Content-Length -> malformed, resync to next record
    noclen = (
        b"WARC/1.0\r\nWARC-Type: resource\r\nWARC-Target-URI: http://b/\r\n\r\n"
        + b"junkjunk" + _record("http://a/4", b"ok!")
    )
    recs2 = W.parse_warc_bytes(noclen)
    assert [r["verdict"] for r in recs2] == ["malformed", "ok"]
    assert recs2[1]["url"] == "http://a/4"


def test_file_roundtrip(spark, docs_small, tmp_path):
    docs, _, _ = docs_small
    src = (
        docs.where(F.col("url").isNotNull() & F.col("text").isNotNull())
        .select("url", "text")
        .limit(500)
    )
    out = str(tmp_path / "warc_plain")
    manifest = W.write_warc_files(
        src, out, file_key=F.abs(F.hash("url")) % 4
    ).toPandas()
    assert manifest["n_records"].sum() == src.count()
    assert len(W.list_warc_files(out)) == len(manifest)

    back = W.read_warc(spark, out)
    assert back.where(F.col("verdict") != "ok").count() == 0
    # byte-identical payload per url
    j = (
        back.select("url", F.col("payload").cast("string").alias("got"))
        .join(src.withColumnRenamed("text", "want"), "url")
    )
    assert j.count() == src.count()
    assert j.where(F.col("got") != F.col("want")).count() == 0
    # (file, offset) locator: re-read one record straight from its offset
    row = back.orderBy("file", "offset").collect()[3]
    with open(f"{out}/{row.file}", "rb") as fh:
        fh.seek(row.offset)
        rec = W.parse_warc_bytes(fh.read())[0]
    assert rec["url"] == row.url and rec["payload"] == bytes(row.payload)


def test_gz_multimember_roundtrip(spark, docs_small, tmp_path):
    docs, _, _ = docs_small
    src = (
        docs.where(F.col("url").isNotNull() & F.col("text").isNotNull())
        .select("url", "text")
        .limit(120)
    )
    out = str(tmp_path / "warc_gz")
    W.write_warc_files(src, out, file_key=F.lit(0), compress=True).collect()
    # make the file multi-member (CC's per-record-member layout analog)
    files = W.list_warc_files(out)
    assert files and files[0].endswith(".warc.gz")
    extra = gzip.compress(_record("http://extra/1", b"tail member"), mtime=0)
    with open(files[0], "ab") as fh:
        fh.write(extra)
    back = W.read_warc(spark, out)
    assert back.where(F.col("verdict") == "ok").count() == 121
    assert back.where(F.col("url") == "http://extra/1").count() == 1


def test_cdx_index_seekable(spark, docs_small, tmp_path):
    docs, _, _ = docs_small
    src = (
        docs.where(F.col("url").isNotNull() & F.col("text").isNotNull())
        .select("url", "text")
        .limit(300)
    )
    out = str(tmp_path / "warc_cdx")
    W.write_warc_files(src, out, file_key=F.abs(F.hash("url")) % 3).collect()
    idx = W.cdx_index(W.read_warc(spark, out), num_shards=2)
    pdf = idx.toPandas()
    assert len(pdf) == src.count()
    # globally range-ordered: concatenating shards in order yields sorted keys
    keys = list(zip(pdf["surt"], pdf["url"]))
    assert keys == sorted(keys)
    # the locator contract: seek to (file, rec_offset), read, get THAT url
    row = pdf.iloc[len(pdf) // 2]
    with open(f"{out}/{row.file}", "rb") as fh:
        fh.seek(int(row.rec_offset))
        rec = W.parse_warc_bytes(fh.read())[0]
    assert rec["url"] == row.url and rec["content_length"] == int(row.length)


def test_parse_blobs_matches_render(spark, docs_small):
    docs, _, _ = docs_small
    src = (
        docs.where(F.col("url").isNotNull() & F.col("text").isNotNull())
        .select("url", "text")
        .limit(200)
    )
    blobs = src.select(
        (F.abs(F.hash("url")) % 8).alias("k"),
        W.render_warc_record(F.col("url"), F.col("text")).alias("rec"),
    ).groupBy("k").agg(
        F.array_join(F.array_sort(F.collect_list("rec")), "").cast("binary").alias("blob")
    )
    parsed = W.parse_warc_blobs(blobs, blob_col="blob")
    assert parsed.where(F.col("verdict") != "ok").count() == 0
    j = parsed.select("url", F.col("payload").cast("string").alias("got")).join(
        src.withColumnRenamed("text", "want"), "url"
    )
    assert j.count() == 200
    assert j.where(F.col("got") != F.col("want")).count() == 0


def test_cli_validate_warc_input(spark, docs_small, tmp_path, capsys):
    """Crawl-to-gate in one command: a directory of WARC files validates
    through the standard CLI path (parse -> (url, text, warc_day) ->
    suite), violations and exit codes included."""
    import json

    from slower_whisper_spark.cli import main

    docs, _, _ = docs_small
    src = docs.where(F.col("url").isNotNull() & F.col("text").isNotNull()).select(
        "url", "text"
    ).limit(200)
    wdir = str(tmp_path / "cli_warc")
    W.write_warc_files(src, wdir, file_key=F.abs(F.hash("url")) % 3).collect()

    spec = {
        "name": "warcsuite", "version": 2,
        "rules": [
            {"type": "not_null", "column": "url", "rule_id": "r1"},
            {"type": "const", "column": "warc_verdict", "value": "ok", "rule_id": "r0"},
            {"type": "quality", "kind": "min_tokens", "column": "text",
             "value": 100000, "rule_id": "r2"},  # impossible -> violations
        ],
    }
    spath = str(tmp_path / "s.json")
    with open(spath, "w") as fh:
        json.dump(spec, fh)

    rc = main([
        "validate", wdir, "--format", "warc", "--suite", spath,
        "--key-col", "url", "--partition-col", "file", "--master", "local[4]",
    ])
    assert rc == 0  # report mode
    err = capsys.readouterr().err
    assert "r2" in err  # violations reported against parsed records
    rc_gate = main([
        "validate", wdir, "--format", "warc", "--suite", spath,
        "--key-col", "url", "--partition-col", "file", "--master", "local[4]",
        "--gate",
    ])
    assert rc_gate == 1


def test_cli_warc_malformed_records_become_violations(spark, tmp_path, capsys):
    """A corrupt record is a VIOLATION row with its (file, offset)
    locator, never silently dropped at the gate."""
    import json

    from slower_whisper_spark.cli import main

    wdir = str(tmp_path / "bad_warc")
    import os

    os.makedirs(wdir)
    with open(f"{wdir}/part-00000.warc", "wb") as fh:
        fh.write(_record("http://ok/1", b"fine payload"))
        fh.write(b"GARBAGE NOT A RECORD\r\n")
        fh.write(_record("http://ok/2", b"also fine"))
    spec = {
        "name": "s", "version": 2,
        "rules": [{"type": "const", "column": "warc_verdict", "value": "ok",
                   "rule_id": "r_wv"}],
    }
    spath = str(tmp_path / "s.json")
    with open(spath, "w") as fh:
        json.dump(spec, fh)
    rc = main([
        "validate", wdir, "--format", "warc", "--suite", spath,
        "--key-col", "offset", "--partition-col", "file", "--master", "local[4]",
        "--gate",
    ])
    assert rc == 1  # the malformed record fails the gate
    err = capsys.readouterr().err
    assert "r_wv" in err and "malformed" in err


def test_cdx_lookup_fetches_one_record(spark, docs_small, tmp_path):
    docs, _, _ = docs_small
    src = (
        docs.where(F.col("url").isNotNull() & F.col("text").isNotNull())
        .select("url", "text")
        .limit(150)
    )
    wdir = str(tmp_path / "lk_warc")
    W.write_warc_files(src, wdir, file_key=F.abs(F.hash("url")) % 3).collect()
    ipath = str(tmp_path / "lk_idx")
    W.cdx_index(W.read_warc(spark, wdir), num_shards=2).write.parquet(ipath)

    target = src.orderBy("url").collect()[42]
    hits = (
        spark.read.parquet(ipath)
        .where(F.col("url") == target.url)
        .select("file", "rec_offset", "length")
        .collect()
    )
    assert len(hits) == 1
    f, off, ln = hits[0]
    with open(f"{wdir}/{f}", "rb") as fh:
        fh.seek(off)
        rec = W.parse_warc_bytes(fh.read())[0]
    assert rec["url"] == target.url
    assert rec["payload"].decode() == target.text and rec["content_length"] == ln
