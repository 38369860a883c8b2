"""S8 ingest guards: magic sniff stays JVM-side, two-tier verdicts,
probe cost scales with the accept set."""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F

from slower_whisper_spark.sources.ingest import ingest_guards, sniff_format


def _payloads(spark):
    import __spark_entry__ as em

    rows = em._ingest_fixture()
    return spark.createDataFrame(
        [(r["item_id"], bytearray(r["payload"])) for r in rows],
        "item_id long, payload binary",
    ), rows


def test_sniff_format_magic_bytes(spark):
    cases = [
        (b"\x89PNG\r\n\x1a\x0aXXXX", "png"),
        (b"\xff\xd8\xff\xe0rest", "jpeg"),
        (b"GIF87a\x01\x00\x01\x00", "gif"),
        (b"GIF89a\x01\x00\x01\x00", "gif"),
        (b"BMxxxx", "bmp"),
        (b"RIFF\x04\x00\x00\x00WAVEdata", "wav"),
        (b"RIFF\x04\x00\x00\x00AVI LIST", "avi"),
        (b"RIFF\x04\x00\x00\x00JUNK", "bin"),
        (b"nothing here", "bin"),
        (b"", "bin"),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, (b, _) in enumerate(cases)], "i long, b binary"
    )
    got = df.select("i", sniff_format(F.col("b")).alias("fmt")).orderBy("i").collect()
    assert [r.fmt for r in got] == [exp for _, exp in cases]


def test_sniff_is_jvm_only(spark):
    """Tier 1 must stay in whole-stage codegen: no Python eval node."""
    from slower_whisper_spark.plans import explain_str

    df = spark.createDataFrame([(1, bytearray(b"x"))], "item_id long, payload binary")
    plan = explain_str(df.select("item_id", sniff_format(F.col("payload")).alias("fmt")))
    assert "pythonudf" not in plan.lower()
    assert "mapinpandas" not in plan.lower()


def test_guard_verdicts_match_ground_truth(spark):
    import __spark_entry__ as em

    df, rows = _payloads(spark)
    got = {
        r.item_id: r
        for r in ingest_guards(df, size_cap=em._INGEST_SIZE_CAP).collect()
    }
    assert len(got) == len(rows)
    for r in rows:
        g = got[r["item_id"]]
        if r["n_bytes"] > em._INGEST_SIZE_CAP:
            exp = "rejected_size"
        elif r["fmt"] not in ("png", "jpeg", "gif", "wav", "avi"):
            exp = "rejected_format"
        elif not r["probe_ok"]:
            exp = "rejected_probe"
        else:
            exp = "accepted"
        assert g.verdict == exp, (r["item_id"], g.verdict, exp)
        if exp == "accepted":
            assert g.width == r["width"] and g.height == r["height"]
            if r["duration_sec"] is not None:
                assert g.duration_sec == pytest.approx(r["duration_sec"])
        else:
            assert g.width is None and g.duration_sec is None


def test_probe_sees_only_survivors(spark):
    """The Python tier must not touch tier-1 rejects: every probed row's
    format is in the allow list and under the cap."""
    df, rows = _payloads(spark)
    cap = 200_000
    probed = ingest_guards(df, size_cap=cap).where(
        F.col("verdict").isin("accepted", "rejected_probe")
    )
    for r in probed.collect():
        assert r.n_bytes <= cap
        assert r.fmt in ("png", "jpeg", "gif", "wav", "avi")


def test_custom_allow_list(spark):
    df, _ = _payloads(spark)
    out = ingest_guards(df, allowed_formats=("bmp",), size_cap=10**9)
    verdicts = {r.item_id: r.verdict for r in out.collect()}
    # the BMP item (id 6) is now allowed and probes fine (dims in header)
    assert verdicts[6] == "accepted"
    # PNG item 0 is now format-rejected
    assert verdicts[0] == "rejected_format"
