"""Video-leg operators: AVI/MJPEG container round-trip, frame sampling
semantics, corrupt-frame handling."""

from __future__ import annotations

import numpy as np
import pytest

from slower_whisper_spark.operators.video import (
    encode_avi_mjpeg,
    parse_avi_mjpeg,
    sample_video_frames,
)


def _frames(n):
    # payloads need not be valid JPEG for container tests
    return [bytes([0xFF, 0xD8, i]) + b"x" * (i % 5) for i in range(n)]


def test_avi_roundtrip_preserves_frames_and_timing():
    fr = _frames(7)
    avi = encode_avi_mjpeg(fr, fps_num=30, fps_den=1, width=64, height=48)
    m = parse_avi_mjpeg(avi)
    assert m["frames"] == fr
    assert m["total_frames"] == 7
    assert m["us_per_frame"] == 33333
    assert (m["width"], m["height"]) == (64, 48)


def test_avi_ntsc_integer_timing():
    avi = encode_avi_mjpeg(_frames(2), fps_num=60000, fps_den=1001)
    m = parse_avi_mjpeg(avi)
    assert m["us_per_frame"] == 1_000_000 * 1001 // 60000  # 16683, exact int


def test_avi_rejects_non_avi():
    assert parse_avi_mjpeg(b"") is None
    assert parse_avi_mjpeg(b"RIFF\x04\x00\x00\x00WAVE") is None
    assert parse_avi_mjpeg(b"RIFF\x04\x00\x00\x00AVI ") is None  # no frames


def test_sample_video_frames_distributed(spark):
    import __spark_entry__ as em

    jrows = em._jpeg_fixture()
    fr = [jrows[k % 3]["jpg"] for k in range(9)]
    fr[2] = fr[2][:30]  # corrupt an UNSAMPLED frame (every=4 → idx 0,4,8)
    avi = encode_avi_mjpeg(fr, fps_num=10, fps_den=1)
    df = spark.createDataFrame(
        [(7, bytearray(avi)), (8, bytearray(b"not an avi"))],
        "video_id long, avi binary",
    ).repartition(2)
    got = sample_video_frames(df, every=4).orderBy("frame_idx").collect()
    assert [r.video_id for r in got] == [7, 7, 7]  # junk container → 0 rows
    assert [r.frame_idx for r in got] == [0, 4, 8]
    assert [r.t_ms for r in got] == [0, 400, 800]
    for r, src in zip(got, (0, 1, 2)):
        assert r.mean_px == pytest.approx(jrows[src]["mean_px"])
        assert (r.width, r.height) == (jrows[src]["width"], jrows[src]["height"])


def test_sample_every_one_decodes_all(spark):
    import __spark_entry__ as em

    jrows = em._jpeg_fixture()
    avi = encode_avi_mjpeg([jrows[0]["jpg"]] * 3, fps_num=1, fps_den=1)
    df = spark.createDataFrame([(0, bytearray(avi))], "video_id long, avi binary")
    got = sample_video_frames(df, every=1).collect()
    assert len(got) == 3
    assert sorted(r.t_ms for r in got) == [0, 1000, 2000]
    with pytest.raises(ValueError):
        sample_video_frames(df, every=0)


def test_corrupt_sampled_frame_yields_metadata_row(spark):
    import __spark_entry__ as em

    jrows = em._jpeg_fixture()
    fr = [jrows[0]["jpg"], jrows[1]["jpg"][:25]]
    avi = encode_avi_mjpeg(fr, fps_num=5, fps_den=1)
    df = spark.createDataFrame([(1, bytearray(avi))], "video_id long, avi binary")
    got = sample_video_frames(df, every=1).orderBy("frame_idx").collect()
    assert len(got) == 2
    assert got[1].width is None and got[1].mean_px is None
    assert got[1].t_ms == 200
