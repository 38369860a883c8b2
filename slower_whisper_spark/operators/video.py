"""Video-leg multimodal operators: AVI/MJPEG container parse + frame
sampling + per-frame decode.

Completes the multimodal plumbing triple (image: multimodal.py, audio:
audio.py): video payloads are opaque ``binary`` columns; the container
index is parsed with stdlib struct (RIFF walk), frames are SAMPLED before
any pixel work so only every Nth frame pays the codec cost, and the
sampled frames decode through the package's own baseline-JPEG decoder
(operators/jpeg.py). Engine analog of the reference's frame-rate /
duration probes + per-segment media slicing (ref:
transcription/service_validation.py:16-257 ffprobe format checks;
transcription/audio_io.py stream slicing) — the codec-library swap point
is the same single function documented in multimodal.py.

Scale design: the only Python is the mapInPandas codec boundary; a 100 TB
corpus of clips fans out by video key, each task walks its container index
(cheap — no entropy decode) and decodes only the sampled frames. Timing
is exact integer micros (frame_idx * us_per_frame // 1000) so the oracle
replays it bit-for-bit.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

VIDEO_FRAME_SCHEMA = (
    "video_id long, frame_idx long, t_ms long, "
    "width long, height long, channels long, mean_px double"
)


def parse_avi_mjpeg(b: bytes) -> dict | None:
    """Parse a RIFF/AVI container: main-header timing + the MJPG frame
    index ('00dc' chunk payloads, in stream order). Pure struct walk — no
    entropy decode happens here, so indexing a clip is O(container size)
    byte scanning only. Returns None for non-AVI payloads."""
    try:
        if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
            return None
        us_per_frame = total_frames = width = height = None
        frames: list[bytes] = []

        def walk(start: int, end: int) -> None:
            nonlocal us_per_frame, total_frames, width, height
            i = start
            while i + 8 <= end:
                cid = b[i : i + 4]
                csz = struct.unpack("<I", b[i + 4 : i + 8])[0]
                body = i + 8
                if cid == b"LIST":
                    walk(body + 4, body + csz)  # skip the list type fourcc
                elif cid == b"avih" and csz >= 40:
                    us_per_frame = struct.unpack("<I", b[body : body + 4])[0]
                    total_frames = struct.unpack("<I", b[body + 16 : body + 20])[0]
                    width = struct.unpack("<I", b[body + 32 : body + 36])[0]
                    height = struct.unpack("<I", b[body + 36 : body + 40])[0]
                elif cid[2:4] == b"dc":  # compressed video frame chunk
                    frames.append(b[body : body + csz])
                i = body + csz + (csz & 1)

        walk(12, len(b))
        if us_per_frame is None or not frames:
            return None
        return {
            "us_per_frame": int(us_per_frame),
            "total_frames": int(total_frames or len(frames)),
            "width": int(width or 0),
            "height": int(height or 0),
            "frames": frames,
        }
    except (struct.error, IndexError):
        return None


def sample_video_frames(
    df: DataFrame,
    *,
    key_col: str = "video_id",
    binary_col: str = "avi",
    every: int = 3,
) -> DataFrame:
    """Distributed frame sampling: parse each AVI's chunk index, keep every
    Nth frame (idx % every == 0), decode ONLY those through the package
    JPEG decoder, emit typed per-frame rows. Undecodable containers yield
    zero rows; an undecodable sampled frame yields a metadata-only row
    (dims/mean NULL) so corrupt frames are countable."""
    from slower_whisper_spark.operators.jpeg import decode_jpeg_pixels

    if every < 1:
        raise ValueError("every must be >= 1")

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["video_id", "frame_idx", "t_ms", "width", "height", "channels", "mean_px"]
        for pdf in batches:
            out = []
            for key, payload in zip(pdf[key_col], pdf[binary_col]):
                meta = parse_avi_mjpeg(bytes(payload) if payload is not None else b"")
                if meta is None:
                    continue
                upf = meta["us_per_frame"]
                for idx in range(0, len(meta["frames"]), every):
                    t_ms = idx * upf // 1000
                    px = decode_jpeg_pixels(meta["frames"][idx])
                    if px is None:
                        out.append((int(key), idx, t_ms, None, None, None, None))
                        continue
                    out.append(
                        (
                            int(key),
                            idx,
                            t_ms,
                            int(px.shape[1]),
                            int(px.shape[0]),
                            int(px.shape[2]),
                            round(float(px.mean()), 6),
                        )
                    )
            yield pd.DataFrame(out, columns=cols)

    return df.select(key_col, binary_col).mapInPandas(
        decode_batches, schema=VIDEO_FRAME_SCHEMA
    )


# --------------------------------------------------------------------- #
# AVI writer (fixture-side; the operators above never call it)
# --------------------------------------------------------------------- #
def encode_avi_mjpeg(
    frames: list[bytes], *, fps_num: int = 25, fps_den: int = 1,
    width: int = 0, height: int = 0,
) -> bytes:
    """Minimal RIFF/AVI MJPG writer for the deterministic test corpus:
    hdrl (avih + one vids/MJPG strl) + movi of '00dc' chunks + idx1."""

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(four: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", four + body)

    us_per_frame = 1_000_000 * fps_den // fps_num
    max_bytes = max((len(f) for f in frames), default=0)
    avih = struct.pack(
        "<IIIIIIIIII4I",
        us_per_frame, max_bytes * fps_num // max(fps_den, 1), 0, 0x10,  # HASINDEX
        len(frames), 0, 1, max_bytes, width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", b"MJPG", 0, 0, 0, 0, fps_den, fps_num, 0, len(frames),
        max_bytes, 0xFFFFFFFF, 0, 0, 0, 0, 0,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_body = b"movi"
    idx_entries = []
    for f in frames:
        idx_entries.append((len(movi_body) - 4 + 4, len(f)))  # offset from 'movi'+4
        movi_body += chunk(b"00dc", f)
    movi = chunk(b"LIST", movi_body)
    idx1 = chunk(
        b"idx1",
        b"".join(
            b"00dc" + struct.pack("<III", 0x10, off, sz) for off, sz in idx_entries
        ),
    )
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body
