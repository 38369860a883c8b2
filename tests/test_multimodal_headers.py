"""Real container-header and pixel decoding: the test MEDIA FILES
are constructed byte-for-byte valid in pure python (PNG via zlib, JPEG with
a SOF0 segment, GIF, 24-bit BMP, PCM WAV), so the parsed width/height/
duration assertions are against ground truth, not against the parser."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from slower_whisper_spark.operators.multimodal import parse_media_header


def make_png(w: int, h: int) -> bytes:
    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + bytes(3 * w) for _ in range(h))  # filter-0 rows
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_jpeg(w: int, h: int) -> bytes:
    # standard 16-byte JFIF APP0: id(5) + version(2) + units(1) + density(4) + thumb(2)
    app0 = (
        b"\xff\xe0" + struct.pack(">H", 16)
        + b"JFIF\x00" + b"\x01\x01" + b"\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def make_gif(w: int, h: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00" + b"\x3b"


def make_bmp(w: int, h: int, rgb=(255, 0, 0)) -> bytes:
    row = (bytes(rgb[::-1]) * w) + b"\x00" * ((4 - (3 * w) % 4) % 4)  # BGR + pad
    px = row * h
    header = b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 2835, 2835, 0, 0)
    return header + info + px


def make_wav(seconds: float = 0.5, rate: int = 8000, freq: float = 440.0) -> bytes:
    n = int(seconds * rate)
    t = np.arange(n) / rate
    samples = (np.sin(2 * np.pi * freq * t) * 0.5 * 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(samples)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(samples)) + samples
    )


def test_header_parse_ground_truth():
    png = parse_media_header(make_png(320, 200))
    assert (png["format"], png["width"], png["height"]) == ("png", 320, 200)
    jpg = parse_media_header(make_jpeg(640, 480))
    assert (jpg["format"], jpg["width"], jpg["height"]) == ("jpeg", 640, 480)
    gif = parse_media_header(make_gif(12, 34))
    assert (gif["format"], gif["width"], gif["height"]) == ("gif", 12, 34)
    bmp = parse_media_header(make_bmp(5, 7))
    assert (bmp["format"], bmp["width"], bmp["height"]) == ("bmp", 5, 7)
    wav = parse_media_header(make_wav(0.5, rate=8000))
    assert wav["format"] == "wav" and wav["media_type"] == "audio"
    assert wav["duration_sec"] == pytest.approx(0.5, abs=1e-3)
    other = parse_media_header(b"\x00\x01\x02not media")
    assert other["format"] == "bin" and other["n_bytes"] == 12


def test_header_parse_truncated_is_safe():
    for maker in (make_png, make_jpeg, make_gif, make_bmp):
        full = maker(16, 16)
        for cut in (0, 1, 3, 9, len(full) // 2):
            parse_media_header(full[:cut])  # must not raise
    parse_media_header(make_wav(0.1)[:20])


# ---------------------------------------------------------------- #
# real PNG pixel decode (stdlib zlib + scanline un-filtering)
# ---------------------------------------------------------------- #
def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)


def encode_png(img: np.ndarray, filter_type: int) -> bytes:
    """From-scratch PNG encoder applying ONE filter type to every row —
    exercises each un-filter path against ground-truth pixels."""
    h, w, ch = img.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        line = img[y].reshape(-1).astype(np.int32)
        raw.append(filter_type)
        for i in range(w * ch):
            a = int(line[i - ch]) if i >= ch else 0
            b = int(prev[i])
            c = int(prev[i - ch]) if (i >= ch and y > 0) else 0
            if filter_type == 0:
                v = line[i]
            elif filter_type == 1:
                v = line[i] - a
            elif filter_type == 2:
                v = line[i] - b
            elif filter_type == 3:
                v = line[i] - ((a + b) >> 1)
            else:
                v = line[i] - _paeth(a, b if y > 0 else 0, c)
            raw.append(int(v) & 0xFF)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_pixel_decode_all_filters_roundtrip():
    """Encode a known RGB bitmap with each of the 5 PNG filters, decode with
    the stdlib path, assert byte-exact pixel recovery."""
    from slower_whisper_spark.operators.multimodal import decode_png_pixels

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(13, 17, 3), dtype=np.uint8)
    for ft in range(5):
        got = decode_png_pixels(encode_png(img, ft))
        assert got is not None, ft
        assert got.shape == img.shape
        assert (got == img).all(), f"filter {ft} mismatch"
    # RGBA + grayscale channel counts
    rgba = rng.randint(0, 256, size=(8, 9, 4), dtype=np.uint8)
    assert (decode_png_pixels(encode_png(rgba, 4)) == rgba).all()
    gray = rng.randint(0, 256, size=(6, 7, 1), dtype=np.uint8)
    assert (decode_png_pixels(encode_png(gray, 2)) == gray).all()


def test_png_palette_decode_expands_plte():
    """Color type 3: the index plane un-filters at bpp=1 and PLTE expands to
    RGB byte-exactly, for every filter type; missing PLTE → None."""
    from slower_whisper_spark.operators.multimodal import decode_png_pixels

    rng = np.random.RandomState(23)
    pal = rng.randint(0, 256, size=(17, 3), dtype=np.uint8)
    idx = rng.randint(0, 17, size=(9, 14)).astype(np.uint8)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    def encode_pal(filter_type, include_plte=True):
        h, w = idx.shape
        raw = bytearray()
        prev = np.zeros(w, dtype=np.int32)
        for y in range(h):
            line = idx[y].astype(np.int32)
            raw.append(filter_type)
            for i in range(w):
                a = int(line[i - 1]) if i >= 1 else 0
                b = int(prev[i])
                c = int(prev[i - 1]) if (i >= 1 and y > 0) else 0
                if filter_type == 0:
                    v = line[i]
                elif filter_type == 1:
                    v = line[i] - a
                elif filter_type == 2:
                    v = line[i] - b
                elif filter_type == 3:
                    v = line[i] - ((a + b) >> 1)
                else:
                    v = line[i] - _paeth(a, b if y > 0 else 0, c)
                raw.append(int(v) & 0xFF)
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
        body = chunk(b"IHDR", ihdr)
        if include_plte:
            body += chunk(b"PLTE", pal.tobytes())
        body += chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
        return b"\x89PNG\r\n\x1a\n" + body

    expected = pal[idx]
    for ft in range(5):
        got = decode_png_pixels(encode_pal(ft))
        assert got is not None and got.shape == (9, 14, 3), ft
        assert (got == expected).all(), f"palette filter {ft} mismatch"
    assert decode_png_pixels(encode_pal(0, include_plte=False)) is None


def test_png_real_features_exact_channel_means():
    """A decoded PNG gives REAL per-band means/stds: build a known RGB
    bitmap, assert exact channel statistics of the decoded pixels."""
    from slower_whisper_spark.operators.multimodal import decode_png_pixels

    img = np.zeros((10, 10, 3), dtype=np.uint8)
    img[..., 0] = 200  # R constant
    img[..., 1] = 50   # G constant
    img[:5, :, 2] = 0  # B: half 0, half 100 -> mean 50, std 50
    img[5:, :, 2] = 100
    png = encode_png(img, 2)
    px = decode_png_pixels(png).reshape(-1, 3).astype(np.float64) / 255.0
    f = [*px.mean(axis=0), *px.std(axis=0)]
    assert abs(f[0] - 200 / 255) < 1e-6 and abs(f[1] - 50 / 255) < 1e-6
    assert abs(f[2] - 50 / 255) < 1e-6      # B mean
    assert abs(f[3] - 0.0) < 1e-6 and abs(f[4] - 0.0) < 1e-6  # R,G std
    assert abs(f[5] - 50 / 255) < 1e-6      # B std
    meta = parse_media_header(png)
    assert meta["width"] == 10 and meta["format"] == "png"


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + typ + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _filter_rows_bytes(rows_bytes: np.ndarray, bpp: int, ft: int) -> bytes:
    """Byte-granularity row filter (the spec's model) — independent of the
    package's decoder AND of the fixture's encoder."""
    out = bytearray()
    prev = np.zeros(rows_bytes.shape[1], dtype=np.int32)
    for y in range(rows_bytes.shape[0]):
        line = rows_bytes[y].astype(np.int32)
        out.append(ft)
        for i in range(rows_bytes.shape[1]):
            a = int(line[i - bpp]) if i >= bpp else 0
            b = int(prev[i])
            c = int(prev[i - bpp]) if (i >= bpp and y > 0) else 0
            if ft == 0:
                v = line[i]
            elif ft == 1:
                v = line[i] - a
            elif ft == 2:
                v = line[i] - b
            elif ft == 3:
                v = line[i] - ((a + b) >> 1)
            else:
                v = line[i] - _paeth(a, b if y > 0 else 0, c)
            out.append(int(v) & 0xFF)
        prev = line
    return bytes(out)


def test_png_16bit_decode_high_byte():
    """16-bit samples filter at bpp = 2*channels; the decoder must recover
    exactly val >> 8 for every filter type and channel count."""
    from slower_whisper_spark.operators.multimodal import decode_png_pixels

    rng = np.random.RandomState(31)
    for ft in range(5):
        ch = [1, 2, 3, 4, 3][ft]
        ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
        img16 = rng.randint(0, 65536, size=(7, 11, ch)).astype(np.uint16)
        rows_bytes = np.frombuffer(
            img16.astype(">u2").tobytes(), dtype=np.uint8
        ).reshape(7, 11 * ch * 2)
        ihdr = struct.pack(">IIBBBBB", 11, 7, 16, ctype, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(_filter_rows_bytes(rows_bytes, 2 * ch, ft)))
            + _chunk(b"IEND", b"")
        )
        got = decode_png_pixels(png)
        assert got is not None, ft
        assert got.shape == img16.shape
        assert (got == (img16 >> 8).astype(np.uint8)).all(), f"filter {ft}"


def test_png_adam7_decode_scatters_passes():
    """Adam7: seven independently-filtered pass sub-images must scatter back
    byte-exactly, including image sizes where some passes are empty."""
    from slower_whisper_spark.operators.multimodal import decode_png_pixels

    adam7 = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]
    rng = np.random.RandomState(37)
    for w, h, ch in [(19, 13, 3), (8, 8, 1), (3, 2, 4), (1, 1, 1), (16, 5, 2)]:
        ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
        img = rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8)
        parts = []
        for p_i, (x0, y0, dx, dy) in enumerate(adam7):
            sub = img[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts.append(
                _filter_rows_bytes(sub.reshape(sub.shape[0], -1), ch, p_i % 5)
            )
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 1)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"".join(parts)))
            + _chunk(b"IEND", b"")
        )
        got = decode_png_pixels(png)
        assert got is not None, (w, h, ch)
        assert got.shape == img.shape
        assert (got == img).all(), (w, h, ch)


def _pack_subbyte_rows(vals, depth):
    """Pack (h, w) sample values into PNG packed scanlines, MSB-first:
    → (h, ceil(w*depth/8)) uint8 with zero-padded trailing bits."""
    per = 8 // depth
    h, w = vals.shape
    nb = (w * depth + 7) // 8
    padded = np.zeros((h, nb * per), dtype=np.uint16)
    padded[:, :w] = vals
    shifts = np.arange(per - 1, -1, -1) * depth
    return (padded.reshape(h, nb, per) << shifts).sum(axis=2).astype(np.uint8)


def test_png_packed_gray_decodes_scaled():
    """1/2/4-bit grayscale: packed samples unpack MSB-first and scale to
    8-bit by exactly 255/(2^d−1), across every filter type (bpp=1)."""
    from slower_whisper_spark.operators.multimodal import decode_png_pixels

    rng = np.random.RandomState(43)
    for depth, ft in [(1, 0), (1, 2), (2, 1), (2, 4), (4, 3), (4, 4)]:
        w, h = 13, 6  # odd width: every depth leaves padding bits in the last byte
        vals = rng.randint(0, 1 << depth, size=(h, w)).astype(np.uint8)
        packed = _pack_subbyte_rows(vals, depth)
        ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(_filter_rows_bytes(packed, 1, ft)))
            + _chunk(b"IEND", b"")
        )
        got = decode_png_pixels(png)
        assert got is not None, (depth, ft)
        assert got.shape == (h, w, 1)
        scale = 255 // ((1 << depth) - 1)
        assert (got[..., 0] == vals * scale).all(), (depth, ft)


def test_png_packed_palette_indices():
    """4-bit palette: packed indices unpack then expand through PLTE; with
    tRNS they expand to RGBA exactly like the 8-bit palette path."""
    from slower_whisper_spark.operators.multimodal import decode_png_pixels

    rng = np.random.RandomState(47)
    pal = rng.randint(0, 256, size=(13, 3), dtype=np.uint8)
    idx = rng.randint(0, 13, size=(7, 9)).astype(np.uint8)
    packed = _pack_subbyte_rows(idx, 4)
    ihdr = struct.pack(">IIBBBBB", 9, 7, 4, 3, 0, 0, 0)
    body = _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", pal.tobytes())
    idat = _chunk(b"IDAT", zlib.compress(_filter_rows_bytes(packed, 1, 1)))
    got = decode_png_pixels(b"\x89PNG\r\n\x1a\n" + body + idat + _chunk(b"IEND", b""))
    assert got is not None and got.shape == (7, 9, 3)
    assert (got == pal[idx]).all()
    # same image + tRNS → RGBA
    alpha_tbl = rng.randint(0, 256, size=5, dtype=np.uint8)
    got2 = decode_png_pixels(
        b"\x89PNG\r\n\x1a\n" + body + _chunk(b"tRNS", alpha_tbl.tobytes()) + idat
        + _chunk(b"IEND", b"")
    )
    assert got2 is not None and got2.shape == (7, 9, 4)
    full_alpha = np.concatenate([alpha_tbl, np.full(8, 255, dtype=np.uint8)])
    assert (got2[..., 3] == full_alpha[idx]).all()


def test_png_packed_adam7_scatters():
    """2-bit gray + Adam7: per-pass packed row bytes un-filter and unpack
    independently, then scatter on the pass grid."""
    from slower_whisper_spark.operators.multimodal import decode_png_pixels

    adam7 = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]
    rng = np.random.RandomState(53)
    w, h = 17, 11
    vals = rng.randint(0, 4, size=(h, w)).astype(np.uint8)
    parts = []
    for p_i, (x0, y0, dx, dy) in enumerate(adam7):
        sub = vals[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        parts.append(_filter_rows_bytes(_pack_subbyte_rows(sub, 2), 1, p_i % 5))
    ihdr = struct.pack(">IIBBBBB", w, h, 2, 0, 0, 0, 1)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"".join(parts)))
        + _chunk(b"IEND", b"")
    )
    got = decode_png_pixels(png)
    assert got is not None and got.shape == (h, w, 1)
    assert (got[..., 0] == vals * 85).all()


def test_png_invalid_depth_combos_return_none():
    """Depth 3 (not in the spec) and packed RGB (depth 4 + color type 2)
    must reject → None (hash fallback)."""
    from slower_whisper_spark.operators.multimodal import decode_png_pixels

    for depth, ctype in [(3, 0), (4, 2), (2, 6), (1, 4)]:
        ihdr = struct.pack(">IIBBBBB", 4, 4, depth, ctype, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"\x00" * 64))
            + _chunk(b"IEND", b"")
        )
        assert decode_png_pixels(png) is None, (depth, ctype)


def test_png_palette_trns_expands_rgba():
    """tRNS on a palette image adds per-index alpha → RGBA; a tRNS table
    shorter than the palette leaves trailing indices opaque (255)."""
    from slower_whisper_spark.operators.multimodal import decode_png_pixels

    rng = np.random.RandomState(41)
    pal = rng.randint(0, 256, size=(10, 3), dtype=np.uint8)
    alpha_tbl = rng.randint(0, 256, size=6, dtype=np.uint8)  # shorter
    idx = rng.randint(0, 10, size=(5, 8)).astype(np.uint8)
    ihdr = struct.pack(">IIBBBBB", 8, 5, 8, 3, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", pal.tobytes())
        + _chunk(b"tRNS", alpha_tbl.tobytes())
        + _chunk(b"IDAT", zlib.compress(_filter_rows_bytes(idx.reshape(5, 8), 1, 2)))
        + _chunk(b"IEND", b"")
    )
    got = decode_png_pixels(png)
    assert got is not None and got.shape == (5, 8, 4)
    full_alpha = np.concatenate([alpha_tbl, np.full(4, 255, dtype=np.uint8)])
    assert (got[..., :3] == pal[idx]).all()
    assert (got[..., 3] == full_alpha[idx]).all()


# --------------------------------------------------------------------- #
# GIF pixel decode (pure-Python LZW)
# --------------------------------------------------------------------- #
def test_gif_fixture_roundtrip_all_variants():
    """Every fixture GIF (global/local color table, interlace, GIF89a
    transparency, palette 4..256 with LZW width growth to 12 bits + a
    4096-table reset on the largest image) decodes to the raw array's
    exact shape and mean."""
    import __spark_entry__ as em
    from slower_whisper_spark.operators.multimodal import decode_gif_pixels

    rows = em._gif_fixture()
    assert len(rows) == 10
    for r in rows:
        px = decode_gif_pixels(r["gif"])
        assert px is not None, r["img_id"]
        assert px.shape == (r["height"], r["width"], r["channels"]), r["img_id"]
        assert round(float(px.mean()), 6) == r["mean_px"], r["img_id"]


def test_gif_exact_pixels_and_transparency():
    """Non-interlaced GIF with a GCE transparent index decodes to the exact
    palette expansion with alpha 0 only at that index."""
    import __spark_entry__ as em
    from slower_whisper_spark.operators.multimodal import decode_gif_pixels

    rng = np.random.RandomState(61)
    pal = rng.randint(0, 256, size=(8, 3), dtype=np.uint8)
    idx = rng.randint(0, 8, size=(9, 13)).astype(np.uint8)
    gif = (
        b"GIF89a"
        + struct.pack("<HHBBB", 13, 9, 0x80 | 2, 0, 0)
        + pal.tobytes()
        + b"\x21\xf9\x04" + bytes([0x01, 0, 0, 5]) + b"\x00"
        + b"\x2c" + struct.pack("<HHHH", 0, 0, 13, 9) + b"\x00"
        + bytes([3])
    )
    lzw = em._gif_lzw_encode(idx.tobytes(), 3)
    gif += bytes([len(lzw)]) + lzw + b"\x00\x3b"
    got = decode_gif_pixels(gif)
    assert got is not None and got.shape == (9, 13, 4)
    assert (got[..., :3] == pal[idx]).all()
    assert (got[..., 3] == np.where(idx == 5, 0, 255)).all()


def test_gif_interlaced_exact_pixels():
    """The 4-pass row interlace must de-interlace byte-exactly."""
    import __spark_entry__ as em
    from slower_whisper_spark.operators.multimodal import decode_gif_pixels

    rng = np.random.RandomState(67)
    pal = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.randint(0, 16, size=(11, 7)).astype(np.uint8)
    order = np.concatenate(
        [np.arange(s, 11, st) for s, st in [(0, 8), (4, 8), (2, 4), (1, 2)]]
    )
    gif = (
        b"GIF87a"
        + struct.pack("<HHBBB", 7, 11, 0x80 | 3, 0, 0)
        + pal.tobytes()
        + b"\x2c" + struct.pack("<HHHH", 0, 0, 7, 11) + bytes([0x40])
        + bytes([4])
    )
    lzw = em._gif_lzw_encode(idx[order].tobytes(), 4)
    gif += bytes([len(lzw)]) + lzw + b"\x00\x3b"
    got = decode_gif_pixels(gif)
    assert got is not None and got.shape == (11, 7, 3)
    assert (got == pal[idx]).all()


def test_gif_corrupt_streams_return_none():
    """Out-of-range LZW codes, short pixel streams, and truncated
    containers must reject → None (hash fallback path)."""
    from slower_whisper_spark.operators.multimodal import decode_gif_pixels

    pal = bytes(12)  # 4 black entries
    head = b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0x80 | 1, 0, 0) + pal
    desc = b"\x2c" + struct.pack("<HHHH", 0, 0, 4, 4) + b"\x00"
    # LZW stream whose first code after CLEAR is not a literal:
    # mcs=2 → clear=4, width=3; codes [4, 6] pack to 0b..110_100
    bad = head + desc + bytes([2, 2, 0b00110100, 0b00000000, 0]) + b"\x3b"
    assert decode_gif_pixels(bad) is None
    # valid LZW but too few pixels for 4x4
    import __spark_entry__ as em

    short = em._gif_lzw_encode(bytes([1, 2, 3]), 2)
    too_short = head + desc + bytes([2, len(short)]) + short + b"\x00\x3b"
    assert decode_gif_pixels(too_short) is None
    # truncated before any image descriptor
    assert decode_gif_pixels(head[:10]) is None
    # no color table at all
    no_ct = b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0, 0, 0) + desc + b"\x02\x00\x3b"
    assert decode_gif_pixels(no_ct) is None


# --------------------------------------------------------------------- #
# baseline JPEG pixel decode (Huffman + IDCT, operators/jpeg.py)
# --------------------------------------------------------------------- #
def test_jpeg_fixture_roundtrip_bit_exact():
    """Every fixture JPEG (gray, 4:4:4, 4:2:0, 4:2:2, restart markers,
    16-bit DQT) must decode BIT-EXACTLY to the reconstruction defined by
    the encoder's quantized coefficients — the decoder and the fixture
    compute dequantize→IDCT→upsample→color through independent code
    paths, so agreement pins both."""
    import __spark_entry__ as em
    from slower_whisper_spark.operators.jpeg import decode_jpeg_pixels

    rows = em._jpeg_fixture()
    assert len(rows) == 6
    for r in rows:
        px = decode_jpeg_pixels(r["jpg"])
        assert px is not None, r["img_id"]
        assert px.shape == r["expected"].shape, r["img_id"]
        assert (px == r["expected"]).all(), r["img_id"]
        assert round(float(px.mean()), 6) == r["mean_px"]


def test_jpeg_rejects_unsupported_variants():
    """Progressive (SOF2), missing frames, and truncated entropy streams
    must reject → None (hash fallback), never raise."""
    import __spark_entry__ as em
    from slower_whisper_spark.operators.jpeg import decode_jpeg_pixels

    good = em._jpeg_fixture()[1]["jpg"]
    # flip the SOF0 marker to SOF2 (progressive)
    sof_at = good.find(b"\xff\xc0")
    progressive = good[:sof_at] + b"\xff\xc2" + good[sof_at + 2 :]
    assert decode_jpeg_pixels(progressive) is None
    # truncate mid-entropy-stream
    assert decode_jpeg_pixels(good[: len(good) // 2]) is None
    # not a JPEG at all / bare SOI
    assert decode_jpeg_pixels(b"\x89PNG") is None
    assert decode_jpeg_pixels(b"\xff\xd8\xff\xd9") is None


def test_jpeg_huffman_canonical_table():
    """Canonical table builder: counts [0,1,5,...] yield the spec's
    standard DC-luminance code assignment (len-2 code 0 → sym 0, len-3
    codes 0b010.. → syms 1..5, etc.)."""
    from slower_whisper_spark.operators.jpeg import build_huffman

    counts = bytes([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0])
    symbols = bytes(range(12))
    t = build_huffman(counts, symbols)
    assert t[(2, 0b00)] == 0
    assert t[(3, 0b010)] == 1
    assert t[(3, 0b110)] == 5
    assert t[(4, 0b1110)] == 6
    assert t[(9, 0b111111110)] == 11


def test_jpeg_fill_bytes_before_eoi_decode():
    """0xFF fill bytes the spec permits before a marker must not truncate
    the scan (ADVICE r5 #5): a fixture JPEG with fill padding inserted
    before EOI decodes to the same pixels as the unpadded stream."""
    import __spark_entry__ as em
    from slower_whisper_spark.operators.jpeg import decode_jpeg_pixels

    for r in em._jpeg_fixture():
        jpg = r["jpg"]
        assert jpg.endswith(b"\xff\xd9"), r["img_id"]
        padded = jpg[:-2] + b"\xff\xff\xff" + b"\xff\xd9"
        px = decode_jpeg_pixels(padded)
        assert px is not None, r["img_id"]
        assert (px == r["expected"]).all(), r["img_id"]
