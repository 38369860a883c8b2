"""Multimodal (image) payload decoding with stdlib + numpy only.

The container has no media libraries, so these parse real container bytes
directly:

* ``parse_media_header`` — media type, format, dimensions and duration from
  the actual headers: PNG IHDR, JPEG SOF marker scan, GIF logical-screen
  descriptor, BMP BITMAPINFOHEADER, WAV RIFF fmt/data chunks. The ingest
  probe (``sources/ingest.py``) runs it on every payload that passes its
  SQL tier.
* ``decode_png_pixels`` — full PNG pixel decode (zlib + per-spec
  un-filtering).
* ``decode_gif_pixels`` — full GIF pixel decode (pure-Python LZW).

Baseline JPEG pixel decode (Huffman + IDCT) lives in ``operators/jpeg.py``.
The decode queries in ``__spark_entry__.py`` run these inside Arrow-batched
``mapInPandas`` functions, so a codec library would replace one function each.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np


# --------------------------------------------------------------------- #
# real (stdlib) container-header parsers
# --------------------------------------------------------------------- #
def parse_media_header(b: bytes) -> dict:
    """Real header decode for PNG / JPEG / GIF / BMP / WAV: media type,
    format, dimensions, duration — from the actual byte layout, no codec
    libraries. Unknown payloads → format='bin' with size only."""
    out = {
        "media_type": "binary", "format": "bin", "n_bytes": len(b),
        "width": None, "height": None, "duration_sec": None,
        "sha256": hashlib.sha256(b).hexdigest(),
    }
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
            # IHDR is always the first chunk: width/height big-endian at 16/20
            w, h = struct.unpack(">II", b[16:24])
            out.update(media_type="image", format="png", width=w, height=h)
        elif b[:2] == b"\xff\xd8":
            out.update(media_type="image", format="jpeg")
            i = 2
            while i + 9 < len(b):  # marker scan for a Start-Of-Frame segment
                if b[i] != 0xFF:
                    i += 1
                    continue
                marker = b[i + 1]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                    out.update(width=w, height=h)
                    break
                seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
                i += 2 + seg_len
        elif b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
            w, h = struct.unpack("<HH", b[6:10])
            out.update(media_type="image", format="gif", width=w, height=h)
        elif b[:2] == b"BM" and len(b) >= 26:
            w, h = struct.unpack("<ii", b[18:26])
            out.update(media_type="image", format="bmp", width=w, height=abs(h))
        elif b[:4] == b"RIFF" and b[8:12] == b"AVI ":
            from slower_whisper_spark.operators.video import parse_avi_mjpeg

            out.update(media_type="video", format="avi")
            avi = parse_avi_mjpeg(b)
            if avi is not None:
                out.update(
                    width=avi["width"] or None,
                    height=avi["height"] or None,
                    duration_sec=avi["total_frames"] * avi["us_per_frame"] / 1e6,
                )
        elif b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            i = 12
            rate = block_align = data_size = None
            while i + 8 <= len(b):
                cid, csz = b[i : i + 4], struct.unpack("<I", b[i + 4 : i + 8])[0]
                if cid == b"fmt " and i + 24 <= len(b):
                    _fmt, _ch, rate, _bps, block_align, _bits = struct.unpack(
                        "<HHIIHH", b[i + 8 : i + 24]
                    )
                elif cid == b"data":
                    data_size = csz
                i += 8 + csz + (csz & 1)
            out.update(media_type="audio", format="wav")
            if rate and block_align and data_size is not None:
                out.update(duration_sec=data_size / (rate * block_align))
    except (struct.error, IndexError):  # truncated container: keep what we have
        pass
    return out


# Adam7 pass grid: (x0, y0, dx, dy) per pass, PNG spec order
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _unfilter_rows(raw: bytes, pos: int, width: int, height: int, bpp: int):
    """Un-filter ``height`` scanlines of ``width`` pixels (``bpp`` FILTER
    bytes each — the spec filters at byte granularity, so a 16-bit RGB
    pixel is bpp=6) starting at raw[pos]. Returns ((height, width*bpp)
    uint8, next pos) or None on truncation/unknown filter.

    Dispatch per filter type on vectorization: None/Up are whole-row numpy
    ops; Sub is a per-byte-lane CUMSUM mod 256 (out[i] = raw[i] + out[i-bpp]
    telescopes to a prefix sum per lane — fully vectorized); Average/Paeth
    remain genuinely sequential (their predictor divides/branches on the
    previous OUTPUT pixel, which doesn't telescope) but loop per PIXEL with
    numpy byte vectors, not per byte."""
    stride = width * bpp
    if len(raw) - pos < height * (stride + 1):
        return None
    out = np.zeros((height, stride), dtype=np.uint8)
    for y in range(height):
        f = raw[pos]
        cur = np.frombuffer(raw[pos + 1 : pos + 1 + stride], dtype=np.uint8).copy()
        pos += 1 + stride
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.uint8)
        if f == 0:
            pass
        elif f == 2:  # Up: fully vectorized (uint8 wraps = mod-256 per spec)
            cur += prev
        elif f == 1:  # Sub: prefix sum per byte lane; cumsum in int64, wrap once
            lanes = cur.reshape(width, bpp).astype(np.int64)
            cur = (np.cumsum(lanes, axis=0) & 0xFF).astype(np.uint8).reshape(stride)
        elif f == 3:  # Average: sequential per pixel, vector per lane
            px = cur.reshape(width, bpp).astype(np.int32)
            pv = prev.reshape(width, bpp).astype(np.int32)
            a = np.zeros(bpp, dtype=np.int32)
            for x in range(width):
                a = (px[x] + ((a + pv[x]) >> 1)) & 0xFF
                px[x] = a
            cur = px.astype(np.uint8).reshape(stride)
        elif f == 4:  # Paeth: sequential per pixel, vector per lane
            px = cur.reshape(width, bpp).astype(np.int32)
            pv = prev.reshape(width, bpp).astype(np.int32)
            a = np.zeros(bpp, dtype=np.int32)
            c = np.zeros(bpp, dtype=np.int32)
            for x in range(width):
                bb = pv[x]
                p = a + bb - c
                pa, pb, pc = np.abs(p - a), np.abs(p - bb), np.abs(p - c)
                pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, bb, c))
                a = (px[x] + pred) & 0xFF
                px[x] = a
                c = bb
            cur = px.astype(np.uint8).reshape(stride)
        else:
            return None
        out[y] = cur
    return out, pos


def _unpack_subbyte(rows: np.ndarray, w: int, depth: int) -> np.ndarray:
    """Unpack sub-8-bit samples (MSB-first within each byte, per spec) from
    un-filtered packed scanlines: (h, row_bytes) uint8 → (h, w) uint8
    sample values. One broadcasted shift-and-mask — fully vectorized."""
    per = 8 // depth
    shifts = (np.arange(per - 1, -1, -1) * depth).astype(np.uint8)
    vals = (rows[:, :, None] >> shifts) & ((1 << depth) - 1)
    return vals.reshape(rows.shape[0], -1)[:, :w].astype(np.uint8)


def decode_png_pixels(b: bytes) -> np.ndarray | None:
    """REAL PNG pixel decode with nothing but stdlib zlib + numpy: IDAT
    chunks concatenate to one zlib stream; scanlines un-filter per the PNG
    spec (filter types 0 None / 1 Sub / 2 Up / 3 Average / 4 Paeth —
    see _unfilter_rows for the vectorization per type).

    Supports the web cases that need no codec library: 8-bit gray /
    gray+alpha / RGB / RGBA (color types 0/4/2/6), PALETTE (color type 3:
    the index plane un-filters as a 1-byte-per-pixel image and the PLTE
    table expands it with one numpy ``take`` to RGB; tRNS transparency is
    ignored — indices expand to their opaque RGB entries), 16-BIT samples
    (filtering happens at byte granularity with bpp = 2×channels; samples
    downscale to 8-bit by their high byte, exactly val >> 8), and ADAM7
    interlacing (seven independently-filtered sub-images scattered back on
    the pass grid with strided numpy assignment), and SUB-8-BIT packed
    depths (1/2/4, gray or palette per spec: samples unpack MSB-first via
    one broadcasted shift-and-mask; gray levels scale to 8-bit by the
    exact 255/(2^d−1) factor, palette indices feed the same PLTE take).
    Returns (height, width, channels) uint8. A production pipeline swaps
    in a codec library behind the same decoder tier."""
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    try:
        w, h = struct.unpack(">II", b[16:24])
        depth, ctype, interlace = b[24], b[25], b[28]
        # color type 3 (palette): scanlines carry 1-byte indices; the
        # filter bpp for palette images is 1 per spec, so the un-filter
        # loop works unchanged on the index plane
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
        packed = depth in (1, 2, 4)
        if (
            depth not in (1, 2, 4, 8, 16)
            or (packed and ctype not in (0, 3))  # sub-8-bit: gray/palette only
            or (depth == 16 and ctype == 3)  # no 16-bit palette in the spec
            or interlace not in (0, 1)
            or channels is None
            or not w
            or not h
        ):
            return None
        # chunk walk: concatenate every IDAT payload (+ grab PLTE/tRNS)
        idat, plte, trns, i = [], None, None, 8
        while i + 8 <= len(b):
            clen = struct.unpack(">I", b[i : i + 4])[0]
            cid = b[i + 4 : i + 8]
            if cid == b"IDAT":
                idat.append(b[i + 8 : i + 8 + clen])
            elif cid == b"PLTE":
                plte = b[i + 8 : i + 8 + clen]
            elif cid == b"tRNS":
                trns = b[i + 8 : i + 8 + clen]
            if cid == b"IEND":
                break
            i += 12 + clen  # len + type + data + crc
        raw = zlib.decompress(b"".join(idat))
        if ctype == 3 and (plte is None or len(plte) % 3 or not len(plte)):
            return None
    except (struct.error, IndexError, zlib.error):
        return None
    # packed depths filter at byte granularity with bpp=1 (the spec's
    # bpp = ceil(depth*channels/8)); scanlines hold ceil(w*depth/8) bytes
    # that unpack to w samples after un-filtering
    bpp = 1 if packed else channels * (2 if depth == 16 else 1)
    if interlace == 0:
        nb = (w * depth + 7) // 8 if packed else w
        res = _unfilter_rows(raw, 0, nb, h, bpp)
        if res is None:
            return None
        out = _unpack_subbyte(res[0], w, depth) if packed else res[0]
    else:
        # Adam7: each pass is its own sub-image with its own scanlines and
        # filter history (packed passes pack per-PASS row bytes); decoded
        # pixels scatter back via strided indexing
        img = np.zeros((h, w, bpp), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:  # pass empty at this image size
                continue
            nb = (pw * depth + 7) // 8 if packed else pw
            res = _unfilter_rows(raw, pos, nb, ph, bpp)
            if res is None:
                return None
            sub, pos = res
            if packed:
                sub = _unpack_subbyte(sub, pw, depth)
            img[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
        out = img.reshape(h, w * bpp)
    if ctype == 3:
        # palette expansion: one vectorized take on the un-filtered index
        # plane; out-of-range indices clamp (decoders commonly tolerate).
        # A tRNS chunk adds per-index alpha (entries beyond the table are
        # opaque 255 per spec) -> RGBA; without tRNS the result stays RGB.
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = np.minimum(out.reshape(h, w), len(pal) - 1)
        if trns is not None and len(trns):
            alpha = np.full(len(pal), 255, dtype=np.uint8)
            a = np.frombuffer(trns[: len(pal)], dtype=np.uint8)
            alpha[: len(a)] = a
            return np.dstack([pal[idx], alpha[idx]])  # (h, w, 4) uint8
        return pal[idx]  # (h, w, 3) uint8
    if packed:
        # sub-8-bit grayscale: scale to full range by exactly 255/(2^d−1)
        # (an integer: 255, 85, or 17 — max sample lands on 255, no overflow)
        return (out.reshape(h, w, 1) * (255 // ((1 << depth) - 1))).astype(np.uint8)
    if depth == 16:
        # big-endian sample pairs → high byte (exactly val >> 8)
        return np.ascontiguousarray(out.reshape(h, w, channels, 2)[..., 0])
    return out.reshape(h, w, channels)


def _gif_lzw_decode(data: bytes, mcs: int) -> bytearray | None:
    """GIF-variant LZW decode (pure stdlib): LSB-first bit packing, CLEAR /
    EOI codes at 2^mcs / 2^mcs+1, code width grows from mcs+1 up to the
    12-bit cap when the next free slot reaches 2^width (the timing that
    keeps encoder and decoder in sync — see test worked example), table
    frozen at 4096 entries until a CLEAR. Returns decoded index bytes, or
    None on a corrupt stream (non-literal first code, out-of-range code)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1

    def fresh():
        return [bytes([i]) for i in range(clear)] + [b"", b""], mcs + 1

    table, width = fresh()
    out = bytearray()
    prev = None
    acc = bits = 0
    for byte in data:
        acc |= byte << bits
        bits += 8
        while bits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            bits -= width
            if code == clear:
                table, width = fresh()
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                if code >= clear:  # first code after clear must be a literal
                    return None
                prev = table[code]
                out += prev
                continue
            if code < len(table):
                entry = table[code]
            elif code == len(table):  # the KwKwK special case
                entry = prev + prev[:1]
            else:
                return None
            out += entry
            if len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
            prev = entry
    return out


# GIF interlace pass row strides: (start_row, step) in pass order
_GIF_INTERLACE = [(0, 8), (4, 8), (2, 4), (1, 2)]


def decode_gif_pixels(b: bytes) -> np.ndarray | None:
    """REAL GIF pixel decode with nothing but stdlib + numpy: LZW
    decompression (see _gif_lzw_decode), global/local color table, the
    4-pass row interlace, and GIF89a transparency (a Graphic Control
    Extension's transparent index → RGBA with alpha 0 at that index,
    mirroring the PNG tRNS contract; otherwise RGB). Decodes the FIRST
    image descriptor (for animations that is frame 1 — the common
    training-data case) cropped/placed on the logical screen is NOT
    simulated: the frame's own (w, h) is returned. Returns
    (height, width, 3|4) uint8 or None on corrupt/truncated input."""
    if b[:6] not in (b"GIF87a", b"GIF89a") or len(b) < 13:
        return None
    try:
        flags = b[10]
        gct = None
        i = 13
        if flags & 0x80:  # global color table: 3 * 2^(N+1) bytes
            n = 2 << (flags & 0x07)
            gct = np.frombuffer(b[i : i + 3 * n], dtype=np.uint8).reshape(-1, 3)
            i += 3 * n
        transparent = None
        while i < len(b):
            marker = b[i]
            if marker == 0x3B:  # trailer
                return None
            if marker == 0x21:  # extension: label + sub-blocks
                label = b[i + 1]
                j = i + 2
                if label == 0xF9 and b[j] >= 4 and (b[j + 1] & 0x01):
                    transparent = b[j + 4]  # GCE with transparency flag
                while b[j]:  # skip sub-blocks to the 0 terminator
                    j += 1 + b[j]
                i = j + 1
                continue
            if marker != 0x2C:  # not an image descriptor → corrupt
                return None
            w, h = struct.unpack("<HH", b[i + 5 : i + 9])
            iflags = b[i + 9]
            i += 10
            pal = gct
            if iflags & 0x80:  # local color table overrides
                n = 2 << (iflags & 0x07)
                pal = np.frombuffer(b[i : i + 3 * n], dtype=np.uint8).reshape(-1, 3)
                i += 3 * n
            if pal is None or not w or not h:
                return None
            mcs = b[i]
            i += 1
            parts = []
            while i < len(b) and b[i]:  # data sub-blocks
                parts.append(b[i + 1 : i + 1 + b[i]])
                i += 1 + b[i]
            idx_bytes = _gif_lzw_decode(b"".join(parts), mcs)
            if idx_bytes is None or len(idx_bytes) < w * h:
                return None
            idx = np.frombuffer(bytes(idx_bytes[: w * h]), dtype=np.uint8).reshape(h, w)
            if iflags & 0x40:  # interlaced: rows arrive in 4 passes
                deinter = np.zeros_like(idx)
                src = 0
                for start, step in _GIF_INTERLACE:
                    n_rows = len(range(start, h, step))
                    deinter[start::step] = idx[src : src + n_rows]
                    src += n_rows
                idx = deinter
            idx = np.minimum(idx, len(pal) - 1)
            if transparent is not None:
                alpha = np.full(len(pal), 255, dtype=np.uint8)
                if transparent < len(pal):
                    alpha[transparent] = 0
                return np.dstack([pal[idx], alpha[idx]])  # (h, w, 4)
            return pal[idx]  # (h, w, 3)
        return None
    except (struct.error, IndexError):
        return None
