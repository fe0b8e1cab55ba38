"""Pure-stdlib+numpy PNG codec (RFC 2083 / ISO 15948), no imaging libs.
Standalone: the grouping operator and the gated ``media_digests`` path
(which reads only a SHA-256 and a byte length) do not call it.

Decoder scope: 8-bit-per-sample, color types 0 (gray), 2 (RGB),
3 (palette), 4 (gray+alpha), 6 (RGBA), non-interlaced, all five scanline
filters (None/Sub/Up/Average/Paeth), multi-IDAT. That covers the
overwhelming majority of PNGs in the wild; 16-bit and Adam7 raise
ValueError. Inflate is stdlib zlib; unfiltering is numpy per scanline
('Up' fully vectorized; Sub/Avg/Paeth walk pixels along x — at production
scale you'd swap in libpng, but the semantics here are exact).

Encoder: filter 0 (None) rows + zlib — canonical, deterministic output
for round-trips and test assets.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def parse_png(payload: bytes) -> "np.ndarray":
    """Decode to (h, w, channels) uint8 (palette expanded to RGB)."""
    if payload is None or not payload.startswith(PNG_SIG):
        raise ValueError("not a PNG payload")
    pos = len(PNG_SIG)
    ihdr = None
    idat = bytearray()
    plte = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0 or color not in _CHANNELS:
        raise ValueError(f"unsupported PNG (depth={depth} color={color} interlace={interlace})")
    ch = _CHANNELS[color]
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline data length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1)
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if f == 0:
            out[y] = line
        elif f == 2:  # Up — fully vectorized
            out[y] = line + prev
        elif f in (1, 3, 4):
            cur = out[y]
            row = line.astype(np.int64)
            pv = prev.astype(np.int64)
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                if f == 1:  # Sub
                    cur[x] = (row[x] + a) & 0xFF
                elif f == 3:  # Average
                    cur[x] = (row[x] + (a + int(pv[x])) // 2) & 0xFF
                else:  # Paeth
                    c = int(pv[x - ch]) if x >= ch else 0
                    cur[x] = (row[x] + _paeth(a, int(pv[x]), c)) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {f}")
    img = out.reshape(h, w, ch)
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        img = plte[img[:, :, 0]]
    return img


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(arr: "np.ndarray") -> bytes:
    """(h, w) or (h, w, {1,2,3,4}) uint8 → non-interlaced 8-bit PNG with
    filter-None rows (deterministic)."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    body = arr.astype(np.uint8).reshape(h, w * ch)
    raw = b"".join(b"\x00" + body[y].tobytes() for y in range(h))
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )
