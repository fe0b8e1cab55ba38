"""Pure-numpy PNG and WAV codecs (operators/png.py, operators/wav.py).
Ground truth: forward-filtered scanlines built independently in the test
must invert exactly; WAV PCM round-trips within quantization."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from graph_stream_zoomer_spark.operators.png import (
    PNG_SIG,
    _chunk,
    _paeth,
    encode_png,
    parse_png,
)
from graph_stream_zoomer_spark.operators.wav import encode_wav, parse_wav


def _img(h, w, ch, seed=0):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8)


def _forward_filtered_png(arr: np.ndarray, ftype: int) -> bytes:
    """Independently forward-filter every scanline with ``ftype`` and
    assemble a PNG — the decoder must invert it bit-exactly."""
    h, w, ch = arr.shape
    stride = w * ch
    flat = arr.reshape(h, stride).astype(np.int64)
    raw = bytearray()
    for y in range(h):
        row = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.int64)
        out = np.zeros(stride, dtype=np.uint8)
        for x in range(stride):
            a = int(row[x - ch]) if x >= ch else 0
            b = int(prev[x])
            c = int(prev[x - ch]) if x >= ch else 0
            pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2, 4: _paeth(a, b, c)}[ftype]
            out[x] = (int(row[x]) - pred) & 0xFF
        raw += bytes([ftype]) + out.tobytes()
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ch", [1, 2, 3, 4])
def test_png_roundtrip_all_color_types(ch):
    arr = _img(9, 7, ch, seed=ch)
    assert (parse_png(encode_png(arr)) == arr).all()


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_inverts_every_scanline_filter(ftype):
    arr = _img(8, 6, 3, seed=42 + ftype)
    assert (parse_png(_forward_filtered_png(arr, ftype)) == arr).all()


def test_png_palette_expansion():
    plte = _img(1, 5, 3, seed=7).reshape(5, 3)  # 5-color palette
    idx = np.array([[0, 1, 2], [3, 4, 0]], dtype=np.uint8)
    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    png = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", plte.tobytes())
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    assert (parse_png(png) == plte[idx]).all()


def test_png_rejects_unsupported():
    with pytest.raises(ValueError):
        parse_png(b"not a png")
    # 16-bit depth
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    png = PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", zlib.compress(b"")) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        parse_png(png)


def test_wav_roundtrip_and_formats():
    t = np.linspace(0, 1, 800, endpoint=False)
    stereo = np.stack([np.sin(2 * np.pi * 5 * t), 0.25 * np.cos(2 * np.pi * 3 * t)], axis=1)
    samples, rate = parse_wav(encode_wav(stereo, rate=8000))
    assert rate == 8000 and samples.shape == (800, 2)
    # 16-bit quantization + the 32767-encode/32768-decode scale asymmetry
    assert np.abs(samples - stereo).max() < 1.0 / 16000
    # 32-bit IEEE float data chunk is exact
    f32 = stereo.astype("<f4")
    fmt = struct.pack("<HHIIHH", 3, 2, 8000, 8000 * 8, 8, 32)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + f32.nbytes) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", f32.nbytes) + f32.tobytes()
    )
    s2, _ = parse_wav(wav)
    assert np.array_equal(s2, f32.astype(np.float64))
    with pytest.raises(ValueError):
        parse_wav(b"RIFF\x00\x00\x00\x00JUNK" + b"\x00" * 40)
