"""Pure-stdlib+numpy WAV (RIFF/WAVE) codec — PCM 8/16/32-bit int and
32/64-bit IEEE float, any channel count. Standalone: the grouping operator
and the gated ``media_digests`` path do not call it. Lossy codecs
(mp3/ogg/aac) are out of scope (they need real decoder libs).
"""

from __future__ import annotations

import struct

import numpy as np


def parse_wav(payload: bytes) -> tuple["np.ndarray", int]:
    """Decode to (n_samples, n_channels) float64 in [-1, 1] + sample rate.
    Walks RIFF chunks (fmt before data, extra chunks skipped); raises
    ValueError for non-PCM/float encodings.
    """
    if (
        payload is None
        or len(payload) < 44
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WAVE"
    ):
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
            if fmt is not None:
                break
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, n_ch, rate, _, _, bits = fmt
    if audio_fmt == 0xFFFE and len(data) >= 0:  # WAVE_FORMAT_EXTENSIBLE
        raise ValueError("extensible WAV not supported")
    if audio_fmt == 1:  # integer PCM
        if bits == 8:
            x = np.frombuffer(data, dtype=np.uint8).astype(np.float64)
            x = (x - 128.0) / 128.0
        elif bits == 16:
            x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
        elif bits == 32:
            x = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
        else:
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif audio_fmt == 3:  # IEEE float
        x = np.frombuffer(data, dtype="<f4" if bits == 32 else "<f8").astype(np.float64)
    else:
        raise ValueError(f"unsupported WAV format code {audio_fmt}")
    n = (len(x) // n_ch) * n_ch
    return x[:n].reshape(-1, n_ch), rate


def encode_wav(samples: "np.ndarray", rate: int = 16000) -> bytes:
    """(n,) or (n, ch) float in [-1, 1] → 16-bit PCM WAV (deterministic)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    pcm = np.clip(np.round(samples * 32767.0), -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
