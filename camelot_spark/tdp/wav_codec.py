"""Pure-stdlib WAV/PCM codec — the audio analogue of ``png_codec``:
RIFF/WAVE is fully parseable from the public spec with ``struct``
alone, so the audio decode seam executes for real in this
dependency-less sandbox. 16-bit and 8-bit PCM, any channel count;
an encoder for test/bench payload synthesis.

Scale note: decode runs inside Arrow-batched ``mapInArrow`` workers;
numpy handles the sample math.
"""

from __future__ import annotations

import struct

import numpy as np

WAV_MAGIC = b"RIFF"


def decode_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    """WAV bytes → (sample_rate, n_channels, samples) with samples an
    int32 numpy array of interleaved PCM values (16-bit signed or
    8-bit unsigned widened)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        kind = payload[pos:pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + length]
        if kind == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif kind == b"data":
            data = body
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("truncated WAV (missing fmt or data chunk)")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format != 1:
        raise NotImplementedError(f"WAV audio format {audio_format} (only PCM=1)")
    if bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.int32)
    elif bits == 8:
        samples = np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
    else:
        raise NotImplementedError(f"WAV bit depth {bits} (8/16 supported)")
    return sample_rate, n_channels, samples


def encode_wav(samples: np.ndarray, sample_rate: int = 8000, n_channels: int = 1) -> bytes:
    """int16 samples (interleaved) → valid PCM WAV bytes."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, n_channels, sample_rate,
                      sample_rate * n_channels * 2, n_channels * 2, 16)
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks
