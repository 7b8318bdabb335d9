"""From-scratch RIFF/WAVE PCM codec + audio feature kernel.

The task brief's multimodal tier names image/AUDIO/video as opaque
binary columns with typed metadata. Unlike compressed audio (which
would need an absent external library), linear PCM in a RIFF/WAVE
container is pure struct + numpy — so the audio path here is REAL
end-to-end: ``encode_wav``/``decode_wav`` round-trip 8-bit unsigned
and 16-bit signed PCM, mono or multi-channel, and ``wav_features`` is
the single kernel both the distributed operator
(operators/multimodal.audio_features) and the single-process oracle
(scripts/gen_expected.py) call — same bytes, same numpy ops, so the
driver's value-hash comparison holds bit-exactly.

The reference wrapper has no audio surface (it is an OCR wrapper);
this module exists for the training-data-pipeline tier of the north
rule, alongside dedup/quality/multimodal image ops.
"""

from __future__ import annotations

import struct

import numpy as np

from .codecs_img import _unpack


def encode_wav(samples: np.ndarray, sample_rate: int,
               bits: int = 16) -> bytes:
    """Canonical 44-byte-header RIFF/WAVE, linear PCM little-endian.
    `samples` is int16 (n,) mono or (n, channels); bits=8 stores
    unsigned 8-bit (the int16 high byte + 128), bits=16 stores int16."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    if bits == 16:
        frames = samples.astype("<i2").tobytes()
    elif bits == 8:
        frames = ((samples.astype(np.int32) >> 8) + 128).astype(
            np.uint8).tobytes()
    else:
        raise ValueError("WAV encoder supports 8 or 16 bits per sample")
    block = ch * bits // 8
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate,
                      sample_rate * block, block, bits)
    out = bytearray()
    out += b"RIFF" + struct.pack("<I", 36 + len(frames)) + b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(frames)) + frames
    return bytes(out)


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF walk -> (int16 samples (n, channels), sample_rate). Accepts
    any chunk order and extra chunks (LIST/fact/...); PCM format 1
    only, 8-bit unsigned or 16-bit signed."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, frames = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (ln,) = struct.unpack_from("<I", data, pos + 4)
        if pos + 8 + ln > len(data):
            raise ValueError(f"WAV {cid.decode('latin-1')!r} chunk at "
                             f"offset {pos} runs past the "
                             f"{len(data)}-byte payload")
        body = data[pos + 8: pos + 8 + ln]
        pos += 8 + ln + (ln & 1)            # chunks are word-aligned
        if cid == b"fmt ":
            fmt = _unpack("<HHIIHH", body, 0, "WAV fmt chunk")
        elif cid == b"data":
            frames = body
    if fmt is None or frames is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, ch, rate, _bps, _block, bits = fmt
    if audio_format != 1:
        raise NotImplementedError(
            f"WAV format {audio_format} unsupported (PCM=1 only)")
    if bits == 16:
        arr = np.frombuffer(frames, dtype="<i2")
    elif bits == 8:
        arr = ((np.frombuffer(frames, dtype=np.uint8).astype(np.int32)
                - 128) << 8).astype(np.int16)
    else:
        raise NotImplementedError(f"WAV {bits}-bit PCM unsupported")
    if ch < 1:
        raise ValueError("WAV channel count must be >= 1")
    n = arr.size // ch
    return arr[:n * ch].reshape(n, ch), rate


def wav_features(payload: bytes) -> dict:
    """Deterministic signal features over a WAV payload — THE shared
    kernel for the distributed operator and the parquet oracle (float64
    numpy ops in a fixed order, so both sides are bit-identical)."""
    samples, rate = decode_wav(payload)
    mono = samples.astype(np.float64).mean(axis=1) / 32768.0
    n = mono.size
    rms = float(np.sqrt(np.mean(mono * mono))) if n else 0.0
    peak = float(np.abs(mono).max()) if n else 0.0
    signs = mono >= 0.0
    zcr = (float(np.count_nonzero(signs[1:] != signs[:-1]) / (n - 1))
           if n > 1 else 0.0)
    return {
        "n_samples": int(n),
        "channels": int(samples.shape[1]),
        "sample_rate": int(rate),
        "duration_s": float(n / rate) if rate else 0.0,
        "rms": rms,
        "peak": peak,
        "zero_crossing_rate": zcr,
    }
