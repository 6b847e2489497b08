"""Audio feature extraction on REAL decoded PCM — the audio analogue
of the image pHash/feature stack.

PCM WAV decodes library-free (the RIFF layout is plain bytes + numpy
frombuffer); features come from one windowed rFFT: spectral centroid,
85% rolloff, bandwidth, plus time-domain RMS and zero-crossing rate.
These are the standard audio-quality / content features a multimodal
training pipeline filters and clusters on.

Honesty boundary (matches ``multimodal``): non-PCM/undecodable bytes
raise ValueError — ``extract_audio_features`` surfaces them as nulls,
nothing is faked.

Scale: per-row Arrow-batched ``rowmap.map_rows`` (no shuffle); the FFT is
bounded at ``_MAX_SAMPLES`` so one pathological hour-long file can't
blow a task's memory — the analysis window is the first ~1.5 s, which
is the standard fingerprint/QC window, not a truncation surprise
(documented contract).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from ..rowmap import map_rows

_MAX_SAMPLES = 65536
_ROLLOFF = 0.85

AUDIO_FEATURE_SCHEMA = (
    "path string, duration_ms long, sample_rate long, rms double, "
    "zero_crossing_rate double, spectral_centroid_hz double, "
    "spectral_rolloff_hz double, spectral_bandwidth_hz double"
)
_FEATURES = (
    "duration_ms",
    "sample_rate",
    "rms",
    "zero_crossing_rate",
    "spectral_centroid_hz",
    "spectral_rolloff_hz",
    "spectral_bandwidth_hz",
)


def decode_pcm(content: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM (8/16-bit) -> (mono float64 samples, rate).
    Raises ValueError for non-WAV or non-PCM bytes."""
    b = content or b""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("audiofeat: not a RIFF/WAVE stream")
    i, rate, channels, bits, fmt, data = 12, None, None, None, None, None
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        clen = int.from_bytes(b[i + 4 : i + 8], "little")
        if cid == b"fmt " and clen >= 16 and i + 24 <= len(b):
            fmt = int.from_bytes(b[i + 8 : i + 10], "little")
            channels = int.from_bytes(b[i + 10 : i + 12], "little")
            rate = int.from_bytes(b[i + 12 : i + 16], "little")
            bits = int.from_bytes(b[i + 22 : i + 24], "little")
        elif cid == b"data":
            data = b[i + 8 : i + 8 + clen]
        i += 8 + clen + (clen % 2)
    if fmt != 1 or not (rate and channels) or bits not in (8, 16) or data is None:
        raise ValueError("audiofeat: only PCM 8/16-bit WAV decodes")
    if bits == 16:
        s = np.frombuffer(
            data[: len(data) - (len(data) % 2)], dtype="<i2"
        ).astype(np.float64)
    else:
        s = np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0
    n_frames = len(s) // channels
    mono = s[: n_frames * channels].reshape(-1, channels).mean(axis=1)
    return mono, rate


def audio_features(content: bytes) -> dict:
    """Time + spectral features of a PCM WAV. The spectrum is one
    Hann-windowed rFFT over the first ``_MAX_SAMPLES`` samples
    (bounded-memory analysis window); centroid/rolloff/bandwidth are
    magnitude-weighted, reported in Hz."""
    mono, rate = decode_pcm(content)
    n = len(mono)
    duration_ms = int(n * 1000 // rate) if rate else 0
    if n == 0:
        return {
            "duration_ms": 0,
            "sample_rate": rate,
            "rms": 0.0,
            "zero_crossing_rate": 0.0,
            "spectral_centroid_hz": None,
            "spectral_rolloff_hz": None,
            "spectral_bandwidth_hz": None,
        }
    rms = float(np.sqrt(np.mean(mono**2)))
    signs = np.signbit(mono)
    zcr = float(np.count_nonzero(signs[1:] != signs[:-1]) / max(n - 1, 1))
    win = mono[:_MAX_SAMPLES]
    mag = np.abs(np.fft.rfft(win * np.hanning(len(win))))
    freqs = np.fft.rfftfreq(len(win), d=1.0 / rate)
    total = float(mag.sum())
    if total <= 0:
        centroid = rolloff = bandwidth = None
    else:
        centroid = float((freqs * mag).sum() / total)
        cum = np.cumsum(mag)
        rolloff = float(freqs[int(np.searchsorted(cum, _ROLLOFF * total))])
        bandwidth = float(
            np.sqrt(((freqs - centroid) ** 2 * mag).sum() / total)
        )
    r4 = lambda x: None if x is None else round(x, 4)  # noqa: E731
    return {
        "duration_ms": duration_ms,
        "sample_rate": rate,
        "rms": round(rms, 4),
        "zero_crossing_rate": round(zcr, 6),
        "spectral_centroid_hz": r4(centroid),
        "spectral_rolloff_hz": r4(rolloff),
        "spectral_bandwidth_hz": r4(bandwidth),
    }


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Per-row audio features through ``rowmap.map_rows`` — constant
    memory per task; undecodable rows yield null feature columns
    (log-and-continue), never task failures."""

    def _row(r):
        try:
            feats = audio_features(bytes(r["content"]))
        except Exception:  # noqa: BLE001 - log-and-continue
            feats = {}
        yield (r["path"], *map(feats.get, _FEATURES))

    return map_rows(
        media.select("path", "content"), _row, AUDIO_FEATURE_SCHEMA
    )


__all__ = [
    "AUDIO_FEATURE_SCHEMA",
    "decode_pcm",
    "audio_features",
    "extract_audio_features",
]
