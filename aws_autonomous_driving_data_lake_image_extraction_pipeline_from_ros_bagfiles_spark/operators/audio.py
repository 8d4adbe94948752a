"""Multimodal audio columns: WAV codec + feature extraction (the audio
leg of the training-data pipeline's decode / feature-extract stages).

Audio travels like images do (operators/images.py): an opaque ``binary``
column plus typed metadata. The WAV (RIFF PCM) container is pure-stdlib
parseable — like PNG in functions/png.py, no codec library needed — so
decode here is REAL, not a stub:

- :func:`encode_wav` / :func:`decode_wav` — 16-bit PCM WAV bytes <->
  (samples, sample_rate, n_channels)
- :func:`decode_audio` — mapInPandas: wav binary column -> typed rows
  (sample_rate, n_channels, n_samples, duration_s) + raw PCM
- :func:`audio_features` — mapInPandas: frame-level RMS energy +
  zero-crossing-rate over fixed-size windows (numpy, vectorized) — the
  classic cheap features a curation pipeline filters on (silence /
  clipping / speech-likeness proxies)
- :func:`resample_nearest` — nearest-neighbor resample to a target rate
  (the audio analog of images.resize_shorter_edge)

Lossy codecs (mp3/aac/opus) need a codec library that must be
downloaded; once installed, a decoder slots in with
:func:`decode_audio`'s contract (same schema, same mapInPandas batch
shape).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

DECODED_AUDIO_SCHEMA = (
    "clip_id bigint, sample_rate int, n_channels int, n_samples bigint, "
    "duration_s double, pcm binary"
)


def encode_wav(samples: np.ndarray, sample_rate: int, n_channels: int = 1) -> bytes:
    """int16 PCM samples (interleaved if multi-channel) -> WAV bytes."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    byte_rate = sample_rate * n_channels * 2
    fmt = struct.pack("<HHIIHH", 1, n_channels, sample_rate, byte_rate, n_channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple[np.ndarray, int, int]:
    """WAV bytes -> (int16 samples interleaved, sample_rate, n_channels).
    PCM 16-bit only (what :func:`encode_wav` and recorders emit)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE header")
    pos, sample_rate, n_channels, bits = 12, None, None, None
    pcm = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (length,) = struct.unpack_from("<I", data, pos + 4)
        payload = data[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # chunks are word-aligned
        if tag == b"fmt ":
            fmt_code, n_channels, sample_rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", payload
            )
            if fmt_code != 1 or bits != 16:
                raise ValueError(f"unsupported WAV: fmt={fmt_code} bits={bits} (PCM16 only)")
        elif tag == b"data":
            pcm = payload
    if sample_rate is None or pcm is None:
        raise ValueError("WAV missing fmt or data chunk")
    return np.frombuffer(pcm, dtype="<i2"), sample_rate, n_channels


def decode_audio(clips: DataFrame, wav_col: str = "wav", id_col: str = "clip_id") -> DataFrame:
    """wav binary column -> typed audio rows (multimodal decode stage)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"clip_id": [], "sample_rate": [], "n_channels": [],
                   "n_samples": [], "duration_s": [], "pcm": []}
            for cid, wav in zip(pdf[id_col], pdf[wav_col]):
                samples, rate, ch = decode_wav(bytes(wav))
                n = len(samples) // ch
                out["clip_id"].append(cid)
                out["sample_rate"].append(rate)
                out["n_channels"].append(ch)
                out["n_samples"].append(n)
                out["duration_s"].append(n / rate)
                out["pcm"].append(samples.tobytes())
            yield pd.DataFrame(out)

    return clips.mapInPandas(run, schema=DECODED_AUDIO_SCHEMA)


def audio_features(
    decoded: DataFrame, frame_len: int = 1024
) -> DataFrame:
    """Frame-level RMS energy + zero-crossing rate over fixed windows.
    One output row per (clip, frame); all math vectorized numpy.

    A clip shorter than ``frame_len`` yields ZERO rows (the tail below a
    full window is dropped, same as the last partial frame of any clip)
    — a curation pass that must classify every clip should left-join the
    features back to the clip table, not inner-join, or short clips
    silently vanish from the verdict."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"clip_id": [], "frame_idx": [], "rms": [], "zcr": []}
            for cid, pcm, ch in zip(pdf["clip_id"], pdf["pcm"], pdf["n_channels"]):
                mono = np.frombuffer(pcm, dtype="<i2").astype(np.float64)
                if ch > 1:
                    mono = mono.reshape(-1, ch).mean(axis=1)
                n_frames = len(mono) // frame_len
                if n_frames == 0:
                    continue
                frames = mono[: n_frames * frame_len].reshape(n_frames, frame_len)
                rms = np.sqrt((frames**2).mean(axis=1))
                zc = (np.diff(np.signbit(frames), axis=1) != 0).sum(axis=1) / (frame_len - 1)
                out["clip_id"].extend([cid] * n_frames)
                out["frame_idx"].extend(range(n_frames))
                out["rms"].extend(rms)
                out["zcr"].extend(zc)
            yield pd.DataFrame(out)

    return decoded.mapInPandas(
        run, schema="clip_id bigint, frame_idx int, rms double, zcr double"
    )


def resample_nearest(decoded: DataFrame, target_rate: int) -> DataFrame:
    """Nearest-neighbor resample each clip's PCM to ``target_rate`` —
    the audio analog of resize_shorter_edge (mono assumed post-mixdown)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"clip_id": [], "sample_rate": [], "n_channels": [],
                    "n_samples": [], "duration_s": [], "pcm": []}
            for cid, pcm, rate, ch in zip(
                pdf["clip_id"], pdf["pcm"], pdf["sample_rate"], pdf["n_channels"]
            ):
                samples = np.frombuffer(pcm, dtype="<i2")
                if ch > 1:
                    samples = samples.reshape(-1, ch)
                n = samples.shape[0]
                if n == 0:
                    # empty data chunk (valid WAV): emit an empty clip —
                    # the old max(1, m) path indexed samples[-1] on a
                    # 0-row array and crashed the stage (r7 review)
                    m, res = 0, samples
                else:
                    m = max(1, round(n * target_rate / rate))
                    idx = np.minimum(
                        (np.arange(m) * rate // target_rate), n - 1
                    ).astype(int)
                    res = samples[idx]
                rows["clip_id"].append(cid)
                rows["sample_rate"].append(target_rate)
                rows["n_channels"].append(ch)
                rows["n_samples"].append(m)
                rows["duration_s"].append(m / target_rate)
                rows["pcm"].append(np.ascontiguousarray(res, dtype="<i2").tobytes())
            yield pd.DataFrame(rows)

    return decoded.mapInPandas(run, schema=DECODED_AUDIO_SCHEMA)
