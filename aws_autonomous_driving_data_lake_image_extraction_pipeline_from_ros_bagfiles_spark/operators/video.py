"""Multimodal video columns: frame sampling over packed binary video
(the video leg of the training-data pipeline's decode / frame-sample
stages; reference K3 renders mp4 via ffmpeg, main.py:47-66).

A video travels as one opaque ``binary`` column + typed metadata, like
images and audio. Real codec containers (mp4/h264) need ffmpeg/pyav,
which must be downloaded, so the plumbing is proven on a raw packed
container (header + concatenated RGB frames — what a decode-to-raw stage
would hand downstream anyway). An mp4 decoder, once installed, slots in
with :func:`sample_frames`'s contract (same output schema and Arrow
batch shape); nothing downstream changes:

- :func:`encode_rawv` / :func:`decode_rawv_header` — pack/unpack the
  deterministic raw container (magic, n_frames, w, h, fps + planes)
- :func:`sample_frames` — mapInPandas: video binary -> one row per
  SAMPLED frame (every Nth, or k uniformly spaced), emitting the same
  (pixels, img_width, img_height) shape images.py transforms consume —
  sampled frames feed straight into resize/blur/encode_frames_png

Scale note: sampling happens INSIDE the Arrow batch before anything is
materialized — a 30 fps clip sampled at k=8 ships 8 frames out of the
Python worker, not 30*duration. The alternative (explode all frames,
filter) would shuffle the full pixel volume; don't.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

_MAGIC = b"RAWV"

SAMPLED_FRAME_SCHEMA = (
    "video_id bigint, frame_idx int, ts_offset_s double, "
    "img_width int, img_height int, pixels binary"
)


def encode_rawv(frames: np.ndarray, fps: float = 30.0) -> bytes:
    """(n, h, w, 3) uint8 frame stack -> packed raw video bytes."""
    n, h, w, c = frames.shape
    if c != 3:
        raise ValueError(f"RGB frames required, got {c} channels")
    return _MAGIC + struct.pack("<IIId", n, w, h, fps) + np.ascontiguousarray(
        frames, dtype=np.uint8
    ).tobytes()


def decode_rawv_header(data: bytes) -> tuple[int, int, int, float]:
    """-> (n_frames, width, height, fps); validates magic + length."""
    if data[:4] != _MAGIC:
        raise ValueError("not a RAWV container: bad magic")
    n, w, h, fps = struct.unpack_from("<IIId", data, 4)
    expected = 4 + struct.calcsize("<IIId") + n * w * h * 3
    if len(data) < expected:
        raise ValueError(f"RAWV truncated: {len(data)} bytes < {expected}")
    return n, w, h, fps


def _frame(data: bytes, idx: int, w: int, h: int) -> bytes:
    off = 4 + struct.calcsize("<IIId") + idx * w * h * 3
    return data[off : off + w * h * 3]


def sample_frames(
    videos: DataFrame,
    every_n: int | None = None,
    k_uniform: int | None = None,
    video_col: str = "video",
    id_col: str = "video_id",
) -> DataFrame:
    """One row per sampled frame. Exactly one of ``every_n`` (stride
    sampling) / ``k_uniform`` (k evenly spaced frames, first and last
    included) must be given."""
    if (every_n is None) == (k_uniform is None):
        raise ValueError("pass exactly one of every_n / k_uniform")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"video_id": [], "frame_idx": [], "ts_offset_s": [],
                   "img_width": [], "img_height": [], "pixels": []}
            for vid, data in zip(pdf[id_col], pdf[video_col]):
                data = bytes(data)
                n, w, h, fps = decode_rawv_header(data)
                if every_n is not None:
                    idxs = range(0, n, every_n)
                else:
                    idxs = sorted(set(
                        int(round(i)) for i in np.linspace(0, n - 1, min(k_uniform, n))
                    ))
                for i in idxs:
                    out["video_id"].append(vid)
                    out["frame_idx"].append(i)
                    out["ts_offset_s"].append(i / fps)
                    out["img_width"].append(w)
                    out["img_height"].append(h)
                    out["pixels"].append(_frame(data, i, w, h))
            yield pd.DataFrame(out)

    return videos.mapInPandas(run, schema=SAMPLED_FRAME_SCHEMA)
