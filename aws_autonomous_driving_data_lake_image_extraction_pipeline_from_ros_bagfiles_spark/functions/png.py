"""Pure-stdlib PNG codec (K2 closer — SURVEY §2.2).

The reference writes one PNG per extracted frame with Pillow
(service/app/bagstream.py:246-266). This container has no image
library, but PNG is just zlib (stdlib) over filtered scanlines, so the
codec is implemented directly:

- :func:`encode_png` — 8-bit RGB/RGBA/grayscale pixel buffer -> PNG
  bytes, with the standard per-row adaptive filter heuristic (minimum
  sum of absolute differences over filter types 0-4), vectorized with
  numpy so it stays fast inside Arrow batches.
- :func:`decode_png` — PNG bytes -> (pixels, width, height, channels);
  handles all five filter types, so it round-trips output from any
  conformant encoder, not only ours.

Scale note: the engine's canonical frame layout is still raw pixel
buffers in parquet (no per-frame codec round-trip in every downstream
transform); PNG encode is a *sink* stage, applied once on the way out,
exactly like the reference's final ``cv2.imwrite``.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_COLOR_TYPE = {1: 0, 3: 2, 4: 6}  # channels -> PNG color type


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload))
    )


def _filter_scanlines(arr: np.ndarray, bpp: int) -> bytes:
    """Apply the adaptive filter heuristic: compute all five candidate
    filters for every row at once (vectorized), pick per-row the one with
    the minimal sum of absolute signed byte values (the libpng heuristic)."""
    h, stride = arr.shape
    prev = np.zeros_like(arr)  # b: the row above
    prev[1:] = arr[:-1]
    left = np.zeros_like(arr)  # a
    left[:, bpp:] = arr[:, :-bpp]
    upleft = np.zeros_like(arr)  # c
    upleft[:, bpp:] = prev[:, :-bpp]

    # (5, h, stride); uint8 wraparound = mod-256 per the spec
    cands = np.empty((5, h, stride), np.uint8)
    cands[0] = arr
    np.subtract(arr, left, out=cands[1])
    np.subtract(arr, prev, out=cands[2])
    np.subtract(arr, ((left.astype(np.uint16) + prev) >> 1).astype(np.uint8), out=cands[3])
    # Paeth: with p = a + b - c, |p-a| = |b-c|, |p-b| = |a-c|, |p-c| = |a+b-2c|
    bc = prev.astype(np.int16) - upleft
    ac = left.astype(np.int16) - upleft
    pa, pb, pc = np.abs(bc), np.abs(ac), np.abs(bc + ac)
    paeth = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft))
    np.subtract(arr, paeth, out=cands[4])
    # minimal sum of |signed byte| per row; |signed(c)| = min(c, 256 - c)
    cost = np.minimum(cands, 0 - cands)
    best = cost.sum(axis=2, dtype=np.int64).argmin(axis=0)  # (h,)

    rows = np.empty((h, stride + 1), np.uint8)
    rows[:, 0] = best
    rows[:, 1:] = cands[best, np.arange(h)]
    return rows.tobytes()


def encode_png(pixels: bytes, width: int, height: int, channels: int = 3, level: int = 6) -> bytes:
    """8-bit pixel buffer (row-major, ``channels`` interleaved) -> PNG."""
    if channels not in _COLOR_TYPE:
        raise ValueError(f"channels must be one of {sorted(_COLOR_TYPE)}, got {channels}")
    stride = width * channels
    arr = np.frombuffer(pixels, dtype=np.uint8)
    if arr.size != height * stride:
        # EXACT size required: a short buffer cannot fill the image, and
        # a long one (an rgba buffer fed to a channels=3 call) would be
        # silently truncated into a decodable but channel-scrambled PNG
        # (r7 review)
        raise ValueError(
            f"buffer holds {arr.size} bytes; need exactly {height * stride}"
            f" for {width}x{height}x{channels}"
        )
    arr = arr.reshape(height, stride)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, _COLOR_TYPE[channels], 0, 0, 0)
    idat = zlib.compress(_filter_scanlines(arr, channels), level)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    rows = raw.reshape(h, stride + 1)
    filters, data = rows[:, 0], rows[:, 1:]
    out = np.zeros((h, stride), np.uint8)
    for y in range(h):
        f, row = int(filters[y]), data[y]
        up = out[y - 1] if y else np.zeros(stride, np.uint8)
        if f == 0:
            out[y] = row
        elif f == 1:  # Sub: per-lane cumulative sum mod 256
            lanes = row.reshape(-1, bpp).astype(np.uint64)
            out[y] = (np.cumsum(lanes, axis=0) & 0xFF).astype(np.uint8).reshape(stride)
        elif f == 2:  # Up
            out[y] = row + up
        elif f == 3:  # Average (left-dependent -> pixel loop)
            rec = out[y]
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (int(row[x]) + ((int(left) + int(up[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth (left-dependent -> pixel loop)
            rec = out[y]
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                b = int(up[x])
                c = int(out[y - 1][x - bpp]) if (x >= bpp and y) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f} on row {y}")
    return out


def decode_png(data: bytes) -> tuple[bytes, int, int, int]:
    """PNG bytes -> (pixels, width, height, channels). 8-bit depth,
    color types 0/2/6, no interlace (what :func:`encode_png` emits and
    what frame sinks produce)."""
    if data[:8] != _SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos, width = 8, None
    idat = bytearray()
    while pos < len(data):
        if pos + 8 > len(data):
            # truncated mid-chunk-header: keep the module's ValueError
            # contract instead of leaking a bare struct.error (r7 review)
            raise ValueError(f"truncated PNG: chunk header cut at byte {pos}")
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            if len(payload) != 13:
                raise ValueError(f"truncated PNG: IHDR holds {len(payload)} bytes")
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or interlace:
                raise ValueError(f"unsupported PNG: depth={depth} interlace={interlace}")
            channels = {0: 1, 2: 3, 6: 4}.get(color)
            if channels is None:
                raise ValueError(f"unsupported PNG color type {color}")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("no IHDR chunk")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = width * channels
    if raw.size != height * (stride + 1):
        raise ValueError(f"IDAT holds {raw.size} bytes; expected {height * (stride + 1)}")
    return _unfilter(raw, height, stride, channels).tobytes(), width, height, channels
