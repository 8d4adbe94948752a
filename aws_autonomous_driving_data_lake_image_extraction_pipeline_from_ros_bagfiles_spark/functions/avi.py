"""Pure-stdlib uncompressed-AVI container codec (K3 closer — SURVEY §2.2).

The reference renders one mp4 per camera directory by shelling to ffmpeg
(main.py:47-66: ``ffmpeg -framerate 5 -i %06d.png … libx264``). This
container has no ffmpeg/codec libraries, so — like png.py closed K2 with
a stdlib PNG codec — the video *container* semantics are closed with an
uncompressed RIFF AVI writer over the engine's real RGB frame buffers:

- :func:`encode_avi` — (n, h, w, 3) RGB uint8 frame stack -> AVI bytes:
  ``RIFF(AVI )`` with a ``LIST hdrl`` (MainAVIHeader + one 'vids'/'DIB '
  stream with a BITMAPINFOHEADER), a ``LIST movi`` of one ``00db`` DIB
  chunk per frame (bottom-up BGR rows, 4-byte aligned), and a standard
  ``idx1`` index. Any stock player/demuxer reads the result.
- :func:`decode_avi` — AVI bytes -> (frames, fps); walks the RIFF tree,
  so it round-trips our own output and any other uncompressed-DIB AVI.

mp4/libx264 waits for a download of ffmpeg — compression is the only
missing piece; the distributed render path (group frames per directory,
sort by frame index, one container per group) is exercised for real
through this codec.
"""

from __future__ import annotations

import struct

import numpy as np

_AVIF_HASINDEX = 0x00000010
_AVIIF_KEYFRAME = 0x00000010


def _row_stride(width: int) -> int:
    return (width * 3 + 3) & ~3  # DIB rows pad to 4-byte boundaries


def _dib_frame(frame: np.ndarray, stride: int) -> bytes:
    """RGB top-down (h, w, 3) -> padded bottom-up BGR scanlines."""
    h, w, _ = frame.shape
    bgr = frame[::-1, :, ::-1]  # flip rows, swap channels
    if stride == w * 3:
        return np.ascontiguousarray(bgr).tobytes()
    padded = np.zeros((h, stride), dtype=np.uint8)
    padded[:, : w * 3] = bgr.reshape(h, w * 3)
    return padded.tobytes()


def encode_avi(frames: np.ndarray, fps: int = 5) -> bytes:
    """RGB uint8 frame stack ``(n, h, w, 3)`` -> uncompressed AVI bytes.

    ``fps`` defaults to the reference's ``-framerate 5`` (main.py:52).
    """
    frames = np.asarray(frames, dtype=np.uint8)
    if frames.ndim != 4:
        raise ValueError(
            f"frame stack must be (n, h, w, 3) uint8, got shape {frames.shape}"
        )
    n, h, w, c = frames.shape
    if c != 3:
        raise ValueError(f"RGB frames required, got {c} channels")
    if n == 0:
        raise ValueError("empty frame stack: an AVI needs at least one frame")
    if int(fps) <= 0:
        raise ValueError(f"fps must be positive, got {fps}")
    stride = _row_stride(w)
    frame_size = stride * h

    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 0, 0, 0, 0
    )
    strh = (
        b"vids"
        + b"DIB "
        + struct.pack("<IHHIIIIIiII", 0, 0, 0, 0, 1, int(fps), 0, n, frame_size, 0xFFFFFFFF, 0)
        + struct.pack("<hhhh", 0, 0, w, h)
    )
    strl = b"LIST" + struct.pack("<I", 4 + 8 + len(strh) + 8 + len(strf)) + b"strl"
    strl += b"strh" + struct.pack("<I", len(strh)) + strh
    strl += b"strf" + struct.pack("<I", len(strf)) + strf

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // int(fps),      # dwMicroSecPerFrame
        frame_size * int(fps),      # dwMaxBytesPerSec
        0,                          # dwPaddingGranularity
        _AVIF_HASINDEX,
        n, 0, 1,                    # dwTotalFrames, dwInitialFrames, dwStreams
        frame_size,                 # dwSuggestedBufferSize
        w, h, 0, 0, 0, 0,           # dwWidth, dwHeight, dwReserved[4]
    )
    hdrl = b"LIST" + struct.pack("<I", 4 + 8 + len(avih) + len(strl)) + b"hdrl"
    hdrl += b"avih" + struct.pack("<I", len(avih)) + avih + strl

    movi_chunks = []
    idx_entries = []
    offset = 4  # offsets count from the 'movi' fourcc
    for i in range(n):
        payload = _dib_frame(frames[i], stride)
        movi_chunks.append(b"00db" + struct.pack("<I", len(payload)) + payload)
        idx_entries.append(
            b"00db" + struct.pack("<III", _AVIIF_KEYFRAME, offset, len(payload))
        )
        offset += 8 + len(payload)
    movi_body = b"".join(movi_chunks)
    movi = b"LIST" + struct.pack("<I", 4 + len(movi_body)) + b"movi" + movi_body
    idx1 = b"idx1" + struct.pack("<I", 16 * n) + b"".join(idx_entries)

    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _walk_chunks(data: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        tag = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        yield tag, pos + 8, size
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned


def decode_avi(data: bytes) -> tuple[np.ndarray, int]:
    """AVI bytes -> ``((n, h, w, 3) RGB uint8, fps)``. Uncompressed
    BI_RGB 24-bit DIB streams only; the strf BITMAPINFOHEADER is read so
    a TOP-DOWN DIB (negative biHeight — a common real-world variant)
    decodes right-side-up instead of silently mirrored, and any other
    bit depth fails with a named error rather than an anonymous reshape
    crash (r7 review)."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF AVI")
    w = h = n = rate = scale = None
    bit_count, top_down, in_vids = None, False, False
    frames_raw: list[bytes] = []

    def walk_list(start: int, end: int) -> None:
        nonlocal w, h, n, rate, scale, bit_count, top_down, in_vids
        for tag, body, size in _walk_chunks(data, start, end):
            if tag == b"LIST":
                walk_list(body + 4, body + size)
            elif tag == b"avih":
                vals = struct.unpack_from("<IIIIIIIIII", data, body)
                n = vals[4]
                w, h = vals[8], vals[9]
            elif tag == b"strh":
                in_vids = data[body : body + 4] == b"vids"
                if in_vids:
                    # payload offset 20 = fccType+fccHandler+dwFlags+
                    # wPriority+wLanguage+dwInitialFrames -> (dwScale,
                    # dwRate, ...)
                    scale, rate = struct.unpack_from("<II", data, body + 20)
            elif tag == b"strf" and in_vids:
                # BITMAPINFOHEADER: biSize, biWidth, biHeight (SIGNED:
                # negative = top-down rows), biPlanes, biBitCount
                _, _, bi_h, _, bit_count = struct.unpack_from(
                    "<IiiHH", data, body
                )
                top_down = bi_h < 0
            elif tag == b"00db":
                frames_raw.append(data[body : body + size])

    walk_list(12, 8 + struct.unpack_from("<I", data, 4)[0])
    if w is None or not frames_raw:
        raise ValueError("no uncompressed video stream found")
    if bit_count is not None and bit_count != 24:
        raise ValueError(
            f"unsupported DIB bit depth {bit_count}: only BI_RGB 24-bit"
            " streams decode here"
        )
    stride = _row_stride(w)
    out = np.empty((len(frames_raw), h, w, 3), dtype=np.uint8)
    for i, raw in enumerate(frames_raw):
        rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
        img = rows[:, : w * 3].reshape(h, w, 3)
        # bottom-up (the DIB default) needs the row flip; top-down doesn't
        out[i] = (img if top_down else img[::-1])[:, :, ::-1]
    fps = int(round(rate / scale)) if rate and scale else 0
    return out, fps
