"""PNG codec + K2 frame sink tests (SURVEY §2.2 K2; reference
bagstream.py:246-266 writes one PNG per extracted frame)."""

import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.functions.png import (
    _filter_scanlines,
    decode_png,
    encode_png,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.images import (
    encode_frames_png,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.sinks import (
    write_png_files,
)


@pytest.mark.parametrize("w,h,ch", [(1, 1, 1), (5, 3, 3), (64, 48, 3), (33, 17, 4), (96, 128, 1)])
def test_png_roundtrip_pixel_exact(w, h, ch):
    rng = np.random.default_rng(w * 1000 + h * 10 + ch)
    noise = rng.integers(0, 256, h * w * ch, dtype=np.uint8).tobytes()
    smooth = (
        (np.arange(w * ch).reshape(1, -1) + 3 * np.arange(h).reshape(-1, 1))
        .astype(np.uint8)
        .tobytes()
    )
    for buf in (noise, smooth):
        pix, ww, hh, cc = decode_png(encode_png(buf, w, h, ch))
        assert (ww, hh, cc) == (w, h, ch)
        assert pix == buf


def test_png_decoder_handles_every_filter_type():
    """Force each filter type through the decoder by hand-building a PNG
    whose rows are filtered with types 0-4 (the encoder's heuristic may
    never pick some of them on a given image)."""
    import struct
    import zlib

    w, h = 4, 5
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    bpp, stride = 3, w * 3
    raw = bytearray()
    prev = np.zeros(stride, np.uint8)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        row = img[y].reshape(stride)
        left = np.zeros(stride, np.uint8)
        left[bpp:] = row[:-bpp]
        upleft = np.zeros(stride, np.uint8)
        upleft[bpp:] = prev[:-bpp]
        if ftype == 0:
            filt = row
        elif ftype == 1:
            filt = row - left
        elif ftype == 2:
            filt = row - prev
        elif ftype == 3:
            filt = (row.astype(np.int16) - ((left.astype(np.int16) + prev.astype(np.int16)) >> 1)).astype(np.uint8)
        else:
            a, b, c = left.astype(np.int16), prev.astype(np.int16), upleft.astype(np.int16)
            p = a + b - c
            pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft))
            filt = row - pred
        raw.append(ftype)
        raw += filt.tobytes()
        prev = row

    def chunk(tag, payload):
        return struct.pack(">I", len(payload)) + tag + payload + struct.pack(
            ">I", zlib.crc32(tag + payload)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    pix, ww, hh, cc = decode_png(png)
    assert (ww, hh, cc) == (w, h, 3)
    assert pix == img.tobytes()


def test_png_rejects_garbage():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png at all----")
    with pytest.raises(ValueError, match="channels"):
        encode_png(b"\x00" * 12, 2, 2, 2)
    with pytest.raises(ValueError, match="need"):
        encode_png(b"\x00" * 5, 2, 2, 3)


def _decoded_frames(spark):
    rng = np.random.default_rng(42)
    rows = [
        ("b.bag", "/cam/front", 10, 8, rng.integers(0, 256, 8 * 10 * 3, dtype=np.uint8).tobytes(), i)
        for i in range(3)
    ]
    return spark.createDataFrame(
        [(b, t, None, s, w, h, p) for (b, t, w, h, p, s) in rows],
        "bag string, topic string, ts timestamp, seq bigint, img_width int, img_height int, pixels binary",
    ).select("bag", "topic", "ts", "seq", F.lit(10).alias("img_width"), F.lit(8).alias("img_height"), "pixels")


def test_encode_frames_png_dataframe_op(spark):
    decoded = _decoded_frames(spark)
    out = encode_frames_png(decoded).collect()
    src = {r.seq: bytes(r.pixels) for r in decoded.collect()}
    assert len(out) == 3
    for r in out:
        pix, w, h, ch = decode_png(bytes(r.png))
        assert (w, h, ch) == (10, 8, 3)
        assert pix == src[r.seq]


def test_write_png_files_sink(spark, tmp_path):
    decoded = _decoded_frames(spark).withColumn(
        "img_file", F.concat(F.lit("frame-"), F.col("seq").cast("string"), F.lit(".png"))
    )
    n = write_png_files(decoded, str(tmp_path))
    assert n == 3
    files = sorted(glob.glob(os.path.join(str(tmp_path), "cam_front", "*.png")))
    assert [os.path.basename(f) for f in files] == ["frame-0.png", "frame-1.png", "frame-2.png"]
    src = {r.seq: bytes(r.pixels) for r in decoded.collect()}
    for f in files:
        seq = int(os.path.basename(f)[6:-4])
        pix, w, h, ch = decode_png(open(f, "rb").read())
        assert (w, h, ch) == (10, 8, 3)
        assert pix == src[seq]


def test_write_png_files_stays_under_root(spark, tmp_path):
    """A real ROS topic starts with '/' (/camera_rear/image_raw): the
    rendered frame name must still land under <root>/<topic>/ in the
    reference's image_raw-<iso>-<idx>.png form, and a name with a
    directory part must fail instead of writing outside its directory."""
    from pyspark.errors import PythonException

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.frames import (
        with_frame_filenames,
        with_frame_ids,
    )

    frames = _decoded_frames(spark).select(
        "bag",
        F.lit("/camera_rear/image_raw").alias("topic"),
        F.timestamp_seconds(F.col("seq") + 1608161539).alias("ts"),
        "seq", "img_width", "img_height", "pixels",
    )
    named = with_frame_filenames(with_frame_ids(frames, tiebreak="seq"))
    root = tmp_path / "root"
    assert write_png_files(named, str(root)) == 3
    written = sorted(p.relative_to(tmp_path).as_posix() for p in tmp_path.rglob("*.png"))
    assert written == [
        f"root/camera_rear_image_raw/image_raw-2020-12-16T23_32_{19 + i}.000000-000{i}.png"
        for i in range(3)
    ]
    bad = named.withColumn("img_file", F.lit("../x.png"))
    with pytest.raises(PythonException, match=r"ValueError: frame '\.\./x\.png'"):
        write_png_files(bad, str(root))
    assert not (root / "x.png").exists()


def _reference_filter_scanlines(arr, bpp):
    """The int16 formulation the vectorized heuristic replaced; kept here
    as the byte-for-byte reference for the encoder's filter choice."""
    h, stride = arr.shape
    prev = np.vstack([np.zeros((1, stride), np.uint8), arr[:-1]])
    left = np.zeros_like(arr)
    left[:, bpp:] = arr[:, :-bpp]
    upleft = np.zeros_like(arr)
    upleft[:, bpp:] = prev[:, :-bpp]
    a16, b16, c16 = left.astype(np.int16), prev.astype(np.int16), upleft.astype(np.int16)
    p = a16 + b16 - c16
    pa, pb, pc = np.abs(p - a16), np.abs(p - b16), np.abs(p - c16)
    paeth = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft))
    cands = np.stack(
        [
            arr,
            arr - left,
            arr - prev,
            (arr.astype(np.int16) - ((a16 + b16) >> 1)).astype(np.uint8),
            arr - paeth,
        ]
    )
    signed = np.where(cands > 127, 256 - cands.astype(np.int16), cands.astype(np.int16))
    best = signed.sum(axis=2, dtype=np.int64).argmin(axis=0)
    rows = np.empty((h, stride + 1), np.uint8)
    rows[:, 0] = best
    rows[:, 1:] = cands[best, np.arange(h)]
    return rows.tobytes()


@pytest.mark.parametrize("w,h,bpp", [(1, 1, 1), (7, 5, 1), (33, 17, 3), (641, 9, 3), (31, 12, 4), (640, 480, 3)])
def test_filter_scanlines_matches_reference_bytes(w, h, bpp):
    rng = np.random.default_rng(w * 31 + h * 7 + bpp)
    x = np.arange(w * bpp).reshape(1, -1)
    y = np.arange(h).reshape(-1, 1)
    images = {
        "noise": rng.integers(0, 256, (h, w * bpp), dtype=np.uint8),
        "gradient": (16 + (x // bpp + 2 * y) % 224).astype(np.uint8),
        "gradient+noise": (
            16 + (x // bpp + 2 * y) % 224 + rng.integers(-8, 9, (h, w * bpp))
        ).astype(np.uint8),
        "extremes": rng.choice(np.array([0, 1, 127, 128, 129, 255], np.uint8), (h, w * bpp)),
    }
    for name, arr in images.items():
        got = _filter_scanlines(arr, bpp)
        assert got == _reference_filter_scanlines(arr, bpp), name
        if h * w <= 1024:  # decode_png's Paeth/Average rows are pixel loops
            pix, ww, hh, cc = decode_png(encode_png(arr.tobytes(), w, h, bpp))
            assert (pix, ww, hh, cc) == (arr.tobytes(), w, h, bpp), name
