"""Audio/video multimodal operators: WAV round-trip, feature math,
raw-video frame sampling."""

import numpy as np
import pytest

from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.audio import (
    audio_features,
    decode_audio,
    decode_wav,
    encode_wav,
    resample_nearest,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.video import (
    decode_rawv_header,
    encode_rawv,
    sample_frames,
)


def test_wav_roundtrip_mono_and_stereo():
    rng = np.random.default_rng(3)
    mono = rng.integers(-30000, 30000, 500, dtype=np.int16)
    got, rate, ch = decode_wav(encode_wav(mono, 16000, 1))
    assert (rate, ch) == (16000, 1) and np.array_equal(got, mono)
    stereo = rng.integers(-30000, 30000, 1000, dtype=np.int16)
    got, rate, ch = decode_wav(encode_wav(stereo, 44100, 2))
    assert (rate, ch) == (44100, 2) and np.array_equal(got, stereo)


def test_wav_rejects_garbage():
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"nope" * 10)


def test_decode_audio_and_features(spark):
    rate = 8000
    t = np.arange(rate) / rate
    # 440 Hz sine, amplitude 10000 -> RMS ~ 10000/sqrt(2), ZCR ~ 2*440/8000
    wave = (10000 * np.sin(2 * np.pi * 440 * t)).astype("<i2")
    clips = spark.createDataFrame(
        [(1, bytearray(encode_wav(wave, rate)))], "clip_id bigint, wav binary"
    )
    decoded = decode_audio(clips)
    row = decoded.first()
    assert row.sample_rate == rate and row.n_samples == rate and row.duration_s == 1.0
    feats = audio_features(decoded, frame_len=1024).collect()
    assert len(feats) == rate // 1024
    for f in feats:
        assert abs(f.rms - 10000 / np.sqrt(2)) / (10000 / np.sqrt(2)) < 0.02
        assert abs(f.zcr - 2 * 440 / rate) < 0.01


def test_resample_nearest(spark):
    rate = 8000
    wave = np.arange(rate, dtype=np.int16)
    clips = spark.createDataFrame(
        [(1, bytearray(encode_wav(wave, rate)))], "clip_id bigint, wav binary"
    )
    res = resample_nearest(decode_audio(clips), target_rate=4000).first()
    assert res.sample_rate == 4000 and res.n_samples == 4000
    samples = np.frombuffer(bytes(res.pcm), dtype="<i2")
    # nearest-neighbor decimation of a ramp = every 2nd sample
    assert np.array_equal(samples, wave[::2])


def test_rawv_and_frame_sampling(spark):
    rng = np.random.default_rng(9)
    frames = rng.integers(0, 256, (10, 4, 6, 3), dtype=np.uint8)
    data = encode_rawv(frames, fps=5.0)
    assert decode_rawv_header(data) == (10, 6, 4, 5.0)
    videos = spark.createDataFrame([(7, bytearray(data))], "video_id bigint, video binary")

    # stride sampling: frames 0, 3, 6, 9
    out = {r.frame_idx: r for r in sample_frames(videos, every_n=3).collect()}
    assert sorted(out) == [0, 3, 6, 9]
    for i, r in out.items():
        assert (r.img_width, r.img_height) == (6, 4)
        assert r.ts_offset_s == i / 5.0
        assert bytes(r.pixels) == frames[i].tobytes()

    # uniform-k: first and last always included
    ks = sorted(r.frame_idx for r in sample_frames(videos, k_uniform=3).collect())
    assert ks[0] == 0 and ks[-1] == 9 and len(ks) == 3

    with pytest.raises(ValueError, match="exactly one"):
        sample_frames(videos)


def test_sampled_frames_feed_image_transforms(spark):
    """Composition: sampled video frames flow through the image kit
    (resize + PNG encode) — the multimodal legs share one frame shape."""
    from pyspark.sql import functions as F

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.functions.png import (
        decode_png,
    )
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.images import (
        encode_frames_png,
    )

    frames = np.arange(2 * 6 * 8 * 3, dtype=np.uint8).reshape(2, 6, 8, 3)
    videos = spark.createDataFrame(
        [(1, bytearray(encode_rawv(frames, fps=2.0)))], "video_id bigint, video binary"
    )
    sampled = sample_frames(videos, every_n=1).select(
        F.lit("v").alias("bag"),
        F.lit("/video").alias("topic"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.col("frame_idx").cast("bigint").alias("seq"),
        "img_width", "img_height", "pixels",
    )
    pngs = {r.seq: bytes(r.png) for r in encode_frames_png(sampled).collect()}
    for i in range(2):
        pix, w, h, ch = decode_png(pngs[i])
        assert (w, h, ch) == (8, 6, 3) and pix == frames[i].tobytes()


def test_dhash_brightness_invariant_and_structure_sensitive():
    import numpy as np

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.images import (
        dhash_pixels,
    )

    h, w = 24, 32
    y, x, _ = np.meshgrid(np.arange(h), np.arange(w), np.arange(3), indexing="ij")
    base = np.where((x + y) % 4 < 2, 200, 40).astype(np.uint8)
    shifted = (base + 30).astype(np.uint8)          # brightness shift
    stretched = (base // 2 + 100).astype(np.uint8)  # contrast compress
    other = np.where((y + x * 2) % 4 < 2, 200, 40).astype(np.uint8)
    hb = dhash_pixels(base.tobytes(), w, h)
    assert hb == dhash_pixels(shifted.tobytes(), w, h)
    assert hb == dhash_pixels(stretched.tobytes(), w, h)
    assert hb != dhash_pixels(other.tobytes(), w, h)
    # signed-bigint range
    assert -(1 << 63) <= hb < (1 << 63)


def test_q125_groups_pair_brightness_variants(spark):
    import __spark_entry__ as se

    out = se.queries()["q125_image_dhash_dedup"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    members = sorted(r.members for r in out)
    assert members == ["0,1", "3,4", "6,7", "9,10"]
    assert all(r.n_frames == 2 for r in out)
