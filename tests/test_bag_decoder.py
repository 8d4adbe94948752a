"""Decoder tests against synthesized bag byte streams (SURVEY §5.2), read
through ``format("rosbag")``: record framing, connection registry, bz2
chunk path, typed payloads, named errors on corrupt bags, and the 8UC3
BGR->RGB swizzle."""

import json
import struct

import numpy as np
import pytest

from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.images import (
    _to_rgb,
    blur_pixels,
    resize_pixels,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources import (
    rosbag_fixtures as fx,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.rosbag import (
    scan_bag_layout,
)


def test_version_gate(read_bag):
    with pytest.raises(Exception, match="unsupported bag version"):
        read_bag(b"#ROSBAG V1.2\nwhatever").count()


def test_decode_all_topics_and_chunks(read_bag):
    rows = read_bag(fx.build_demo_bag(n_frames=8, bz2_chunk=True)).collect()
    by_topic = {}
    for r in rows:
        by_topic.setdefault(r.topic, []).append(r)
    assert set(by_topic) == {"/camera_front/image_raw", "/odom", "/scan", "/status"}
    # every topic got all 8 messages -> the bz2 chunk was decoded too
    assert all(len(v) == 8 for v in by_topic.values())


def test_message_payloads(read_bag):
    rows = read_bag(fx.build_demo_bag(n_frames=2, bz2_chunk=False)).orderBy("ros_time").collect()
    odo = [r for r in rows if r.topic == "/odom"][1]
    p = json.loads(odo.payload_json)
    assert p["pos_x"] == 1.0 and p["pos_y"] == 2.0 and p["lin_x"] == pytest.approx(0.1)
    assert "ang_x" not in p and "cov" not in str(p)  # P8 projection drops them
    img = [r for r in rows if r.topic.endswith("image_raw")][0]
    assert img.img_width == 8 and img.img_height == 6
    assert bytes(img.img_data) == bytes((k * 7) % 256 for k in range(8 * 6 * 3))
    status = [r for r in rows if r.topic == "/status"][0]
    assert json.loads(status.payload_json)["data"] == "status-0"


def test_ros_time_roundtrip_packing():
    t = fx.ros_time(1600000123, 456789000)
    assert t & 0xFFFFFFFF == 1600000123
    assert (t >> 32) // 1000 == 456789


def test_spark_decode_and_typed_views(read_bag):
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.topic_views import (
        image_view,
        topic_view,
    )

    rec = read_bag(fx.build_demo_bag(n_frames=4))
    odo = topic_view(rec, "nav_msgs/Odometry")
    rows = odo.orderBy("seq").collect()
    assert len(rows) == 4 and rows[2].pos_x == 2.0
    assert "pos_x" in odo.columns and "iso" in odo.columns
    imgs = image_view(rec)
    assert imgs.count() == 4


def test_8uc3_swizzle():
    # one pixel: B=10, G=20, R=30 -> RGB (30, 20, 10)
    rgb = _to_rgb(bytes([10, 20, 30]), "8UC3", 1, 1)
    assert rgb.tolist() == [[[30, 20, 10]]]
    plain = _to_rgb(bytes([10, 20, 30]), "rgb8", 1, 1)
    assert plain.tolist() == [[[10, 20, 30]]]


def test_blur_changes_only_region():
    w, h = 16, 12
    arr = np.arange(w * h * 3, dtype=np.uint8).tobytes()
    out = np.frombuffer(blur_pixels(arr, w, h, [(4, 4, 8, 8)], radius=2), dtype=np.uint8).reshape(h, w, 3)
    src = np.frombuffer(arr, dtype=np.uint8).reshape(h, w, 3)
    assert not np.array_equal(out[4:8, 4:8], src[4:8, 4:8])
    assert np.array_equal(out[:4], src[:4]) and np.array_equal(out[:, :4], src[:, :4])


def test_resize_shorter_edge():
    w, h = 8, 6
    buf = bytes(range(w * h * 3))
    out, nw, nh = resize_pixels(buf, w, h, 3)
    assert nh == 3 and nw == 4 and len(out) == nw * nh * 3


def test_std_msgs_int_decoding():
    """Int16/Int8 are signed multi-byte LE values (regression: Int16 was
    read as a single unsigned byte)."""
    import struct

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.ros_messages import (
        decode_message,
    )

    assert decode_message("std_msgs/Int16", struct.pack("<h", 300))["payload"]["data"] == 300
    assert decode_message("std_msgs/Int16", struct.pack("<h", -1))["payload"]["data"] == -1
    assert decode_message("std_msgs/Int8", struct.pack("<b", -5))["payload"]["data"] == -5
    assert decode_message("std_msgs/Int32", struct.pack("<i", -70000))["payload"]["data"] == -70000


def _corrupt(blob: bytes, offset: int, junk: bytes) -> bytes:
    return blob[:offset] + junk + blob[offset + len(junk) :]


def test_corrupt_bag_names_the_file(read_bag, tmp_path):
    """A truncated or garbage bag fails planning with an error naming the
    file; a corrupt chunk in a well-indexed bag (the layout scan never
    opens it) fails the decode task with an error naming the file and the
    chunk's offset, not a bare OSError/ValueError from bz2 or the framing."""
    good = fx.build_demo_bag(n_frames=2, bz2_chunk=False)
    with pytest.raises(Exception, match="corrupt bag layout in .*trunc.bag"):
        read_bag(good[: len(good) // 2], "trunc.bag").count()
    with pytest.raises(Exception, match="corrupt bag layout in .*junk.bag"):
        read_bag(b"#ROSBAG V2.0\n" + b"\x99" * 40, "junk.bag").count()

    indexed = fx.build_indexed_bag(n_frames=4, n_chunks=2)
    (tmp_path / "layout.bag").write_bytes(indexed)
    plain, bz2_chunk = scan_bag_layout(str(tmp_path / "layout.bag")).chunks
    assert (plain.compression, bz2_chunk.compression) == ("none", "bz2")
    cases = {
        # 16 garbage bytes inside the bz2 stream
        "badbz2.bag": (bz2_chunk, _corrupt(indexed, bz2_chunk.data_offset + 4, b"\x5a" * 16)),
        # the first inner record's header length points past the chunk
        "badhdr.bag": (plain, _corrupt(indexed, plain.data_offset, struct.pack("<I", 0x7FFFFFF0))),
    }
    for name, (extent, blob) in cases.items():
        with pytest.raises(Exception, match=f"corrupt bag chunk in .*{name} at {extent.data_offset}"):
            read_bag(blob, name).collect()


def test_truncated_payload_length_prefix_raises():
    """A message payload whose u32 length prefix overruns the buffer is
    corruption, not a short read: the reader must raise (r8 review — the
    old slice silently returned the short remainder, escaping the
    named-error contract)."""
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.ros_messages import (
        decode_message,
    )

    # a String payload claiming 100 bytes with only 3 present
    bad = struct.pack("<I", 100) + b"abc"
    with pytest.raises(ValueError, match="overruns payload"):
        decode_message("std_msgs/String", bad)

    # an Image whose img_data length field overruns: header + dims +
    # encoding + flags parse fine, then raw() must raise
    payload = (
        struct.pack("<III", 7, 1600000000, 0)      # header seq/stamp
        + struct.pack("<I", 0)                      # frame_id ""
        + struct.pack("<II", 6, 8)                  # height, width
        + struct.pack("<I", 4) + b"rgb8"            # encoding
        + b"\x00" + struct.pack("<I", 24)           # bigendian, step
        + struct.pack("<I", 999)                    # img_data length LIE
        + b"\x01" * 10
    )
    with pytest.raises(ValueError, match="overruns payload"):
        decode_message("sensor_msgs/Image", payload)
