"""Chunk-splittable bag reader: the layout scan is header-only for indexed
bags, every bag decodes through ``format("rosbag")`` with one partition per
chunk, and the rows are the values the fixture wrote."""

import json

import pytest
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources import (
    rosbag_fixtures as fx,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.rosbag import (
    BAG_MAGIC,
    plan_bag_splits,
    scan_bag_layout,
)

CAM = "/camera_front/image_raw"


def _write(tmp_path, blob: bytes, name: str = "demo.bag") -> str:
    path = tmp_path / name
    path.write_bytes(blob)
    return str(path)


def _demo_fixture_rows(n_frames: int) -> list[tuple]:
    """What ``build_demo_bag`` wrote, per message: (topic, msg_type,
    ros_time, seq, typed value) — the image's pixel bytes, the odometry
    x position, the scan's range_max, the status text."""
    rows = []
    for i in range(n_frames):
        t = fx.ros_time(1600000000 + i, i * 1000)
        ramp = bytes((k * 7 + i) % 256 for k in range(8 * 6 * 3))
        rows += [
            (CAM, "sensor_msgs/Image", t, i, ramp),
            ("/odom", "nav_msgs/Odometry", t, i, i * 1.0),
            ("/scan", "sensor_msgs/LaserScan", t, i, 30.0),
            ("/status", "std_msgs/String", t, None, f"status-{i}"),
        ]
    return sorted(rows, key=lambda r: (r[0], r[2]))


def _decoded_rows(df) -> list[tuple]:
    out = []
    for r in df.collect():
        p = json.loads(r.payload_json) if r.payload_json else {}
        value = {
            "sensor_msgs/Image": lambda: bytes(r.img_data),
            "nav_msgs/Odometry": lambda: p["pos_x"],
            "sensor_msgs/LaserScan": lambda: p["range_max"],
            "std_msgs/String": lambda: p["data"],
        }[r.msg_type]()
        out.append((r.topic, r.msg_type, r.ros_time, r.seq, value))
    return sorted(out, key=lambda r: (r[0], r[2]))


def test_layout_scan(tmp_path):
    path = _write(tmp_path, fx.build_demo_bag(n_frames=6, top_level_connections=True))
    layout = scan_bag_layout(path)
    conns, chunks = layout.connections, layout.chunks
    assert len(conns) == 4 and conns[1]["type"] == "nav_msgs/Odometry"
    assert len(chunks) == 2
    assert chunks[0].compression == "none" and chunks[1].compression == "bz2"


def test_split_decode_equals_fixture(read_bag):
    df = read_bag(fx.build_demo_bag(n_frames=8, top_level_connections=True))
    assert df.rdd.getNumPartitions() == 2  # one task per chunk
    assert _decoded_rows(df) == _demo_fixture_rows(8)  # 4 topics x 8 frames


def test_unindexed_bag_reads_one_partition_per_chunk(read_bag, tmp_path):
    """A bag with no top-level connection records (a recording stopped
    before its index was written) reads through format("rosbag"): the
    layout scan takes the connections from inside the chunks."""
    df = read_bag(fx.build_demo_bag(n_frames=8, top_level_connections=False))
    layout = scan_bag_layout(str(tmp_path / "demo.bag"))
    assert len(layout.connections) == 4 and not layout.chunk_infos
    assert df.rdd.getNumPartitions() == 2  # plain chunk + bz2 chunk
    assert _decoded_rows(df) == _demo_fixture_rows(8)


def test_chunk_info_parsed(tmp_path):
    path = _write(tmp_path, fx.build_indexed_bag(n_frames=16, n_chunks=4), "indexed.bag")
    layout = scan_bag_layout(path)
    assert len(layout.chunks) == 4
    assert len(layout.chunk_infos) == 4
    # infos key by the chunk RECORD offset the writer recorded
    for c in layout.chunks:
        info = layout.chunk_infos[c.record_offset]
        assert info.counts  # every chunk has counted connections
    # camera (conn 0) only in even chunks, status (conn 2) in odd
    infos = [layout.chunk_infos[c.record_offset] for c in layout.chunks]
    assert [0 in i.counts for i in infos] == [True, False, True, False]
    assert [2 in i.counts for i in infos] == [False, True, False, True]


def test_topic_time_pushdown_prunes_chunks(read_bag, tmp_path):
    """Pushdown read == full read + DataFrame filter, and the planner
    provably skipped chunk bytes (the decoded-bytes counter)."""
    blob = fx.build_indexed_bag(n_frames=16, n_chunks=4)
    full = read_bag(blob)
    path = str(tmp_path / "demo.bag")
    t_lo, t_hi = fx.ros_time(1600000008, 8000), fx.ros_time(1600000015, 15000)

    # planner stats: topic filter drops odd chunks (no camera), time
    # filter drops chunk 0 (frames 0-3) -> 1 of 4 chunks survives
    _, stats = plan_bag_splits([path], topics=[CAM], time_range=(t_lo, t_hi))
    assert stats["chunks_total"] == 4
    assert stats["chunks_selected"] == 1
    assert stats["bytes_selected"] < stats["bytes_total"]

    pushed = read_bag(blob, topics=CAM, timerange=f"{t_lo}:{t_hi}")
    assert pushed.rdd.getNumPartitions() == 1
    # checkpoint the full read first, so its filter cannot be pushed down
    full = full.localCheckpoint(eager=True)
    assert full.count() == 8 + 16 + 8  # camera + odometry + status
    sec = F.col("ros_time").bitwiseAND(F.lit(0xFFFFFFFF))
    filtered = full.filter((F.col("topic") == CAM) & sec.between(1600000008, 1600000015))
    cols = ["topic", "msg_type", "ros_time", "seq"]
    a = sorted(map(tuple, pushed.select(cols).collect()))
    b = sorted(map(tuple, filtered.select(cols).collect()))
    assert a == b and len(a) == 4  # camera frames 8..11 (chunk 2 only)


def test_scan_layout_names_corrupt_bag(tmp_path):
    """A truncated/garbage bag must fail layout planning with a ValueError
    naming the path — the scan runs driver-side over every bag in the
    plan, and a bare struct.error names nothing (r7 review)."""
    bad = tmp_path / "trunc.bag"
    bad.write_bytes(BAG_MAGIC + b"\x10\x00\x00\x00\x02")  # header cut short
    with pytest.raises(ValueError, match="corrupt bag layout in .*trunc.bag"):
        scan_bag_layout(str(bad))


def test_build_indexed_bag_nondivisible(tmp_path, read_bag):
    """Ceil-split chunking (r8 review): n_frames not divisible by
    n_chunks must not drop trailing frames, and n_chunks > n_frames must
    not emit empty chunks with inverted time ranges."""
    odd = read_bag(fx.build_indexed_bag(n_frames=10, n_chunks=4), "odd.bag")
    # odometry (conn 1) lands in EVERY chunk: all 10 frames must appear
    assert odd.filter("topic = '/odom'").count() == 10

    tiny = read_bag(fx.build_indexed_bag(n_frames=3, n_chunks=4), "tiny.bag")
    splits2, _ = plan_bag_splits([str(tmp_path / "tiny.bag")], None, None)
    assert 0 < len(splits2) <= 3  # no empty chunks planned
    assert tiny.filter("topic = '/odom'").count() == 3
