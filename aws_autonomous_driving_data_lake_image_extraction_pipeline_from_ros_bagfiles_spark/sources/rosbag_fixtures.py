"""Deterministic ROS bag fixture synthesis (FIXTURES.md §B1).

Builds valid v2.0 bag byte streams — connections, plain and bz2 chunks,
typed message payloads — so the decoder can be exercised without any ROS
installation. Used by tests and the q32 showcase query. Everything is
seeded arithmetic; no randomness, no wall clock.
"""

from __future__ import annotations

import bz2
import struct


def _field(name: str, value: bytes) -> bytes:
    item = name.encode() + b"=" + value
    return struct.pack("<I", len(item)) + item


def _record(fields: dict[str, bytes], data: bytes) -> bytes:
    header = b"".join(_field(k, v) for k, v in fields.items())
    return struct.pack("<I", len(header)) + header + struct.pack("<I", len(data)) + data


def _string(s: str) -> bytes:
    b = s.encode()
    return struct.pack("<I", len(b)) + b


def _header(seq: int, frame_id: str = "base") -> bytes:
    return struct.pack("<III", seq, 0, 0) + _string(frame_id)


def connection(conn_id: int, topic: str, msg_type: str) -> bytes:
    data = _field("topic", topic.encode()) + _field("type", msg_type.encode())
    return _record(
        {"op": bytes([7]), "conn": struct.pack("<I", conn_id), "topic": topic.encode()},
        data,
    )


def message(conn_id: int, ros_time: int, payload: bytes) -> bytes:
    return _record(
        {"op": bytes([2]), "conn": struct.pack("<I", conn_id), "time": struct.pack("<Q", ros_time)},
        payload,
    )


def chunk(inner: bytes, compression: str = "none") -> bytes:
    data = bz2.compress(inner) if compression == "bz2" else inner
    return _record(
        {"op": bytes([5]), "compression": compression.encode(), "size": struct.pack("<I", len(inner))},
        data,
    )


def bag_header() -> bytes:
    return _record(
        {"op": bytes([3]), "index_pos": struct.pack("<Q", 0),
         "conn_count": struct.pack("<I", 0), "chunk_count": struct.pack("<I", 0)},
        b" " * 16,
    )


def string_payload(seq_unused: int, text: str) -> bytes:
    return _string(text)


def image_payload(seq: int, width: int, height: int, encoding: str = "rgb8", channels: int = 3) -> bytes:
    # deterministic pixel ramp
    data = bytes((i * 7 + seq) % 256 for i in range(width * height * channels))
    return (
        _header(seq)
        + struct.pack("<II", height, width)
        + _string(encoding)
        + bytes([0])
        + struct.pack("<I", width * channels)
        + struct.pack("<I", len(data))
        + data
    )


def odometry_payload(seq: int) -> bytes:
    vals = [seq * 1.0, seq * 2.0, 0.5, 0.0, 0.0, 0.0, 1.0]  # pos + ori
    cov = [0.0] * 36
    twist = [seq * 0.1, 0.0, 0.0]
    ang = [0.01, 0.02, 0.03]
    return (
        _header(seq)
        + _string("odom")
        + struct.pack("<7d", *vals)
        + struct.pack("<36d", *cov)
        + struct.pack("<3d", *twist)
        + struct.pack("<3d", *ang)
        + struct.pack("<36d", *cov)
    )


def laser_payload(seq: int) -> bytes:
    cfg = [-1.57, 1.57, 0.01, 0.0001, 0.05, 0.1, 30.0]
    ranges = [float(seq % 10)] * 4
    intens: list[float] = []
    return (
        _header(seq)
        + struct.pack("<7f", *cfg)
        + struct.pack("<I", len(ranges)) + struct.pack(f"<{len(ranges)}f", *ranges)
        + struct.pack("<I", len(intens))
    )


def wrench_payload(seq: int) -> bytes:
    return struct.pack("<6d", seq * 1.0, 0.0, -9.8, 0.0, seq * 0.5, 0.0)


def ros_time(sec: int, nsec: int = 0) -> int:
    """Pack (sec, nsec) the bag way: (nsec << 32) | sec (bagstream.py:222)."""
    return (nsec << 32) | sec


def chunk_info(
    chunk_pos: int, start_time: int, end_time: int, counts: dict[int, int]
) -> bytes:
    """Chunk-info index record (op=6, ver=1; public rosbag 2.0 spec).

    Carries the chunk's record offset, its message time range, and the
    per-connection message counts — everything a reader needs to SKIP the
    chunk for a topic/time-filtered scan without decompressing it. The
    reference skips these as process_unknown (bagstream.py:364-371); our
    split reader uses them for predicate pushdown.
    """
    data = b"".join(struct.pack("<II", cid, n) for cid, n in sorted(counts.items()))
    return _record(
        {
            "op": bytes([6]),
            "ver": struct.pack("<I", 1),
            "chunk_pos": struct.pack("<Q", chunk_pos),
            "start_time": struct.pack("<Q", start_time),
            "end_time": struct.pack("<Q", end_time),
            "count": struct.pack("<I", len(counts)),
        },
        data,
    )


def build_demo_bag(
    n_frames: int = 8, bz2_chunk: bool = True, top_level_connections: bool = False
) -> bytes:
    """A 4-connection bag: camera images, odometry, laser, std string —
    half the messages inside a plain chunk, half in a bz2 chunk, plus
    loose records, exercising every decoder path.

    ``top_level_connections`` additionally writes the connection records
    in the index region after the chunks (the standard bag layout), so the
    layout scan finds them without decompressing a chunk; without them the
    bag is the unindexed layout of a recording stopped before its index.
    """
    conns = (
        connection(0, "/camera_front/image_raw", "sensor_msgs/Image")
        + connection(1, "/odom", "nav_msgs/Odometry")
        + connection(2, "/scan", "sensor_msgs/LaserScan")
        + connection(3, "/status", "std_msgs/String")
    )
    msgs_a, msgs_b = b"", b""
    for i in range(n_frames):
        t = ros_time(1600000000 + i, i * 1000)
        block = (
            message(0, t, image_payload(i, 8, 6))
            + message(1, t, odometry_payload(i))
            + message(2, t, laser_payload(i))
            + message(3, t, string_payload(i, f"status-{i}"))
        )
        if i < n_frames // 2:
            msgs_a += block
        else:
            msgs_b += block
    body = (
        bag_header()
        + chunk(conns + msgs_a, "none")
        + chunk(msgs_b, "bz2" if bz2_chunk else "none")
    )
    if top_level_connections:
        body += conns  # index-region copies, as real bags write them
    return b"#ROSBAG V2.0\n" + body


def build_indexed_bag(n_frames: int = 16, n_chunks: int = 4) -> bytes:
    """Production-layout bag: messages chunked by time slice, with the full
    index region — top-level connection copies AND chunk-info (op=6)
    records carrying per-chunk time ranges and connection counts. This is
    the layout rosbag's own writer produces, and what makes topic/time
    predicate pushdown possible: a filtered reader prunes whole chunks from
    the index without reading (or decompressing) their payloads.

    Topic layout: camera frames (conn 0) only in EVEN chunks, odometry
    (conn 1) in every chunk, status strings (conn 2) only in ODD chunks —
    so both topic- and time-pruning have chunks to eliminate. Frame i
    carries ros time sec=1600000000+i; chunk c covers the contiguous
    [c*frames_per_chunk, ...) slice.
    """
    conns = (
        connection(0, "/camera_front/image_raw", "sensor_msgs/Image")
        + connection(1, "/odom", "nav_msgs/Odometry")
        + connection(2, "/status", "std_msgs/String")
    )
    # ceil split so the LAST slice absorbs the remainder: a floor split
    # silently dropped the trailing n_frames - n_chunks*per_chunk frames
    # and, for n_chunks > n_frames, emitted empty chunks whose chunk-info
    # carried an inverted time range (r8 review)
    per_chunk = -(-n_frames // n_chunks) if n_frames else 1
    out = b"#ROSBAG V2.0\n" + bag_header()
    metas: list[tuple[int, int, int, dict[int, int]]] = []
    for c in range(n_chunks):
        lo, hi = c * per_chunk, min((c + 1) * per_chunk, n_frames)
        if hi <= lo:
            break  # fewer frames than chunks: stop, never write an empty chunk
        inner = conns if c == 0 else b""
        counts: dict[int, int] = {}
        for i in range(lo, hi):
            t = ros_time(1600000000 + i, i * 1000)
            if c % 2 == 0:
                inner += message(0, t, image_payload(i, 8, 6))
                counts[0] = counts.get(0, 0) + 1
            inner += message(1, t, odometry_payload(i))
            counts[1] = counts.get(1, 0) + 1
            if c % 2 == 1:
                inner += message(2, t, string_payload(i, f"status-{i}"))
                counts[2] = counts.get(2, 0) + 1
        start_t = ros_time(1600000000 + lo, lo * 1000)
        end_t = ros_time(1600000000 + hi - 1, (hi - 1) * 1000)
        metas.append((len(out), start_t, end_t, counts))
        out += chunk(inner, "bz2" if c % 2 else "none")
    out += conns  # index region: top-level connection copies
    for pos, st, et, counts in metas:
        out += chunk_info(pos, st, et, counts)
    return out
