"""ROS bag v2.0 reader core: record framing, a header-only layout scan that
plans one split per chunk, and the chunk decoder behind ``format("rosbag")``
(:mod:`bag_datasource`).

Format (public rosbag spec; the reference's reader implements the same
framing in service/app/bagstream.py:64-210):

- magic line ``#ROSBAG V2.0\\n``; only version 2.0 accepted
  (bagstream.py:74-77)
- records: ``u32 header_len | fields | u32 data_len | data`` where each
  field is ``u32 field_len`` then ``name=value`` (bagstream.py:103-131);
  the ``op`` field is a single byte
- op 7 = connection (topic/type in a nested field block,
  bagstream.py:133-159), op 2 = message (conn id + u64 time,
  bagstream.py:219-238), op 5 = chunk (``compression`` none|bz2 +
  ``size``; inner records re-framed until exhausted,
  bagstream.py:184-210), op 6 = chunk info (the chunk's time range and
  per-connection message counts), other ops skipped by data_len
  (bagstream.py:240-243)
- message payloads use ROS little-endian serialization, decoded per type
  by :mod:`ros_messages` — the analog of the reference's
  ``process_message_map`` registry (bagstream.py:379-384)

Split read. SURVEY §7.3 flags the reference's one-task-per-bag ceiling:
its parser is one sequential stream, so a multi-GB bag occupies one task
for its whole runtime. The format itself is splittable: chunks are
self-contained record batches, and well-formed bags repeat connection
records at the top level (the index region after the chunks) so readers
can index without decompressing anything.

1. :func:`scan_bag_layout` walks the top-level record frames, reading
   headers and seeking past chunk payloads (I/O is O(header bytes)), and
   collects the connection registry, one extent per chunk and the op-6
   chunk infos. An unindexed bag (its writer stopped before the index
   region) has no top-level connections; the scan then takes them from
   inside the chunks, decompressing each chunk once.
2. :func:`plan_bag_splits` turns the layouts into one split per chunk and
   prunes chunks by topic/time through the chunk infos — a pruned chunk's
   bytes are never fetched or decompressed. The reference skips op 4/6 as
   process_unknown (bagstream.py:364-371); its unused
   ``topics_to_extract`` env vars (ecs_stack.py:180,308) are the intent
   this realizes.
3. :func:`_decode_chunk` is one task: seek to the extent, decompress,
   decode the messages of the selected connections. A 100-chunk bag
   becomes 100 tasks.

Output rows follow :data:`BAG_RECORD_SCHEMA` (long format); typed
per-topic views are carved out afterwards with ``from_json`` + fixed
schemas (the dynamic-schema split, SURVEY §4.2).
"""

from __future__ import annotations

import bz2
import json
import struct
from collections.abc import Iterator
from dataclasses import dataclass

from .ros_messages import decode_message

BAG_MAGIC = b"#ROSBAG V2.0\n"

OP_MESSAGE = 2
OP_CHUNK = 5
OP_CHUNK_INFO = 6
OP_CONNECTION = 7

BAG_RECORD_SCHEMA = (
    "bag string, topic string, msg_type string, ros_time bigint, "
    "seq bigint, frame_id string, payload_json string, "
    "img_encoding string, img_width int, img_height int, img_data binary"
)

# framing/decoding faults of a malformed bag: struct/index for truncated or
# garbage framing, KeyError for a missing mandatory header field, OSError
# for garbage fed to bz2, ValueError for a truncated bz2 stream, a
# '='-less header field or an overrunning payload length
_CORRUPT = (struct.error, IndexError, KeyError, OSError, ValueError)


def _read_u32(buf: bytes, pos: int) -> tuple[int, int]:
    return struct.unpack_from("<I", buf, pos)[0], pos + 4


def _parse_fields(block: bytes) -> dict[str, bytes]:
    """Length-prefixed ``name=value`` fields (bagstream.py:103-131 framing)."""
    fields: dict[str, bytes] = {}
    pos = 0
    while pos < len(block):
        flen, pos = _read_u32(block, pos)
        item = block[pos : pos + flen]
        pos += flen
        eq = item.index(b"=")
        fields[item[:eq].decode("iso-8859-1")] = item[eq + 1 :]
    return fields


def _iter_records(buf: bytes) -> Iterator[tuple[dict[str, bytes], bytes]]:
    """Yield (header_fields, data) for each record in buf."""
    pos, n = 0, len(buf)
    while pos < n:
        hlen, pos = _read_u32(buf, pos)
        header = _parse_fields(buf[pos : pos + hlen])
        pos += hlen
        dlen, pos = _read_u32(buf, pos)
        data = buf[pos : pos + dlen]
        pos += dlen
        yield header, data


def _chunk_records(data: bytes, data_len: int, compression: str):
    """A chunk's payload bytes -> its inner records."""
    if len(data) < data_len:
        raise ValueError(f"chunk truncated: {len(data)} of {data_len} bytes")
    return _iter_records(bz2.decompress(data) if compression == "bz2" else data)


def ros_key(t: int) -> int:
    """Monotone ordering key for packed ros times.

    The packed form is ``(nsec << 32) | sec`` (bagstream.py:222), whose
    integer order is dominated by nanoseconds — comparing raw packed
    values is WRONG. This swaps the halves so sec is the high word.
    """
    return ((t & 0xFFFFFFFF) << 32) | (t >> 32)


def _connection_entry(header: dict[str, bytes], data: bytes) -> tuple[int, dict[str, str]]:
    """op-7 record -> (conn id, {topic, type})."""
    conn_id = struct.unpack("<I", header["conn"])[0]
    conn_fields = _parse_fields(data)
    return conn_id, {
        "topic": header.get("topic", conn_fields.get("topic", b"")).decode("iso-8859-1"),
        "type": conn_fields.get("type", b"").decode("iso-8859-1"),
    }


def _message_row(bag_name: str, conn: dict[str, str], ros_time: int, msg: dict) -> tuple:
    """Decoded message -> one row in BAG_RECORD_SCHEMA column order."""
    payload = msg.get("payload")
    return (
        bag_name,
        conn["topic"],
        conn["type"],
        ros_time,
        msg.get("seq"),
        msg.get("frame_id"),
        json.dumps(payload, sort_keys=True) if payload is not None else None,
        msg.get("img_encoding"),
        msg.get("img_width"),
        msg.get("img_height"),
        msg.get("img_data"),
    )


@dataclass
class ChunkExtent:
    path: str
    record_offset: int  # offset of the chunk RECORD (what chunk_pos names)
    data_offset: int    # offset of the chunk's data payload
    data_len: int
    compression: str


@dataclass
class ChunkInfo:
    chunk_pos: int
    start_time: int  # packed ros time (nsec << 32 | sec)
    end_time: int
    counts: dict[int, int]  # conn id -> message count


@dataclass
class BagLayout:
    connections: dict[int, dict[str, str]]
    chunks: list[ChunkExtent]
    chunk_infos: dict[int, ChunkInfo]  # keyed by chunk record offset


def scan_bag_layout(path: str) -> BagLayout:
    """Header-only pass: connection registry + chunk extents + chunk infos.

    The connection registry comes from the top-level connection records
    (the standard layout writes them in the index region after the
    chunks). A bag without them is read from the connection records
    inside its chunks, each chunk decompressed once here. Malformed
    framing raises ValueError naming the path — this scan runs over EVERY
    bag in the plan, and an unattributed struct.error would abort
    planning undebuggably.
    """
    connections: dict[int, dict[str, str]] = {}
    chunks: list[ChunkExtent] = []
    infos: dict[int, ChunkInfo] = {}
    with open(path, "rb") as f:
        magic = f.read(len(BAG_MAGIC))
        if magic != BAG_MAGIC:
            raise ValueError(
                f"{path}: unsupported bag version: {magic[:40]!r} (only 2.0)"
            )
        try:
            _scan_records(f, connections, chunks, infos, path)
            if not connections:
                # unindexed bag: its writer stopped before the index region
                for c in chunks:
                    f.seek(c.data_offset)
                    for header, data in _chunk_records(f.read(c.data_len), c.data_len, c.compression):
                        if header["op"][0] == OP_CONNECTION:
                            conn_id, entry = _connection_entry(header, data)
                            connections[conn_id] = entry
        except _CORRUPT as e:
            raise ValueError(f"corrupt bag layout in {path}: {e}") from e
    if chunks and not connections:
        raise ValueError(f"{path}: chunks but no connection records")
    return BagLayout(connections, chunks, infos)


def _scan_records(f, connections, chunks, infos, path: str) -> None:
    while True:
        record_offset = f.tell()
        raw = f.read(4)
        if len(raw) < 4:
            break
        (hlen,) = struct.unpack("<I", raw)
        header = _parse_fields(f.read(hlen))
        (dlen,) = struct.unpack("<I", f.read(4))
        op = header["op"][0]
        if op == OP_CONNECTION:
            conn_id, entry = _connection_entry(header, f.read(dlen))
            connections[conn_id] = entry
        elif op == OP_CHUNK:
            compression = header.get("compression", b"none").decode("iso-8859-1")
            chunks.append(ChunkExtent(path, record_offset, f.tell(), dlen, compression))
            f.seek(dlen, 1)
        elif op == OP_CHUNK_INFO:
            pos = struct.unpack("<Q", header["chunk_pos"])[0]
            data = f.read(dlen)
            counts: dict[int, int] = {}
            for off in range(0, len(data) - 7, 8):
                cid, n = struct.unpack_from("<II", data, off)
                counts[cid] = n
            infos[pos] = ChunkInfo(
                pos,
                struct.unpack("<Q", header["start_time"])[0],
                struct.unpack("<Q", header["end_time"])[0],
                counts,
            )
        else:
            f.seek(dlen, 1)


def plan_bag_splits(
    paths: list[str],
    topics: list[str] | None = None,
    time_range: tuple[int, int] | None = None,
) -> tuple[list[tuple], dict[str, int]]:
    """Layout scan + index-driven chunk pruning.

    ``topics`` keeps only chunks whose info record counts >=1 message on a
    selected connection; ``time_range`` is an inclusive (lo, hi) pair of
    PACKED ros times (fixture helper ``ros_time``) compared via
    :func:`ros_key`; chunks with a disjoint [start,end] are dropped.
    Chunks lacking an info record are kept (conservative). Returns
    (splits, stats): a split is the argument tuple of :func:`_decode_chunk`
    up to ``time_range`` — the connection map it carries holds only the
    selected topics — and stats count chunks/bytes total vs selected, the
    proof that pruning skipped real I/O.
    """
    splits: list[tuple] = []
    stats = {"chunks_total": 0, "chunks_selected": 0, "bytes_total": 0, "bytes_selected": 0}
    for p in paths:
        layout = scan_bag_layout(p)
        conns = {
            cid: c
            for cid, c in layout.connections.items()
            if topics is None or c["topic"] in topics
        }
        for c in layout.chunks:
            stats["chunks_total"] += 1
            stats["bytes_total"] += c.data_len
            info = layout.chunk_infos.get(c.record_offset)
            if info is not None:
                if topics is not None and not any(
                    info.counts.get(cid, 0) > 0 for cid in conns
                ):
                    continue
                if time_range is not None and (
                    ros_key(info.end_time) < ros_key(time_range[0])
                    or ros_key(info.start_time) > ros_key(time_range[1])
                ):
                    continue
            stats["chunks_selected"] += 1
            stats["bytes_selected"] += c.data_len
            splits.append((c.path, c.data_offset, c.data_len, c.compression, conns))
    return splits, stats


def _decode_chunk(
    path: str,
    data_offset: int,
    data_len: int,
    compression: str,
    connections: dict[int, dict[str, str]],
    time_range: tuple[int, int] | None = None,
) -> Iterator[tuple]:
    """One chunk -> BAG_RECORD_SCHEMA rows of the messages on ``connections``
    (inclusive packed ``time_range``, if given). Malformed chunk bytes
    raise ValueError naming the bag and the chunk's offset."""
    lo = ros_key(time_range[0]) if time_range is not None else None
    hi = ros_key(time_range[1]) if time_range is not None else None
    with open(path, "rb") as f:
        f.seek(data_offset)
        data = f.read(data_len)
    try:
        for header, payload in _chunk_records(data, data_len, compression):
            # in-chunk connection copies are already in the registry
            if header["op"][0] != OP_MESSAGE:
                continue
            conn = connections.get(struct.unpack("<I", header["conn"])[0])
            if conn is None:
                # connection not selected by the topic pushdown — the payload
                # is never deserialized (the expensive step)
                continue
            ros_time = struct.unpack("<Q", header["time"])[0]
            if lo is not None and not (lo <= ros_key(ros_time) <= hi):
                continue
            yield _message_row(path, conn, ros_time, decode_message(conn["type"], payload))
    except _CORRUPT as e:
        raise ValueError(f"corrupt bag chunk in {path} at {data_offset}: {e}") from e
