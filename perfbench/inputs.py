"""Seeded benchmark inputs: a ROS bag set and an analyst lake.

The expected values the checks compare against are computed here, from
numpy, pyarrow and the stdlib. The only engine module used is the bag
fixture encoder (``sources.rosbag_fixtures``, stdlib only), for the record
framing; the decoder under test is never called.

- :func:`make_bag_set` writes N_BAGS ROS v2.0 bags (two VGA cameras plus
  /odom, /scan and /status; plain and bz2 chunks; an index region with
  connection and chunk-info records) and returns the facts the checks
  need: message counts, frame pixels, stub-detector labels, VRU selection
  and the train/val/test split sizes.
- :func:`make_lake` writes the ten analyst tables in the column layout and
  value distributions of the sf0.01 synthetic testdata.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import struct
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.rosbag_fixtures import (
    bag_header,
    chunk,
    chunk_info,
    connection,
    message,
    ros_time,
)

# ---------------------------------------------------------------------------
# ROS bag set. The record framing (connection, message, chunk, chunk-info,
# bag header) comes from the engine's fixture encoder, which is stdlib-only
# and separate from the decoder under test; the seeded payloads are built
# here.
# ---------------------------------------------------------------------------

N_BAGS = 2
FRAMES_PER_CAMERA = 2  # per bag
WIDTH, HEIGHT = 640, 480  # VGA, the default mode of common ROS USB cameras
CAMERAS = ("/camera_front/image_raw", "/camera_rear/image_raw")
# the rear camera publishes BGR (8UC3) so decode's swizzle path runs
CAMERA_ENCODING = {CAMERAS[0]: "rgb8", CAMERAS[1]: "8UC3"}
TOPICS = (
    (CAMERAS[0], "sensor_msgs/Image"),
    (CAMERAS[1], "sensor_msgs/Image"),
    ("/odom", "nav_msgs/Odometry"),
    ("/scan", "sensor_msgs/LaserScan"),
    ("/status", "std_msgs/String"),
)
STUB_VOCAB = ("Person", "Car", "Bicycle", "Truck", "Motorcycle")
VRU_LABELS = ("Person", "Bicycle", "Motorcycle")
BASE_SEC = 1_600_000_000


def _ros_string(s: str) -> bytes:
    b = s.encode()
    return struct.pack("<I", len(b)) + b


def _std_header(seq: int, sec: int, nsec: int, frame: str) -> bytes:
    return struct.pack("<III", seq, sec, nsec) + _ros_string(frame)


def _image_payload(seq: int, sec: int, nsec: int, w: int, h: int, enc: str, data: bytes) -> bytes:
    return (
        _std_header(seq, sec, nsec, "camera")
        + struct.pack("<II", h, w)
        + _ros_string(enc)
        + b"\x00"
        + struct.pack("<I", w * 3)
        + struct.pack("<I", len(data))
        + data
    )


def _odom_payload(seq: int, sec: int, nsec: int, rng: np.random.Generator) -> bytes:
    pose = rng.normal(size=7)
    twist = rng.normal(size=6)
    return (
        _std_header(seq, sec, nsec, "odom")
        + _ros_string("base_link")
        + struct.pack("<7d", *pose)
        + struct.pack("<36d", *([0.0] * 36))
        + struct.pack("<6d", *twist)
        + struct.pack("<36d", *([0.0] * 36))
    )


def _scan_payload(seq: int, sec: int, nsec: int, rng: np.random.Generator) -> bytes:
    ranges = rng.uniform(0.1, 30.0, 32).astype(np.float32)
    return (
        _std_header(seq, sec, nsec, "laser")
        + struct.pack("<7f", -1.57, 1.57, 0.1, 0.0001, 0.05, 0.1, 30.0)
        + struct.pack("<I", len(ranges)) + ranges.tobytes()
        + struct.pack("<I", 0)
    )


def smooth_frame(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """A camera-like RGB frame: a seeded linear gradient per channel plus
    small noise, so PNG filters and bz2 find structure (uniform random
    bytes would not compress at all). Each channel's gradient stays within
    16..240 at any frame size, so no region saturates: a blur of a
    saturated region would change nothing, like a failed blur."""
    y, x = np.mgrid[0:h, 0:w].astype(np.float32)
    chans = []
    for _ in range(3):
        c0, c1 = rng.uniform(16, 240, 2)
        ax, ay = rng.uniform(0.1, 1.0, 2)
        chans.append(c0 + (c1 - c0) * (ax * x / w + ay * y / h) / (ax + ay))
    img = np.stack(chans, axis=2) + rng.normal(0.0, 3.0, (h, w, 3))
    return np.clip(img, 0, 255).astype(np.uint8)


def stub_label(raw: bytes) -> tuple[str, float, int]:
    """The detector stub's rule, restated: it keys on the first payload
    byte plus the payload length."""
    s = (raw[0] + len(raw)) if raw else 0
    return STUB_VOCAB[s % 5], round(50 + (s % 50), 3), s % 3 + 1


def split_of(rec_id: int) -> str:
    """60/20/20 split: md5 of the decimal id, first 15 hex digits, mod 10."""
    b = int(hashlib.md5(str(rec_id).encode()).hexdigest()[:15], 16) % 10
    return "train" if b < 6 else ("val" if b < 8 else "test")


@dataclass
class Frame:
    bag: str
    topic: str
    seq: int
    sec: int
    nsec: int
    width: int
    height: int
    rgb: bytes  # what decode must produce (RGB order)
    raw: bytes  # the payload as stored in the bag

    @property
    def ts(self) -> datetime.datetime:
        return datetime.datetime.fromtimestamp(self.sec, datetime.timezone.utc).replace(
            tzinfo=None
        ) + datetime.timedelta(microseconds=self.nsec // 1000)

    @property
    def iso(self) -> str:
        return self.ts.strftime("%Y-%m-%dT%H:%M:%S.%f")


@dataclass
class BagSet:
    root: str
    files: list[str]
    bytes_total: int
    topic_counts: dict[str, int]
    frames: list[Frame] = field(default_factory=list)

    def labels(self) -> dict[tuple[str, int], tuple[str, float, int]]:
        return {(f.topic, f.seq): stub_label(f.raw) for f in self.frames}

    def vru_keys(self) -> set[tuple[str, int]]:
        return {k for k, (name, _c, _n) in self.labels().items() if name in VRU_LABELS}

    def split_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for f in self.frames:
            s = split_of(f.seq)
            out[s] = out.get(s, 0) + 1
        return out

    def png_names(self) -> dict[tuple[str, int], str]:
        """Reference basename per frame: ``image_raw-<iso>-<%04d>.png`` with
        the per-camera ordinal taken over (time, seq) across all bags."""
        out = {}
        for cam in CAMERAS:
            ordered = sorted((f for f in self.frames if f.topic == cam), key=lambda f: (f.ts, f.seq))
            for i, f in enumerate(ordered):
                out[(f.topic, f.seq)] = "image_raw-%s-%04d.png" % (f.iso.replace(":", "_"), i)
        return out


def make_bag_set(root: str, seed: int) -> BagSet:
    """Write N_BAGS bags under ``root`` and return what they hold.

    Each bag holds one chunk, bz2 for odd bags and plain for even ones, so
    the set has both kinds. One chunk per bag keeps the task count down: 2
    chunks per bag raised a pass from 28 to 42 tasks.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    conns = b"".join(connection(i, t, m) for i, (t, m) in enumerate(TOPICS))
    counts = {t: 0 for t, _ in TOPICS}
    frames: list[Frame] = []
    files: list[str] = []
    seq = 0
    for b in range(N_BAGS):
        name = f"drive_{b:03d}.bag"
        inner = conns
        cc: dict[int, int] = {}
        times = []
        for i in range(FRAMES_PER_CAMERA):
            sec = BASE_SEC + b * 3600 + i // 10
            nsec = (i % 10) * 100_000_000 + int(rng.integers(0, 1000)) * 1000
            msgs = []
            for c, cam in enumerate(CAMERAS):
                rgb = smooth_frame(rng, WIDTH, HEIGHT)
                enc = CAMERA_ENCODING[cam]
                raw = (rgb[:, :, ::-1] if enc == "8UC3" else rgb).tobytes()
                frames.append(Frame(name, cam, seq, sec, nsec, WIDTH, HEIGHT, rgb.tobytes(), raw))
                msgs.append((c, _image_payload(seq, sec, nsec, WIDTH, HEIGHT, enc, raw)))
                seq += 1
            msgs.append((2, _odom_payload(i, sec, nsec, rng)))
            msgs.append((3, _scan_payload(i, sec, nsec, rng)))
            if i % 2 == 0:
                msgs.append((4, _ros_string(f"status {b}:{i} ok={int(rng.integers(0, 2))}")))
            t = ros_time(sec, nsec)
            times.append(t)
            for cid, payload in msgs:
                inner += message(cid, t, payload)
                cc[cid] = cc.get(cid, 0) + 1
                counts[TOPICS[cid][0]] += 1
        out = b"#ROSBAG V2.0\n" + bag_header()
        pos = len(out)
        out += chunk(inner, "bz2" if b % 2 else "none")
        out += conns  # index region: top-level connection copies ...
        out += chunk_info(pos, times[0], times[-1], cc)  # ... and the chunk info
        path = os.path.join(root, name)
        with open(path, "wb") as f:
            f.write(out)
        files.append(path)
    total = sum(os.path.getsize(p) for p in files)
    return BagSet(root, files, total, counts, frames)


# ---------------------------------------------------------------------------
# Analyst lake (sf0.01 shape of the synthetic testdata).
# ---------------------------------------------------------------------------

LAKE_VERSION = 1
_VOCAB_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "lake_vocab.json")


def make_lake(outdir: str, seed: int = 7) -> None:
    """Write the ten analyst tables into ``outdir`` (one parquet each)."""
    with open(_VOCAB_FILE) as f:
        vocab = json.load(f)
    rng = np.random.default_rng(seed)
    os.makedirs(outdir, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = 1500, 100, 2000, 15000
    n_ev, n_users, n_doc, n_vec = 10000, 150, 500, 500

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(outdir, f"{name}.parquet"))

    def pick(key: str, n: int) -> np.ndarray:
        v = np.array(vocab[key], dtype=object)
        return v[rng.integers(0, len(v), n)]

    write("region", {
        "r_regionkey": pa.array([r[0] for r in vocab["region"]], pa.int32()),
        "r_name": [r[1] for r in vocab["region"]],
    })
    write("nation", {
        "n_nationkey": pa.array([r[0] for r in vocab["nation"]], pa.int32()),
        "n_name": [r[1] for r in vocab["nation"]],
        "n_regionkey": pa.array([r[2] for r in vocab["nation"]], pa.int32()),
    })
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pick("c_mktsegment", n_cust),
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pick("p_name", n_part),
        "p_brand": pick("p_brand", n_part),
        "p_type": pick("p_type", n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(n_part) % 1000 / 10.0, 2),
    })
    day_us = 86_400_000_000
    epoch_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
    o_date = epoch_1995 + rng.integers(0, 2404, n_ord) * day_us
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": o_date.astype("datetime64[us]"),
        "o_orderpriority": pick("o_orderpriority", n_ord),
    })
    lines = 1 + rng.poisson(3.0, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = l_ok.size
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": (np.repeat(o_date, lines) + rng.integers(1, 96, n_li) * day_us).astype("datetime64[us]"),
    })
    epoch_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(epoch_2024 + rng.integers(0, 30 * day_us, n_ev, dtype=np.int64))
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": pick("event_type", n_ev),
        "value": np.round(rng.exponential(50.0, n_ev).clip(0.01, 490), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(vocab["words"], dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 100, n_doc)]
    langs = np.array(["en", "de", "fr", "zh", "es"])
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_vec)
    vecs = centers[label] + rng.normal(0, 0.3, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def tree_digest(path: str) -> str:
    """sha256 over the relative names and bytes of every file under path."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
