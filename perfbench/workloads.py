"""The benchmark's workloads: what one pass runs and how outputs are checked.

Each workload drives the engine only through its public calls and times
each call from outside: ``op.build`` wraps plan construction, ``op.action``
wraps the call that executes it. Every result is consumed in full, by a
sink or a ``noop`` write, never by ``count()`` (which lets Catalyst prune
unused columns, Python UDF columns included).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections.abc import Callable
from urllib.parse import unquote

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__ as entry
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark import tables
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.functions.png import decode_png
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.functions.timeutil import (
    iso_for_path,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.detections import (
    detections_wide,
    explode_labels,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.detector_udf import (
    detect,
    deterministic_stub_predictor,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.frames import (
    with_frame_ids,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.images import (
    blur_regions,
    decode_frames,
    encode_frames_png,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.sampling import (
    hash_split,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.bag_datasource import (
    register_rosbag_source,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.sinks import (
    write_detections,
    write_png_files,
    write_recordio_files,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.topic_views import (
    image_view,
)

from tools.check_correctness import frame_digest

import inputs
from inputs import CAMERAS, STUB_VOCAB

# importing the gate pins SPARK_GRAFT_TIER=replay; leave it unset instead,
# which selects the same replay tier by the engine's own default
os.environ.pop("SPARK_GRAFT_TIER", None)

LAKE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)
ISO_US = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


class Mismatch(Exception):
    """An operation returned output that differs from its expected value."""


class OpRecord:
    """One operation of one pass: its clock, its two timed calls, and the
    check to run after the pass."""

    def __init__(self, name: str, group: str) -> None:
        self.name = name
        self.group = group
        self.groups = {group}  # job groups whose jobs belong to this op
        self.t0 = self.t1 = 0.0
        self.build_s = 0.0
        self.action_s = 0.0
        self.error: str | None = None
        self.verify: Callable[[], None] | None = None
        self.streams: list = []

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    def build(self, fn):
        t = time.perf_counter()
        try:
            return fn()
        finally:
            self.build_s += time.perf_counter() - t

    def action(self, fn):
        t = time.perf_counter()
        try:
            return fn()
        finally:
            self.action_s += time.perf_counter() - t


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# DuckDB oracle digests
# ---------------------------------------------------------------------------


def oracle_digests(lake_dir: str, names: list[str], cache_dir: str) -> dict[str, list]:
    """frame_digest of each query's DuckDB oracle over ``lake_dir``, cached
    on disk keyed by the oracle SQL and the lake's file contents."""
    sqls = entry.oracle_sql()
    lake_key = inputs.tree_digest(lake_dir)
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name in names:
        key = hashlib.sha256((sqls[name] + "\0" + lake_key).encode()).hexdigest()[:32]
        path = os.path.join(cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)
            continue
        if con is None:
            import duckdb

            con = duckdb.connect()
            con.execute("SET threads TO 4")
            for t in LAKE_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{lake_dir}/{t}.parquet'")
        cur = con.execute(sqls[name])
        cols = [d[0] for d in cur.description]
        out[name] = list(frame_digest(cols, cur.fetchall()))
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(out[name], f)
        os.replace(tmp, path)
    if con is not None:
        con.close()
    return out


def check_digest(name: str, got: list, want: list) -> None:
    if list(got) != list(want):
        raise Mismatch(f"{name}: digest (rows, cols, hash) {list(got)} != oracle {list(want)}")


# ---------------------------------------------------------------------------
# lake_query
# ---------------------------------------------------------------------------


class LakeQueries:
    """Analyst queries from the registry over the generated lake; each is
    checked against its DuckDB oracle on the first warm-up pass."""

    name = "lake_query"
    # the cold check pass, then two noop passes. In a 10-pass probe the noop
    # passes ran 9.9, 8.3, 6.8, 5.9 s and then held near 5-6 s. A third noop
    # warm-up pass did not make the timed passes steadier over 10 seeds
    # (spread 0.20 against 0.12 and 0.14), so it is left out
    warmup_passes = 3
    min_timed = 3
    check_every_pass = False
    seeded_order = True
    layer_of: dict[str, str] = {}  # operation -> its per-layer time metric
    queries = (
        "q12_detections_pivot", "q34_detections_e2e", "q59_find_images_with_cars",
        "q03_join_revenue", "q10_topk_per_group",
        "q46_tpch_q1", "q121_tpch_q18", "q208_tpch_q8",
        "q16_json_extract", "q66_asof_join", "q67_range_join",
    )

    def __init__(self, h) -> None:
        self.h = h
        self.registry = entry.queries()
        self.digests: dict[str, list] = {}

    def stage_inputs(self) -> None:
        self.lake = self.h.ensure_lake()
        self.digests = oracle_digests(self.lake, list(self.queries), self.h.oracle_cache)

    def setup(self) -> None:
        t = time.perf_counter()
        tables.materialize_bucketed(self.h.spark, self.lake)
        self.h.run_layers["tables.layout_s"] = time.perf_counter() - t

    def begin_pass(self, idx: int) -> None:
        pass

    def op_names(self) -> list[str]:
        return list(self.queries)

    def run_op(self, name: str, op: OpRecord, check: bool):
        df = op.build(lambda: self.registry[name](self.h.spark, self.lake))
        if not check:
            op.action(lambda: _noop(df))
            return None
        rows = op.action(lambda: [tuple(r) for r in df.collect()])
        got = frame_digest(df.columns, rows)
        return lambda: check_digest(name, got, self.digests[name])

    def end_pass(self, idx: int, layers: dict) -> None:
        pass


# ---------------------------------------------------------------------------
# bag_ingest
# ---------------------------------------------------------------------------

# the anonymizer's blur rectangle, x1 y1 x2 y2: the middle quarter of a frame
BOX = (inputs.WIDTH // 4, inputs.HEIGHT // 4, inputs.WIDTH * 3 // 4, inputs.HEIGHT * 3 // 4)


def _sanitized(topic: str) -> str:
    # the PNG sink's directory per topic: strip slashes, '/' -> '_'
    return topic.strip("/").replace("/", "_")


class BagIngest:
    """The paper's pipeline end to end on a seeded bag set: extract ->
    frames/PNG -> enrich -> select/anonymize -> train-prep. Every pass is
    checked against values the generator computed."""

    name = "bag_ingest"
    # pass 0 runs cold (19-25 s, about 3x a warm pass). Later passes keep
    # drifting down slowly (7.6 -> 6.8 s over passes 1-4 in a probe); a
    # second warm-up pass would add ~8 s to every run, more than the time
    # budget allows, so the timed passes sit at passes 1-3 of that curve
    warmup_passes = 1
    min_timed = 3
    check_every_pass = True
    seeded_order = False  # the stages depend on each other
    stages = ("extract", "png", "enrich", "anonymize", "trainprep")
    layer_of = {
        "extract": "sources.extract_s",
        "png": "operators.png_s",
        "enrich": "operators.enrich_s",
        "anonymize": "operators.anonymize_s",
        "trainprep": "sinks.trainprep_s",
    }

    def __init__(self, h) -> None:
        self.h = h

    def stage_inputs(self) -> None:
        self.bags = inputs.make_bag_set(os.path.join(self.h.work, "bags"), self.h.seed)
        self.labels = self.bags.labels()
        self.vru = self.bags.vru_keys()
        self.names = self.bags.png_names()
        self.by_key = {(f.topic, f.seq): f for f in self.bags.frames}
        self.h.info["input_mb"] = round(self.bags.bytes_total / 1e6, 3)
        self.h.info["frames"] = len(self.bags.frames)

    def setup(self) -> None:
        register_rosbag_source(self.h.spark)
        self.h.run_layers["tables.layout_s"] = 0.0

    def begin_pass(self, idx: int) -> None:
        # step 1 of each pass: land the bag set in a fresh directory
        self.idx = idx
        self.pass_dir = os.path.join(self.h.work, f"pass-{idx}")
        self.d = {
            k: os.path.join(self.pass_dir, k)
            for k in ("landing", "topics", "ckpt", "png", "det", "anon", "rec")
        }
        os.makedirs(self.d["landing"])
        for p in self.bags.files:
            shutil.copy(p, self.d["landing"])

    def op_names(self) -> list[str]:
        return list(self.stages)

    def _frames(self):
        return image_view(self.h.spark.read.parquet(self.d["topics"]))

    def run_op(self, name: str, op: OpRecord, check: bool):
        return getattr(self, f"_op_{name}")(op)

    def _op_extract(self, op: OpRecord):
        spark = self.h.spark
        stream = op.build(
            lambda: spark.readStream.format("rosbag").option("path", self.d["landing"]).load()
        )

        def drain():
            q = (
                stream.writeStream.format("parquet")
                .option("path", self.d["topics"])
                .option("checkpointLocation", self.d["ckpt"])
                .trigger(availableNow=True)
                .start()
            )
            op.streams.append(q)
            op.groups.add(str(q.runId))
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")

        op.action(drain)

        def verify():
            t = pq.read_table(self.d["topics"], columns=["topic"])
            got: dict[str, int] = {}
            for topic in t.column("topic").to_pylist():
                got[topic] = got.get(topic, 0) + 1
            if got != self.bags.topic_counts:
                raise Mismatch(f"extract: per-topic counts {got} != {self.bags.topic_counts}")

        return verify

    def _op_png(self, op: OpRecord):
        def plan():
            raw = self._frames()
            named = with_frame_ids(decode_frames(raw), tiebreak="seq").withColumn(
                "png_name",
                F.format_string("image_raw-%s-%04d.png", iso_for_path(F.col("ts")), F.col("frame_id")),
            )
            return raw, named

        raw, named = op.build(plan)
        n = op.action(lambda: write_png_files(named, self.d["png"], name_col="png_name", groups_src=raw))

        def verify():
            want = len(self.bags.frames)
            files = sum(len(os.listdir(os.path.join(self.d["png"], _sanitized(c)))) for c in CAMERAS)
            if n != want or files != want:
                raise Mismatch(f"png: wrote {n} ({files} files), expected {want}")
            if self.idx == 0:
                # one frame per camera, in the run's first pass only:
                # decode_png takes about 1 s on a VGA frame, and the run's
                # time budget has no room for that on every pass
                rng = np.random.default_rng(self.h.seed)
                for cam in CAMERAS:
                    keys = sorted(k for k in self.names if k[0] == cam)
                    key = keys[rng.integers(len(keys))]
                    f = self.by_key[key]
                    with open(os.path.join(self.d["png"], _sanitized(cam), self.names[key]), "rb") as fh:
                        pix, w, h, ch = decode_png(fh.read())
                    if (w, h, ch) != (f.width, f.height, 3) or pix != f.rgb:
                        raise Mismatch(f"png: {self.names[key]} does not round-trip its frame")

        return verify

    def _op_enrich(self, op: OpRecord):
        def plan():
            labels = detect(self._frames(), deterministic_stub_predictor)
            keyed = labels.withColumn("ts_key", F.date_format("ts", ISO_US)).withColumn(
                "camera", F.col("topic")
            )
            return detections_wide(explode_labels(keyed), list(STUB_VOCAB))

        wide = op.build(plan)
        op.action(lambda: write_detections(wide, self.d["det"], partition_col="camera"))

        def verify():
            t = pq.read_table(self.d["det"]).to_pylist()
            got = {
                (r["ts_key"], unquote(str(r["camera"]))): (
                    tuple(r[v] for v in STUB_VOCAB), r["ped_count"], r["wheeler_count"]
                )
                for r in t
            }
            want = {}
            for (topic, seq), (label, conf, n) in self.labels.items():
                f = self.by_key[(topic, seq)]
                maxes = tuple(conf if v == label else None for v in STUB_VOCAB)
                ped = n if label == "Person" else 0
                wheel = n if label in ("Bicycle", "Motorcycle") else 0
                want[(f.iso, topic)] = (maxes, ped, wheel)
            if len(t) != len(want) or got != want:
                raise Mismatch(f"enrich: {len(t)} detection rows differ from the {len(want)} expected")

        return verify

    def _op_anonymize(self, op: OpRecord):
        x1, y1, x2, y2 = BOX

        def plan():
            wide = self.h.spark.read.parquet(self.d["det"])
            vru = wide.filter((F.col("ped_count") > 0) | (F.col("wheeler_count") > 0)).select(
                "ts_key", "camera"
            )
            frames = (
                decode_frames(self._frames())
                .withColumn("ts_key", F.date_format("ts", ISO_US))
                .withColumn("camera", F.col("topic"))
                .join(F.broadcast(vru), ["ts_key", "camera"], "left_semi")
                .withColumn(
                    "boxes",
                    F.array(F.struct(F.lit(x1).alias("x1"), F.lit(y1).alias("y1"),
                                     F.lit(x2).alias("x2"), F.lit(y2).alias("y2"))),
                )
            )
            return blur_regions(frames)

        blurred = op.build(plan)
        op.action(lambda: blurred.write.mode("overwrite").parquet(self.d["anon"]))

        def verify():
            t = pq.read_table(self.d["anon"], columns=["topic", "seq", "pixels"]).to_pylist()
            got = {(r["topic"], r["seq"]) for r in t}
            if len(t) != len(self.vru) or got != self.vru:
                raise Mismatch(f"anonymize: selected {len(t)} frames, expected {len(self.vru)} VRU frames")
            for r in t:
                f = self.by_key[(r["topic"], r["seq"])]
                a = np.frombuffer(r["pixels"], np.uint8).reshape(f.height, f.width, 3)
                b = np.frombuffer(f.rgb, np.uint8).reshape(f.height, f.width, 3)
                outside = np.ones(a.shape[:2], bool)
                outside[y1:y2, x1:x2] = False
                if not np.array_equal(a[outside], b[outside]) or np.array_equal(a, b):
                    raise Mismatch(f"anonymize: blur of {f.topic} seq {f.seq} touched pixels outside its box, or none inside")

        return verify

    def _op_trainprep(self, op: OpRecord):
        def plan():
            pngs = encode_frames_png(decode_frames(self._frames()))
            packed = pngs.select(
                F.col("seq").alias("rec_id"),
                F.array(F.col("img_width").cast("float"), F.col("img_height").cast("float")).alias("labels"),
                F.col("png").alias("payload"),
                hash_split(F.col("seq")).alias("split"),
            )
            return write_recordio_files(packed, self.d["rec"])

        summary = op.build(plan)
        rows = op.action(lambda: [r.asDict() for r in summary.collect()])

        def verify():
            got = {r["split"]: r["n_records"] for r in rows}
            want = self.bags.split_counts()
            bad = [r for r in rows if r["idx_records"] != r["n_records"] or r["rec_bytes"] <= 0]
            if got != want or bad:
                raise Mismatch(f"trainprep: n_records {got} != {want}")
            for s in want:
                if not os.path.getsize(os.path.join(self.d["rec"], f"{s}.rec")):
                    raise Mismatch(f"trainprep: {s}.rec is empty")

        return verify

    def end_pass(self, idx: int, layers: dict) -> None:
        files = nbytes = 0
        for k in ("topics", "png", "det", "anon", "rec"):
            for dirpath, dirs, names in os.walk(self.d[k]):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                for n in names:
                    if n.startswith(("_", ".")):
                        continue
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, n))
        layers["sinks.files"] = files
        layers["sinks.bytes_mb"] = nbytes / 1e6
        layers["sources.extract_rows"] = pq.read_table(self.d["topics"], columns=["topic"]).num_rows
        shutil.rmtree(self.pass_dir, ignore_errors=True)


WORKLOADS = {w.name: w for w in (BagIngest, LakeQueries)}
