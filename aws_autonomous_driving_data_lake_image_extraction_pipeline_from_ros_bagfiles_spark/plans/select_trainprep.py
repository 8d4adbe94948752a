"""Select/anonymize + train-prep queries (SURVEY §3 EP3/EP4) and the
remaining join/window patterns: Rekognition-style per-frame top-k (P7/W3),
manifest positional zip + bbox normalization (J3/F13-F15/A5/A6), the
extension-rewrite key join (J1), and a streaming windowed count (ST6).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.paths import extension_rewrite
from ..operators.detections import explode_labels, stub_detector
from ..tables import load, normalize_event_ts, raw_schema, table_path
from .registry import materialize, register

# Stub-detector long form as SQL (shared with q34's oracle).
_LABELS_CTE = """
    labels AS (
        SELECT strftime(ts, '%Y-%m-%d') AS ts_key, event_type AS camera,
               ['Person','Car','Bicycle','Truck','Motorcycle'][CAST(event_id % 5 AS INT) + 1] AS label,
               round(value, 3) AS confidence,
               CAST(event_id % 3 + 1 AS INT) AS n_instances
        FROM events
        UNION ALL
        SELECT strftime(ts, '%Y-%m-%d'), event_type,
               'Person', round(value / 2, 3), 1
        FROM events WHERE event_id % 3 = 0
    )
"""


# --------------------------------------------------------------------------
# q37 — per-frame top-k labels with a confidence floor: Rekognition's
# MaxLabels=10 / MinConfidence=90 contract (P7/W3,
# select-labelling-imgs.py:29-32) as a rank window. WindowGroupLimit pushes
# the k-limit below the sort, so at scale each group keeps a bounded heap.
# --------------------------------------------------------------------------
@register(
    "q37_topk_labels",
    oracle=f"""
    WITH {_LABELS_CTE},
    ranked AS (
        SELECT ts_key, camera, label, confidence,
               CAST(row_number() OVER (PARTITION BY ts_key, camera
                                       ORDER BY confidence DESC, label) AS INT) AS rk
        FROM labels WHERE confidence >= 50
    )
    SELECT ts_key, camera, label, confidence, rk
    FROM ranked WHERE rk <= 2
    """,
)
def q37_topk_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    framed = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("ts_key"),
        F.col("event_type").alias("camera"),
        stub_detector(F.col("event_id"), F.col("value")).alias("labels"),
    )
    long_df = explode_labels(framed).filter(F.col("confidence") >= 50)
    w = Window.partitionBy("ts_key", "camera").orderBy(F.desc("confidence"), F.asc("label"))
    return (
        long_df.select("ts_key", "camera", "label", "confidence", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 2)
    )


def _manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Ground-Truth-manifest analog from part: nested
    annotations array + positionally-aligned confidence array (B4 schema:
    annotations[i] <-> metadata.objects[i], Transfer-Learning.ipynb cell 13)."""
    part = load(spark, sf_dir, "part")
    box1 = F.struct(
        (F.col("p_partkey") % 2).cast("int").alias("class_id"),
        (F.col("p_partkey") % 700).cast("double").alias("left"),
        (F.col("p_partkey") % 500).cast("double").alias("top"),
        F.col("p_size").cast("double").alias("width"),
        F.col("p_size").cast("double").alias("height"),
    )
    box2 = F.struct(
        F.lit(1).cast("int").alias("class_id"),
        ((F.col("p_partkey") * 7) % 700).cast("double").alias("left"),
        ((F.col("p_partkey") * 3) % 500).cast("double").alias("top"),
        (F.col("p_size") * 2).cast("double").alias("width"),
        F.col("p_size").cast("double").alias("height"),
    )
    conf1 = F.round(((F.col("p_partkey") * 31) % 100).cast("double") / 100, 2)
    conf2 = F.round(((F.col("p_partkey") * 17) % 100).cast("double") / 100, 2)
    two = F.col("p_partkey") % 3 == 0
    return part.select(
        "p_partkey",
        F.when(two, F.array(box1, box2)).otherwise(F.array(box1)).alias("annotations"),
        F.when(two, F.array(conf1, conf2)).otherwise(F.array(conf1)).alias("confidences"),
    )


_MANIFEST_CTE = """
    boxes AS (
        SELECT p_partkey, 0 AS box_pos,
               CAST(p_partkey % 2 AS INT) AS class_id,
               CAST(p_partkey % 700 AS DOUBLE) AS l,
               CAST(p_partkey % 500 AS DOUBLE) AS t,
               CAST(p_size AS DOUBLE) AS w, CAST(p_size AS DOUBLE) AS h,
               round(CAST((p_partkey * 31) % 100 AS DOUBLE) / 100, 2) AS conf
        FROM part
        UNION ALL
        SELECT p_partkey, 1, 1,
               CAST((p_partkey * 7) % 700 AS DOUBLE),
               CAST((p_partkey * 3) % 500 AS DOUBLE),
               CAST(p_size * 2 AS DOUBLE), CAST(p_size AS DOUBLE),
               round(CAST((p_partkey * 17) % 100 AS DOUBLE) / 100, 2)
        FROM part WHERE p_partkey % 3 = 0
    )
"""


# --------------------------------------------------------------------------
# q38 — manifest explode: positional zip of annotations<->confidences
# (J3/F23: ipynb cell 13's `box.confidence = box_confidences[i]`), then
# bbox normalization to corners (F13/F14: ground_truth_od.py:24-30) — the
# LST-prep math as pure column expressions over 800x600 images.
# --------------------------------------------------------------------------
@register(
    "q38_manifest_boxes",
    oracle=f"""
    WITH {_MANIFEST_CTE}
    SELECT p_partkey, box_pos, class_id,
           round(l / 800, 6) AS xmin,
           round(t / 600, 6) AS ymin,
           round((l + w) / 800, 6) AS xmax,
           round((t + h) / 600, 6) AS ymax,
           conf
    FROM boxes
    """,
)
def q38_manifest_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _manifest(spark, sf_dir)
    zipped = m.select(
        "p_partkey",
        F.posexplode(F.arrays_zip("annotations", "confidences")).alias("box_pos", "z"),
    )
    a = F.col("z.annotations")
    return zipped.select(
        "p_partkey",
        F.col("box_pos").cast("int").alias("box_pos"),
        a["class_id"].alias("class_id"),
        F.round(a["left"] / 800, 6).alias("xmin"),
        F.round(a["top"] / 600, 6).alias("ymin"),
        F.round((a["left"] + a["width"]) / 800, 6).alias("xmax"),
        F.round((a["top"] + a["height"]) / 600, 6).alias("ymax"),
        F.col("z.confidences").alias("conf"),
    )


# --------------------------------------------------------------------------
# q39 — per-image manifest stats: mean box confidence (A5:
# ground_truth_od.py:189-194, 0.0 when empty) + box count (A6), via the
# no-explode aggregate path (higher-order aggregate over the array).
# --------------------------------------------------------------------------
@register(
    "q39_manifest_stats",
    oracle=f"""
    WITH {_MANIFEST_CTE}
    SELECT p_partkey,
           CAST(count(*) AS INT) AS n_boxes,
           round(coalesce(avg(conf), 0.0), 6) AS mean_conf
    FROM boxes
    GROUP BY 1
    """,
)
def q39_manifest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _manifest(spark, sf_dir)
    n = F.size("confidences")
    total = F.aggregate("confidences", F.lit(0.0), lambda acc, x: acc + x)
    return m.select(
        "p_partkey",
        n.cast("int").alias("n_boxes"),
        F.round(F.coalesce(total / n, F.lit(0.0)), 6).alias("mean_conf"),
    )


# --------------------------------------------------------------------------
# q40 — extension-rewrite equi-join (J1: frame.png <-> labels.json,
# process-queue-sync.py:152). The derived key is a codegen regexp_replace;
# the join itself is a plain equi-join Catalyst can broadcast.
# --------------------------------------------------------------------------
@register(
    "q40_extension_join",
    oracle="""
    WITH frames AS (
        SELECT event_id, value,
               'frames/' || event_type || '/' || event_id || '.png' AS png_key
        FROM events WHERE event_id % 2 = 0
    ),
    labels AS (
        SELECT event_id AS label_event, event_type,
               'frames/' || event_type || '/' || event_id || '.json' AS json_key
        FROM events WHERE event_id % 3 = 0
    )
    SELECT l.event_type, count(*) AS n_matched, round(sum(f.value), 2) AS sum_value
    FROM frames f
    JOIN labels l ON regexp_replace(f.png_key, '\\.png$', '.json') = l.json_key
    GROUP BY 1
    """,
)
def q40_extension_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    key = F.concat(F.lit("frames/"), F.col("event_type"), F.lit("/"), F.col("event_id"))
    frames = events.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "value", F.concat(key, F.lit(".png")).alias("png_key")
    )
    labels = events.filter(F.col("event_id") % 3 == 0).select(
        F.col("event_type"), F.concat(key, F.lit(".json")).alias("json_key")
    )
    return (
        frames.join(labels, extension_rewrite(F.col("png_key"), "png", "json") == F.col("json_key"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_matched"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


# --------------------------------------------------------------------------
# q41 — streaming tumbling-window counts (ST6): the additive analog of
# q35's max-upsert — per micro-batch partial window counts landed under the
# batch's own batch_id= partition with DYNAMIC OVERWRITE (the
# streaming/upsert.py:87-96 pattern), then compacted by SUM. foreachBatch
# is at-least-once: a replayed batch_id overwrites its own partition
# instead of appending a second copy, so additive state stays correct
# under replay (VERDICT r2/r3 — plain append double-counts). Replay
# idempotence is pinned by tests/test_streaming.py::
# test_q41_partials_replay_idempotent. Oracle is the batch windowed
# aggregation.
# --------------------------------------------------------------------------
@register(
    "q41_streaming_window",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def q41_streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    src = table_path(sf_dir, "events")
    schema = raw_schema(spark, sf_dir, "events")  # raw reader type for ts
    work = tempfile.mkdtemp(prefix="stream_window_")
    try:
        os.makedirs(f"{work}/in")
        os.symlink(os.path.abspath(src), f"{work}/in/events.parquet")
        stream = spark.readStream.schema(schema).parquet(f"{work}/in")

        def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
            (
                normalize_event_ts(batch_df)
                .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
                .agg(F.count("*").alias("partial_n"))
                .select(
                    F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
                    "event_type",
                    "partial_n",
                )
                .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(f"{work}/state")
            )

        q = (
            stream.writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        final = (
            spark.read.parquet(f"{work}/state")
            .groupBy("hour_start", "event_type")
            .agg(F.sum("partial_n").alias("n_events"))
        )
        return materialize(final)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# q61 — watermarked windowed counts on the PRODUCTION streaming path (ST3,
# streaming/windows.py): two arrival-driven availableNow runs over one
# checkpoint (the engine's run-per-arrival pattern; see windows.py note on
# when Spark enforces the late filter):
#   run 1 — A: the freshest hour of events    (commits wm1 = max - 4h)
#   run 2 — B: late arrivals; rows in (max-24h, max-6h) target windows
#      below wm1 -> DROPPED; rows in (max-3h, max-1h] are late but within
#      the watermark -> AGGREGATED; then C: one synthetic far-future probe
#      row that advances the watermark so every real window finalizes and
#      emits (its own window never does).
# The oracle is the batch aggregation over ONLY the admitted rows (A plus
# within-watermark B) — hash-equality proves the engine dropped exactly
# the beyond-watermark set, kept the within-watermark set, and emitted
# each finalized window once. All slice boundaries carry >=1h margin from
# the watermark so hour-window edge semantics cannot flip the result.
# --------------------------------------------------------------------------
@register(
    "q61_watermarked_window",
    oracle="""
    WITH m AS (SELECT max(ts) AS mx FROM events),
    admitted AS (
        SELECT e.ts, e.event_type FROM events e, m
        WHERE e.ts > m.mx - INTERVAL 1 HOUR
           OR (e.ts > m.mx - INTERVAL 3 HOUR AND e.ts <= m.mx - INTERVAL 1 HOUR)
    )
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           count(*) AS n_events
    FROM admitted
    GROUP BY 1, 2
    """,
)
def q61_watermarked_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime
    import os

    from ..streaming.staging import stage_single_parquet
    from ..streaming.windows import watermarked_window_counts

    events = load(spark, sf_dir, "events").select("ts", "event_type")
    mx = events.agg(F.max("ts")).first()[0]

    def between(lo_h: float | None, hi_h: float | None, strict_lo=True, strict_hi=True):
        c = F.lit(True)
        if lo_h is not None:
            bound = F.lit(mx) - F.expr(f"INTERVAL {int(lo_h * 60)} MINUTES")
            c = c & (F.col("ts") > bound if strict_lo else F.col("ts") >= bound)
        if hi_h is not None:
            bound = F.lit(mx) - F.expr(f"INTERVAL {int(hi_h * 60)} MINUTES")
            c = c & (F.col("ts") < bound if strict_hi else F.col("ts") <= bound)
        return c

    batch_a = events.filter(between(1, None, strict_lo=True))          # ts > mx-1h
    late_drop = events.filter(between(24, 6))                          # dropped slice
    late_keep = events.filter(between(3, 1, strict_hi=False))          # admitted slice
    batch_b = late_drop.unionAll(late_keep)
    probe_ts = mx + datetime.timedelta(days=30, minutes=30)
    batch_c = spark.createDataFrame([(probe_ts, "wm_probe")], "ts timestamp, event_type string")

    work = tempfile.mkdtemp(prefix="stream_wm_")
    try:
        src = f"{work}/in"
        os.makedirs(src)
        now = int(__import__("time").time())

        def land(i: int, name: str, df: DataFrame) -> None:
            # mtime = batch order
            stage_single_parquet(df, f"{src}/{name}.parquet", mtime=now - 30 + i * 10)

        def drain() -> None:
            watermarked_window_counts(
                spark,
                src,
                batch_a.schema,
                out_dir=f"{work}/out",
                checkpoint_dir=f"{work}/ckpt",
                delay="4 hours",
                window="1 hour",
                # one batch per ARRIVAL, not per file (VERDICT r10 #4):
                # each micro-batch pays a fixed WAL + per-partition
                # state-commit bill (~1.5 s here), so run 2's two files
                # drain as one batch — the late filter still uses the
                # CHECKPOINTED wm1 (watermarks only move at commit), so
                # drop/keep/finalize behavior is bit-identical and the
                # oracle stays green
                max_files_per_trigger=None,
                # size state stores to the bounded micro-batch, not the
                # session width (same value on BOTH drains — the
                # checkpoint pins its state partition count; r8, the q65
                # job-count collapse applied to this query)
                shuffle_partitions=max(
                    8, spark.sparkContext.defaultParallelism // 4
                ),
            )

        land(0, "a", batch_a)
        drain()  # run 1: commits wm1 = max - 4h to the checkpoint
        land(1, "b", batch_b)
        land(2, "c", batch_c)
        drain()  # run 2: late filter enforced from wm1; probe finalizes all
        final = spark.read.parquet(f"{work}/out")
        return materialize(final)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# q107 — indexed RecordIO training-set sink (S11/K10 byte format,
# im2rec.py:119-184 pack + 194-221 indexed write): the q38 manifest
# becomes real .rec/.idx pairs per hash split (q96's reproducible
# 60/20/20), each record = IRHeader + float32 label vector
# [4, 5, W, H, (class_id, xmin, ymin, xmax, ymax)*] + a deterministic
# 16-byte payload standing in for the encoded image. Every field of the
# container is arithmetic in the fixture, so the oracle pins the EXACT
# byte size of each .rec stream: record = 8 frame + 24 IRHeader +
# 4*(4 + 5*n_boxes) floats + 16 payload (all 4-aligned, no padding) =
# 64 + 20*n_boxes. Content round-trip (labels, ids, payloads, index
# offsets) is pinned in tests/test_recordio.py, not in this plan.
# --------------------------------------------------------------------------
def _q107_oracle() -> str:
    from ..operators.sampling import hash_split_sql

    return f"""
    WITH assigned AS (
        SELECT CASE WHEN p_partkey % 3 = 0 THEN 2 ELSE 1 END AS nb,
               {hash_split_sql("p_partkey")} AS split
        FROM part)
    SELECT split,
           count(*) AS n_records,
           CAST(sum(64 + 20 * nb) AS BIGINT) AS rec_bytes,
           count(*) AS idx_records
    FROM assigned GROUP BY 1
    """


@register("q107_recordio_sink", oracle=_q107_oracle())
def q107_recordio_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_split
    from ..sources.sinks import write_recordio_files

    m = _manifest(spark, sf_dir)
    p = F.col("p_partkey")
    box = lambda a: F.array(
        a["class_id"].cast("double"),
        F.round(a["left"] / 800, 6),
        F.round(a["top"] / 600, 6),
        F.round((a["left"] + a["width"]) / 800, 6),
        F.round((a["top"] + a["height"]) / 600, 6),
    )
    labels = F.concat(
        F.array(F.lit(4.0), F.lit(5.0), F.lit(800.0), F.lit(600.0)),
        F.flatten(F.transform("annotations", box)),
    )
    packed = m.select(
        p.alias("rec_id"),
        labels.alias("labels"),
        F.unhex(F.md5(p.cast("string"))).alias("payload"),
        hash_split(p).alias("split"),
    )
    work = tempfile.mkdtemp(prefix="recordio_")
    try:
        out = write_recordio_files(packed, work)
        return materialize(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# q112 — WebDataset tar-shard training-set export (functions/wds.py +
# sinks.write_webdataset_shards): documents become <key>.txt/<key>.json
# sample pairs in hash-assigned tar shards — the sharded-loader format
# large-scale trainers stream. The sink writes REAL deterministic USTAR
# archives and reports their measured byte sizes; the oracle re-derives
# every shard's exact size from the USTAR layout arithmetic
# (512-byte headers, 512-padded members, 1024 end blocks, 10240 blocking)
# over octet lengths it computes from the same metadata-json expression.
# Member content round-trips (names, bytes, order) are pinned in
# tests/test_wds.py.
# --------------------------------------------------------------------------
Q112_SHARDS = 8


@register(
    "q112_webdataset_shards",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % {Q112_SHARDS} AS shard,
             strlen(text) AS tl,
             strlen('{{"doc_id":' || CAST(doc_id AS VARCHAR)
               || ',"lang":"' || lang || '","source":"' || source
               || '","n_chars":' || CAST(n_chars AS VARCHAR) || '}}') AS jl
      FROM documents
    ),
    sz AS (
      SELECT shard,
             512 + tl + (512 - tl % 512) % 512
             + 512 + jl + (512 - jl % 512) % 512 AS sample_bytes
      FROM m
    ),
    tot AS (
      SELECT shard, count(*) AS n_samples,
             sum(sample_bytes) + 1024 AS raw
      FROM sz GROUP BY 1
    )
    SELECT shard, n_samples,
           CAST(raw + (10240 - raw % 10240) % 10240 AS BIGINT) AS tar_bytes
    FROM tot
    """,
)
def q112_webdataset_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.sinks import write_webdataset_shards

    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    meta = F.concat(
        F.lit('{"doc_id":'), did.cast("string"),
        F.lit(',"lang":"'), F.col("lang"),
        F.lit('","source":"'), F.col("source"),
        F.lit('","n_chars":'), F.col("n_chars").cast("string"),
        F.lit("}"),
    )
    samples = docs.select(
        (
            F.conv(F.substring(F.md5(did.cast("string")), 1, 15), 16, 10)
            .cast("bigint") % Q112_SHARDS
        ).alias("shard"),
        F.concat(F.lit("sample_"), F.lpad(did.cast("string"), 9, "0")).alias("key"),
        "text",
        meta.alias("meta"),
    )
    work = tempfile.mkdtemp(prefix="wds_")
    try:
        out = write_webdataset_shards(samples, work)
        return materialize(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# q128 — in-batch negative sampling for contrastive training: assign every
# document to a hash batch, then give each anchor K deterministic
# negatives drawn from its OWN batch, ranked by a pairwise hash — the
# in-batch-negatives recipe contrastive encoders (CLIP/DPR-style) train
# with, as a reproducible data-prep query.
#
# Scale shape: the candidate join keys on the batch id, and the NUMBER
# of batches is derived from the corpus (ceil(N / BATCH_SIZE)) so the
# batch SIZE — the quadratic term — stays a constant ~BATCH_SIZE rows no
# matter how large the corpus grows; per-task work is bounded at
# BATCH_SIZE^2 per batch, the identical discipline to the LSH block
# join. (A fixed batch COUNT would be the subtle scale bug: batches,
# and the quadratic, would grow with N.) The rank window partitions by
# anchor. All hashes are md5-derived — deterministic and
# engine-identical, so the sample is exactly reproducible (seeded by
# nothing but the data).
# --------------------------------------------------------------------------
Q128_BATCH_SIZE = 20
Q128_K = 2


@register(
    "q128_inbatch_negatives",
    oracle=f"""
    WITH nb AS (
      SELECT greatest(1, CAST(ceil(count(*) / {Q128_BATCH_SIZE}.0) AS BIGINT))
               AS n_batches
      FROM documents),
    b AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % nb.n_batches AS batch
      FROM documents CROSS JOIN nb),
    cand AS (
      SELECT a.doc_id AS anchor_id, n.doc_id AS neg_id,
             md5(CAST(a.doc_id AS VARCHAR) || ':' || CAST(n.doc_id AS VARCHAR)) AS h
      FROM b a JOIN b n ON a.batch = n.batch AND a.doc_id <> n.doc_id),
    ranked AS (
      SELECT anchor_id, neg_id,
             row_number() OVER (PARTITION BY anchor_id ORDER BY h, neg_id) AS rk
      FROM cand)
    SELECT anchor_id, neg_id, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {Q128_K}
    """,
)
def q128_inbatch_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    nb = docs.agg(
        F.greatest(
            F.lit(1),
            F.ceil(F.count("*") / F.lit(float(Q128_BATCH_SIZE))).cast("bigint"),
        ).alias("n_batches")
    )
    batch = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % F.col("n_batches")
    )
    b = docs.crossJoin(F.broadcast(nb)).select("doc_id", batch.alias("batch"))
    a = b.select(F.col("doc_id").alias("anchor_id"), "batch")
    n = b.select(F.col("doc_id").alias("neg_id"), "batch")
    cand = (
        a.join(n, "batch")
        .filter(F.col("anchor_id") != F.col("neg_id"))
        .select(
            "anchor_id",
            "neg_id",
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("anchor_id").cast("string"),
                    F.col("neg_id").cast("string"),
                )
            ).alias("h"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy("h", "neg_id")
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= Q128_K)
        .select("anchor_id", "neg_id", "rk")
    )
