"""Grouped-map and split-reader queries (q51-q52)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from .registry import audit_round, materialize, register


# --------------------------------------------------------------------------
# q51 — grouped-map normalization (applyInPandas): per-label z-score of the
# first embedding component. The grouped-map pattern is the engine's
# designated escape hatch for per-group imperative logic (U-family); the
# oracle reproduces the same sample-std z-score in SQL, proving the pandas
# path computes exactly what the declarative form would.
# --------------------------------------------------------------------------
@register(
    "q51_grouped_zscore",
    oracle="""
    SELECT vec_id, label,
           round((CAST(embedding[1] AS DOUBLE) - avg(CAST(embedding[1] AS DOUBLE)) OVER (PARTITION BY label))
                 / stddev_samp(CAST(embedding[1] AS DOUBLE)) OVER (PARTITION BY label), 4) AS z
    FROM embeddings
    """,
)
def q51_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.element_at("embedding", 1).cast("double").alias("x")
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        x = pdf["x"].astype("float64")
        z = ((x - x.mean()) / x.std(ddof=1)).round(4)
        # singleton group (std undefined) or zero variance (0/0): pandas
        # yields NaN/inf where SQL stddev_samp / division yields NULL —
        # mask to null (nullable Float64 -> Arrow null) for parity
        z = z.astype("Float64").mask(~np.isfinite(z.to_numpy(dtype="float64", na_value=float("nan"))))
        return pd.DataFrame({"vec_id": pdf["vec_id"], "label": pdf["label"], "z": z})

    return emb.groupBy("label").applyInPandas(zscore, schema="vec_id bigint, label int, z double")


# --------------------------------------------------------------------------
# q53 — salted skew-safe aggregation: two-phase (keys+salt partial, keys
# merge) groupBy over events, oracle-checked against the direct groupBy —
# proving the decomposition is exact for algebraic aggregates. At scale
# this is the pattern for a hot camera/user key whose group exceeds one
# task's memory; AQE handles join skew but not aggregation skew.
# --------------------------------------------------------------------------
@register(
    "q53_salted_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(max(value), 3) AS max_value,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def q53_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_agg

    # the oracle counts ROWS (count(*)); salted_agg's "count" is SQL
    # count(col) — skip-nulls — so count a never-null literal, not the
    # nullable value column (latent divergence the day a fixture carries
    # a NULL value; see salted_agg's docstring contract)
    events = load(spark, sf_dir, "events").withColumn("__one", F.lit(1))
    out = salted_agg(
        events,
        keys=["event_type"],
        aggs={
            "n_events": ("count", "__one"),
            "max_value": ("max", "value"),
            "sum_value": ("sum", "value"),
        },
        salt_n=16,
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round("max_value", 3).alias("max_value"),
        F.round("sum_value", 2).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# q54 — near-dup cluster resolution: banded-LSH candidates + exact-Jaccard
# verify (q24's recipe — since r5 the default pair generator here: band
# buckets keep candidate counts ~linear in corpus size, where the raw
# shingle-inverted-index join was quadratic against the fixed 3-gram
# vocabulary) -> connected components -> one canonical survivor per
# cluster. The oracle replays the identical minhash/band/verify pipeline
# and computes the same transitive closure with a recursive CTE; the
# Spark side runs distributed min-label propagation (no driver-side
# graph), which is the only form that survives a billion-edge pair list.
# --------------------------------------------------------------------------
def _q54_oracle() -> str:
    from .llm_ops import closure_ctes, minhash_pair_ctes

    from ..operators.dedup import DEFAULT_BUCKET_CAP

    return f"""
    WITH RECURSIVE
    {minhash_pair_ctes(0.2, max_bucket=DEFAULT_BUCKET_CAP)},
    {closure_ctes()}
    SELECT doc_id, cluster_id FROM comp
    """


@register("q54_dedup_clusters", oracle=_q54_oracle())
def q54_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session-shared pair-gen + CC stage (VERDICT r8 #2): q54/q157/q203
    # consume the SAME components frame, computed once; band/shingle
    # cache hygiene lives inside family_pairs
    from ..operators.components import family_components

    comp = family_components(spark, sf_dir, threshold=0.2)
    out = comp.select(F.col("node").alias("doc_id"), "cluster_id")
    return materialize(out)


# --------------------------------------------------------------------------
# q55 — trained-IVF ANN, HASH-GATED since r9 (VERDICT r8 #4: was rows-only
# on MLlib KMeans, whose centroids are float-order-dependent). The trainer
# is now ann_ivf.deterministic_lloyd (q184's engine-portable quantizer:
# seedless md5-smallest init, integer-quantized means), the probe ranking
# is a sequential double fold (numpy's pairwise-summed floats are the one
# fold DuckDB can't replay), and the in-bucket top-5 follows q26's
# convention (raw-cosine order: sequential folds are bit-identical on
# both engines; ties -> vec_id). The oracle replays training, probe
# choice, pruned scan and ranking end-to-end with integer-quantized
# distances. MLlib KMeans remains the trainer of q70/q103; ivf_topk
# (numpy probe) agreement with this plan is pinned in
# tests/test_ann_ivf.py. Top-5 neighbors of vec_id=0 probing 3 of 8
# trained buckets — the production shape of q27's bucket pruning.
# --------------------------------------------------------------------------
def _q55_oracle() -> str:
    from .analytics import lloyd_dist_sql, lloyd_oracle_ctes

    return f"""
    WITH {lloyd_oracle_ctes("8", 2)},
    q AS (SELECT e AS qe FROM sv WHERE vec_id = 0),
    pb AS (
        SELECT bucket FROM (
            SELECT i.bucket,
                   row_number() OVER (
                       ORDER BY {lloyd_dist_sql("q.qe", "i.c")}, i.bucket
                   ) AS rn
            FROM c2 i CROSS JOIN q)
        WHERE rn <= 3),
    sims AS (
        SELECT af.vec_id,
               list_sum(list_transform(af.e, (x, i) -> x * q.qe[i]))
               / (sqrt(list_sum(list_transform(af.e, x -> x * x)))
                  * sqrt(list_sum(list_transform(q.qe, x -> x * x)))) AS sim
        FROM af JOIN pb USING (bucket) CROSS JOIN q
        WHERE af.vec_id <> 0)
    SELECT vec_id, round(sim, 6) AS cosine
    FROM sims ORDER BY sim DESC, vec_id LIMIT 5
    """


@register("q55_ann_ivf", oracle=_q55_oracle())
def q55_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann_ivf import (
        assign_buckets,
        centroid_list,
        deterministic_lloyd,
        probe_buckets_table,
    )
    from ..operators.similarity import cosine

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # snapshot the trained 8-row centroid frame: it feeds BOTH the probe
    # ranking and the centroid collect behind the corpus assignment, so
    # without the barrier the full O(N·B·d) training lineage executes
    # twice (r9 round-diff review). materialize() — not a raw
    # localCheckpoint — so the plan audit still sees the training joins.
    cents = materialize(deterministic_lloyd(emb, 8, iters=2))
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    # serving runs no Python: at B = 8 assign_buckets is the
    # literal-codegen projection (fastest shape at small B — sf1.0:
    # 10.4 s vs 18.1 s for the table aggregate), and the probe ranking
    # is the broadcast centroid-table aggregate
    bucketed = assign_buckets(emb, centroid_list(cents))
    pb = probe_buckets_table(
        q.select(F.lit(0).alias("qid"), "qvec"), cents, nprobe=3
    ).select(F.explode("probe_buckets").alias("bucket"))
    cand = (
        bucketed.filter(F.col("vec_id") != 0)
        .join(F.broadcast(pb), "bucket")  # pruned scan: ~nprobe/B of corpus
        .crossJoin(F.broadcast(q))
    )
    sim = cosine(F.col("embedding"), F.col("qvec"))
    out = (
        cand.select("vec_id", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(5)
        .select("vec_id", F.round("sim", 6).alias("cosine"))
    )
    # the serving join shape (pruned scan + broadcast probe) hides
    # behind the materialize barrier in the registry-level explain
    audit_round("q55:serve_topk", out)
    return materialize(out)


# --------------------------------------------------------------------------
# q52 — chunk-split bag decode (rows-only): the splittable reader driven as
# a query — write the fixture bag (with its top-level connection copies) to
# a temp file, read it through format("rosbag") with one task per chunk,
# aggregate. Counts must match q32, which reads the same messages from the
# unindexed layout.
# --------------------------------------------------------------------------
@register("q52_bag_split_decode")
def q52_bag_split_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.bag_datasource import register_rosbag_source
    from ..sources.rosbag_fixtures import build_demo_bag

    work = tempfile.mkdtemp(prefix="bag_split_")
    try:
        path = os.path.join(work, "demo.bag")
        with open(path, "wb") as f:
            f.write(build_demo_bag(n_frames=8, top_level_connections=True))
        register_rosbag_source(spark)
        rec = spark.read.format("rosbag").option("path", path).load()
        out = (
            rec.groupBy("topic", "msg_type")
            .agg(
                F.count("*").alias("n_msgs"),
                F.min("ros_time").alias("min_ros_time"),
                F.max("ros_time").alias("max_ros_time"),
            )
            .orderBy("topic")
        )
        return materialize(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# q60 — topic/time predicate pushdown into the bag reader (SURVEY §4.2
# "optional nicety", reference's unused topics_to_extract intent,
# ecs_stack.py:180,308). The indexed fixture bag is deterministic, so the
# expected output is a CONSTANT — the oracle hash-checks the pushdown
# decode end-to-end: camera topic + frames 8..15 selects exactly 1 of 4
# chunks from the op-6 chunk index (odd chunks have no camera messages,
# chunk 0 is outside the time range); n_diff proves the read with the
# `topics`/`timerange` options == the full read + DataFrame filter;
# chunks_selected proves the pruning really avoided I/O.
# --------------------------------------------------------------------------
@register(
    "q60_bag_topic_pushdown",
    oracle="""
    SELECT '/camera_front/image_raw' AS topic,
           CAST(4 AS BIGINT) AS n_msgs,
           CAST(1600000008 AS BIGINT) AS min_sec,
           CAST(1600000011 AS BIGINT) AS max_sec,
           4 AS chunks_total,
           1 AS chunks_selected,
           CAST(0 AS BIGINT) AS n_diff
    """,
)
def q60_bag_topic_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.bag_datasource import register_rosbag_source
    from ..sources.rosbag import plan_bag_splits
    from ..sources.rosbag_fixtures import build_indexed_bag, ros_time

    cam = "/camera_front/image_raw"
    trange = (ros_time(1600000008, 8000), ros_time(1600000015, 15000))
    work = tempfile.mkdtemp(prefix="bag_push_")
    try:
        path = os.path.join(work, "indexed.bag")
        with open(path, "wb") as f:
            f.write(build_indexed_bag(n_frames=16, n_chunks=4))
        _, stats = plan_bag_splits([path], topics=[cam], time_range=trange)
        register_rosbag_source(spark)
        cmp_cols = ["topic", "msg_type", "ros_time", "seq"]
        pushed = materialize(
            spark.read.format("rosbag").option("path", path)
            .option("topics", cam)
            .option("timerange", f"{trange[0]}:{trange[1]}")
            .load()
            .select(cmp_cols)
        )
        # the full read is checkpointed before it is filtered, so the
        # filter cannot be pushed back into the scan
        sec = F.col("ros_time").bitwiseAND(F.lit(0xFFFFFFFF))
        full_filtered = materialize(
            spark.read.format("rosbag").option("path", path).load().select(cmp_cols)
        ).filter((F.col("topic") == cam) & sec.between(1600000008, 1600000015))
        n_diff = (
            pushed.exceptAll(full_filtered).count()
            + full_filtered.exceptAll(pushed).count()
        )
        out = (
            pushed.groupBy("topic")
            .agg(
                F.count("*").alias("n_msgs"),
                F.min(sec).alias("min_sec"),
                F.max(sec).alias("max_sec"),
            )
            .withColumn("chunks_total", F.lit(stats["chunks_total"]))
            .withColumn("chunks_selected", F.lit(stats["chunks_selected"]))
            .withColumn("n_diff", F.lit(n_diff).cast("bigint"))
        )
        return materialize(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# q62 — per-topic dynamic schema split (SURVEY §4.2 item 5, the reference's
# two-pass lazy schema discovery, bagstream.py:324-342): discover the
# topic/type set from the bag itself (a metadata aggregation, not a second
# data scan), then materialize one TYPED view per discovered type
# (from_json fixed schemas / the image binary+metadata layout). Each view
# proves real typed parsing with a type-specific value checksum. The demo
# fixture is deterministic, so the expected output is a constant oracle.
# --------------------------------------------------------------------------
@register(
    "q62_topic_schema_split",
    oracle="""
    SELECT * FROM (VALUES
        ('/camera_front/image_raw', 'sensor_msgs/Image',     CAST(8 AS BIGINT), 4,  CAST(112.0 AS DOUBLE)),
        ('/odom',                   'nav_msgs/Odometry',     CAST(8 AS BIGINT), 10, CAST(30.8 AS DOUBLE)),
        ('/scan',                   'sensor_msgs/LaserScan', CAST(8 AS BIGINT), 7,  CAST(227.44 AS DOUBLE)),
        ('/status',                 'std_msgs/String',       CAST(8 AS BIGINT), 1,  CAST(8.0 AS DOUBLE))
    ) AS t(topic, msg_type, n_msgs, typed_cols, checksum)
    """,
)
def q62_topic_schema_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.topic_views import PAYLOAD_SCHEMAS, image_view, topic_view
    from .pipeline import _demo_records

    rec = _demo_records(spark, sf_dir)
    # pass 1 — discovery: which (topic, msg_type) pairs exist (tiny result;
    # the reference discovers this lazily per connection)
    discovered = sorted(
        (r.topic, r.msg_type)
        for r in rec.select("topic", "msg_type").distinct().collect()
    )
    # pass 2 — one typed view per discovered type, each summarized with a
    # checksum that only a correctly-parsed typed column can produce
    checks = {
        "nav_msgs/Odometry": F.col("pos_x") + F.col("lin_x"),
        "sensor_msgs/LaserScan": F.col("angle_min") + F.col("range_max"),
        "std_msgs/String": F.when(F.col("data").startswith("status-"), 1.0).otherwise(0.0),
    }
    parts = []
    for topic, mt in discovered:
        if mt == "sensor_msgs/Image":
            view = image_view(rec).filter(F.col("topic") == topic)
            typed_cols, chk = 4, F.col("img_width") + F.col("img_height")
        elif mt in PAYLOAD_SCHEMAS:
            view = topic_view(rec, mt).filter(F.col("topic") == topic)
            typed_cols = PAYLOAD_SCHEMAS[mt].count(",") + 1
            chk = checks[mt]
        else:  # undeclared type: raw view, no typed checksum
            view = rec.filter((F.col("topic") == topic) & (F.col("msg_type") == mt))
            typed_cols, chk = 0, F.lit(0.0)
        parts.append(
            view.groupBy()
            .agg(
                F.count("*").alias("n_msgs"),
                F.round(F.sum(chk.cast("double")), 6).alias("checksum"),
            )
            .select(
                F.lit(topic).alias("topic"),
                F.lit(mt).alias("msg_type"),
                "n_msgs",
                F.lit(typed_cols).alias("typed_cols"),
                "checksum",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("topic")


# --------------------------------------------------------------------------
# q69 — the bag reader as a Spark DataSource (`format("rosbag")`) with
# PLANNER-driven filter pushdown: a plain `.filter(topic == cam)` reaches
# BagDataSourceReader.pushFilters, which prunes chunks through the op-6
# index and applies the filter exactly (the consumed filter leaves no
# topic residual in the plan). Proof of pruning is external: the pushed
# read plans 2 of 4 chunk partitions (camera lives only in even chunks of
# the indexed fixture). n_diff checks the pushed rows equal the full
# read's rows filtered after the scan. Constant oracle — the fixture is
# deterministic (same pattern as q60/q62).
# --------------------------------------------------------------------------
@register(
    "q69_bag_datasource",
    oracle="""
    SELECT '/camera_front/image_raw' AS topic,
           CAST(8 AS BIGINT) AS n_msgs,
           CAST(1600000000 AS BIGINT) AS min_sec,
           CAST(1600000011 AS BIGINT) AS max_sec,
           2 AS parts_pushed,
           4 AS parts_full,
           CAST(0 AS BIGINT) AS n_diff
    """,
)
def q69_bag_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.bag_datasource import register_rosbag_source
    from ..sources.rosbag_fixtures import build_indexed_bag

    cam = "/camera_front/image_raw"
    work = tempfile.mkdtemp(prefix="bag_dsv2_")
    try:
        path = os.path.join(work, "indexed.bag")
        with open(path, "wb") as f:
            f.write(build_indexed_bag(n_frames=16, n_chunks=4))
        register_rosbag_source(spark)
        full = spark.read.format("rosbag").option("path", path).load()
        pushed = (
            spark.read.format("rosbag").option("path", path).load()
            .filter(F.col("topic") == cam)
        )
        parts_full = full.rdd.getNumPartitions()
        parts_pushed = pushed.rdd.getNumPartitions()
        cmp_cols = ["topic", "msg_type", "ros_time", "seq"]
        # decode each side ONCE: the two exceptAll directions plus the
        # final aggregate would otherwise re-run the Python-DataSource
        # bag decode per consumer (3 scans of the pushed read, 2 of the
        # full read — the decode is the whole cost of this fixture). The
        # full read is filtered after its checkpoint, so the filter cannot
        # be pushed back into its scan.
        pushed_rows = materialize(pushed.select(cmp_cols))
        full_rows = materialize(full.select(cmp_cols)).filter(F.col("topic") == cam)
        n_diff = (
            pushed_rows.exceptAll(full_rows).count()
            + full_rows.exceptAll(pushed_rows).count()
        )
        sec = F.col("ros_time").bitwiseAND(F.lit(0xFFFFFFFF))
        out = (
            pushed_rows.groupBy("topic")
            .agg(
                F.count("*").alias("n_msgs"),
                F.min(sec).alias("min_sec"),
                F.max(sec).alias("max_sec"),
            )
            .withColumn("parts_pushed", F.lit(parts_pushed))
            .withColumn("parts_full", F.lit(parts_full))
            .withColumn("n_diff", F.lit(n_diff).cast("bigint"))
        )
        return materialize(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# q70 — IVF index persistence (ROADMAP #9): train + bucket-assign once,
# save_ivf_index writes the (centroids, partitionBy(bucket) corpus)
# parquet pair, load_ivf_index restores it in what would be a NEW session,
# and batched search over the loaded index must equal search over the
# in-memory index row-for-row (n_diff). partition_pruned proves the
# durable layout keeps the nprobe/B scan property: a probe's bucket
# predicate lands in PartitionFilters on the parquet scan, so non-probed
# buckets are never read. KMeans specifics never reach the output, so the
# oracle is a constant.
# --------------------------------------------------------------------------
@register(
    "q70_ivf_index_persist",
    oracle="""
    SELECT 5 AS n_queries,
           CAST(25 AS BIGINT) AS rows_mem,
           CAST(25 AS BIGINT) AS rows_loaded,
           CAST(0 AS BIGINT) AS n_diff,
           TRUE AS centroids_roundtrip,
           TRUE AS partition_pruned
    """,
)
def q70_ivf_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann_ivf import (
        assign_buckets,
        ivf_topk,
        ivf_topk_batch,
        load_ivf_index,
        save_ivf_index,
        train_quantizer,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = train_quantizer(emb, n_buckets=8)
    bucketed = assign_buckets(emb, centroids).cache()
    work = tempfile.mkdtemp(prefix="ivf_idx_")
    try:
        save_ivf_index(bucketed, centroids, work)
        corpus2, cents2 = load_ivf_index(spark, work)
        roundtrip = cents2 == [[float(x) for x in c] for c in centroids]

        queries = bucketed.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        n_queries = queries.count()
        # k x n_queries rows each — collect once, multiset-diff driver-side
        # (identical float paths on both sides, so exact equality is the bar)
        mem_df = ivf_topk_batch(bucketed, centroids, queries, k=5, nprobe=3)
        # capture the batch probe-join plan (broadcast probe side — the
        # r12 _probe_topk hint) for the plan evidence files
        audit_round("q70:probe_batch", mem_df)
        mem = sorted(map(tuple, mem_df.collect()))
        loaded = sorted(
            map(tuple, ivf_topk_batch(
                corpus2, cents2, queries, k=5, nprobe=3
            ).collect())
        )
        rows_mem, rows_loaded = len(mem), len(loaded)
        n_diff = sum(a != b for a, b in zip(mem, loaded)) + abs(rows_mem - rows_loaded)

        # single-query probe over the durable layout: the bucket IN (...)
        # predicate must be a partition filter, not a post-scan filter
        qvec = [float(x) for x in queries.first().qvec]
        probe_df = ivf_topk(corpus2, cents2, qvec, k=5, nprobe=3)
        plan = probe_df._jdf.queryExecution().executedPlan().toString()
        pruned = "PartitionFilters" in plan and "bucket" in plan

        return spark.createDataFrame(
            [
                (
                    int(n_queries),
                    int(rows_mem),
                    int(rows_loaded),
                    int(n_diff),
                    bool(roundtrip),
                    bool(pruned),
                )
            ],
            "n_queries int, rows_mem bigint, rows_loaded bigint, "
            "n_diff bigint, centroids_roundtrip boolean, partition_pruned boolean",
        )
    finally:
        bucketed.unpersist()
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# q95 — STREAMING bag ingest through the Python DataSource
# (`spark.readStream.format("rosbag")`, sources/bag_datasource.py
# BagStreamReader): two bags land in a directory across two availableNow
# runs sharing one checkpoint — the reference's S3-drop → queue → decode
# lifecycle (S1/ST1) with the engine's run-per-arrival pattern. The
# second run must decode ONLY the new file (offset = sorted file count);
# n_diff proves stream output ≡ batch DataSource read of the same files,
# exactly once. Constant oracle — the fixtures are deterministic.
# --------------------------------------------------------------------------
@register(
    "q95_bag_stream",
    oracle="""
    SELECT * FROM (VALUES
        ('/camera_front/image_raw', CAST(12 AS BIGINT), CAST(0 AS BIGINT)),
        ('/odom', CAST(20 AS BIGINT), CAST(0 AS BIGINT)),
        ('/status', CAST(8 AS BIGINT), CAST(0 AS BIGINT))
    ) AS t(topic, n_msgs, n_diff)
    """,
)
def q95_bag_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.bag_datasource import register_rosbag_source
    from ..sources.rosbag_fixtures import build_indexed_bag

    register_rosbag_source(spark)
    work = tempfile.mkdtemp(prefix="bag_stream_")
    try:
        src = f"{work}/in"
        os.makedirs(src)

        def drain() -> None:
            q = (
                spark.readStream.format("rosbag")
                .option("path", src)
                .load()
                .writeStream.format("parquet")
                .option("path", f"{work}/out")
                .option("checkpointLocation", f"{work}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        with open(f"{src}/a.bag", "wb") as f:
            f.write(build_indexed_bag(n_frames=8, n_chunks=2))
        drain()  # run 1: sees only a.bag
        with open(f"{src}/b.bag", "wb") as f:
            f.write(build_indexed_bag(n_frames=12, n_chunks=3))
        drain()  # run 2: offset says a.bag is consumed; decodes b.bag only

        streamed = spark.read.parquet(f"{work}/out")
        batch = (
            spark.read.format("rosbag")
            .option("path", f"{src}/*.bag")
            .load()
        )
        cmp_cols = ["topic", "msg_type", "ros_time", "seq"]
        # Symmetric multiset difference in ONE aggregation job:
        # |A\B| + |B\A| == sum over distinct rows of |count_A - count_B|,
        # so a side-tagged union + one groupBy replaces the r12 shape's
        # two materialize jobs + two exceptAll count jobs (guide §1.2 —
        # fewer passes; the Python-DataSource batch decode now runs
        # exactly once, unmaterialized, because this is its only
        # consumer; the streamed side is a tiny parquet scan).
        tagged = (
            streamed.select(*cmp_cols)
            .withColumn("__side", F.lit(1))
            .unionAll(batch.select(*cmp_cols).withColumn("__side", F.lit(-1)))
        )
        diff_agg = (
            tagged.groupBy(*cmp_cols)
            .agg(F.sum("__side").alias("__d"))
            .agg(F.coalesce(F.sum(F.abs("__d")), F.lit(0)).alias("nd"))
        )
        from .registry import audit_round

        audit_round("q95:parity_diff", diff_agg)
        n_diff = diff_agg.first()[0]
        out = (
            streamed.groupBy("topic")
            .agg(F.count("*").alias("n_msgs"))
            .withColumn("n_diff", F.lit(n_diff).cast("bigint"))
        )
        return materialize(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# q133 — Python UDTF surface (SURVEY §2.10): a table function expanding
# each document into overlapping token-window chunks (the RAG-style
# chunker), registered and invoked through SQL LATERAL — the one UDF
# flavor (scalar pandas_udf / grouped map / grouped agg / table function)
# not exercised elsewhere. Arrow transfer is enabled for the UDTF so the
# expansion is batched, not row-pickled.
#
# Chunk contract (mirrored exactly in the oracle): starts s = 0, step,
# 2*step, ... while s < max(n - overlap, 1); chunk = tokens[s : s+W];
# a short tail keeps >= overlap+1 tokens merged into the last window.
# Scale: the UDTF is per-row generative — no shuffle at all; output
# carries (doc_id, chunk stats), not chunk text.
# --------------------------------------------------------------------------
Q133_W = 40
Q133_OVERLAP = 10


@register(
    "q133_udtf_chunker",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    starts AS (
      SELECT doc_id, w, CAST(s AS BIGINT) AS s,
             CAST(s / {Q133_W - Q133_OVERLAP} AS BIGINT) AS chunk_id
      FROM d, unnest(range(0, greatest(len(w) - {Q133_OVERLAP}, 1),
                           {Q133_W - Q133_OVERLAP})) AS r(s))
    SELECT doc_id, chunk_id,
           CAST(least(s + {Q133_W}, len(w)) - s AS BIGINT) AS n_tokens,
           w[s + 1] AS first_tok,
           w[least(s + {Q133_W}, len(w))] AS last_tok
    FROM starts
    """,
)
def q133_udtf_chunker(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    # useArrow on the decorator, NOT spark.conf.set(...pythonUDTF.arrow...):
    # the conf form leaked session-wide (never restored) into the other
    # 220 registry queries sharing the SparkSession
    @udtf(
        returnType="chunk_id bigint, n_tokens bigint, first_tok string, last_tok string",
        useArrow=True,
    )
    class Chunker:
        def eval(self, text: str, width: int, overlap: int):
            toks = text.split(" ")
            step = width - overlap
            cid = 0
            for start in range(0, max(len(toks) - overlap, 1), step):
                w = toks[start : start + width]
                if not w:
                    break
                yield cid, len(w), w[0], w[-1]
                cid += 1

    spark.udtf.register("rag_chunker", Chunker)
    load(spark, sf_dir, "documents").createOrReplaceTempView("q133_docs")
    return spark.sql(
        f"SELECT doc_id, c.chunk_id, c.n_tokens, c.first_tok, c.last_tok "
        f"FROM q133_docs, LATERAL rag_chunker(text, {Q133_W}, {Q133_OVERLAP}) AS c"
    )


# --------------------------------------------------------------------------
# q134 — grouped-aggregate pandas UDAF (SURVEY §2.10): per-event-type
# 10%-trimmed mean of value — a robust-statistics aggregate Spark has no
# builtin for, expressed as a GROUPED_AGG pandas_udf (Arrow-batched; the
# whole group's value vector arrives as one pandas Series). The oracle
# reproduces the identical trim contract (drop floor(n/10) from each
# sorted end, average the rest) with a rank window.
#
# Scale note: GROUPED_AGG materializes each group on one executor — fine
# for |event_type| groups of bounded size; for skewed/huge groups the
# two-phase decomposition (q53) is the fallback, but a TRIMMED mean is
# not algebraic, which is exactly why the escape hatch exists.
# --------------------------------------------------------------------------
@register(
    "q134_trimmed_mean_udaf",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events)
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           round(avg(value) FILTER (WHERE rn > n // 10
                                      AND rn <= n - n // 10), 6) AS trimmed_mean
    FROM ranked GROUP BY 1
    ORDER BY event_type
    """,
)
def q134_trimmed_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def trimmed_mean(v: pd.Series) -> float:
        s = v.sort_values(kind="mergesort").to_numpy()
        k = len(s) // 10
        return float(s[k : len(s) - k].mean())

    # Spark disallows mixing GROUPED_AGG pandas UDFs with JVM aggregates
    # in one agg() — the count rides along as a second pandas aggregate
    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    events = load(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            n_rows(F.col("value")).alias("n_events"),
            F.round(trimmed_mean(F.col("value")), 6).alias("trimmed_mean"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q192 — 2-D skyline (Pareto frontier) of the part catalog: the parts no
# other part dominates (cheaper-or-equal price AND larger-or-equal size,
# strictly better somewhere). The classic DB skyline operator, computed
# WITHOUT the naive quadratic dominance join: sort by (price ASC, size
# DESC) and keep a row iff its size strictly exceeds the running max of
# every strictly-cheaper prefix — one window pass, O(n log n). The
# window is global but over the (small) candidate projection; at scale
# the standard two-phase plan applies (per-partition skyline first —
# skyline(skyline ∪ skyline) = skyline — then this pass over the tiny
# union), noted here because phase 1 is a repartition + the same window
# per partition.
# --------------------------------------------------------------------------
@register(
    "q192_skyline",
    oracle="""
    WITH pts AS (
      SELECT p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT) AS pc,
             p_size AS size
      FROM part
    ),
    flagged AS (
      SELECT p_partkey, pc, size,
             max(size) OVER (ORDER BY pc
                             RANGE BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS best_cheaper,
             max(size) OVER (PARTITION BY pc) AS best_same_price
      FROM pts
    )
    SELECT p_partkey, round(pc / 100.0, 2) AS price,
           CAST(size AS BIGINT) AS size
    FROM flagged
    WHERE (best_cheaper IS NULL OR size > best_cheaper)
      AND size >= best_same_price
    """,
)
def q192_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = load(spark, sf_dir, "part")
    pts = part.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("pc"),
        F.col("p_size").alias("size"),
    )
    # dominated iff a STRICTLY cheaper point has size >= mine, or a
    # same-price point has size > mine (survives: equal duplicates).
    # Strict-cheaper max via a RANGE frame ending 1 cent before current;
    # same-price max via a partition-by-price max.
    w_cheaper = Window.orderBy("pc").rangeBetween(
        Window.unboundedPreceding, -1
    )
    w_same = Window.partitionBy("pc")
    flagged = pts.select(
        "p_partkey",
        "pc",
        "size",
        F.max("size").over(w_cheaper).alias("best_cheaper"),
        F.max("size").over(w_same).alias("best_same_price"),
    )
    return flagged.filter(
        (
            F.col("best_cheaper").isNull()
            | (F.col("size") > F.col("best_cheaper"))
        )
        & (F.col("size") >= F.col("best_same_price"))
    ).select(
        "p_partkey",
        F.round(F.col("pc") / 100.0, 2).alias("price"),
        F.col("size").cast("bigint").alias("size"),
    )


# --------------------------------------------------------------------------
# q193 — exact weighted median: the l_extendedprice value at which the
# quantity-weighted cumulative mass first reaches half the total —
# integer cumulative sums over the sorted value axis, so both engines
# agree bit-for-bit (same discipline as q44's exact percentiles).
# The global cumulative window is the price of EXACTNESS (a total order
# over values); at 100 TB the serving path is the mergeable histogram
# sketch (q126/q139) and this exact form remains the audit tier.
# --------------------------------------------------------------------------
@register(
    "q193_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_extendedprice AS v, CAST(round(l_quantity) AS BIGINT) AS wt
      FROM lineitem
    ),
    tot AS (SELECT sum(wt) AS tw FROM w),
    cum AS (
      SELECT v, wt,
             sum(wt) OVER (ORDER BY v, wt
                           ROWS UNBOUNDED PRECEDING) AS cw
      FROM w
    )
    SELECT round(min(v), 2) AS weighted_median,
           CAST(max(tot.tw) AS BIGINT) AS total_weight
    FROM cum CROSS JOIN tot
    WHERE cw * 2 >= tot.tw
    """,
)
def q193_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    w = li.select(
        F.col("l_extendedprice").alias("v"),
        F.round("l_quantity").cast("bigint").alias("wt"),
    )
    tot = w.agg(F.sum("wt").alias("tw"))
    wc = Window.orderBy("v", "wt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = w.select("v", F.sum("wt").over(wc).alias("cw"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cw") * 2 >= F.col("tw"))
        .agg(
            F.round(F.min("v"), 2).alias("weighted_median"),
            F.max("tw").cast("bigint").alias("total_weight"),
        )
    )


# --------------------------------------------------------------------------
# q205 — INCREMENTAL near-dup cluster maintenance: a grown corpus must
# not re-cluster from scratch. Existing docs (doc_id % 3 != 0, q57's
# convention) already have cluster assignments; a new batch (% 3 == 0)
# arrives. The maintenance step runs connected components over
# (star edges of the OLD assignment) ∪ (pairs touching the new batch) —
# never re-deriving old intra-corpus pairs. Correct by the star
# theorem: CC(star(G) ∪ E') == CC(G ∪ E') (contracting a component to
# its star preserves connectivity), which
# tests/test_operators.py::test_incremental_cc_equals_full_recompute
# pins against the from-scratch clustering.
#
# Pair generation is the r5 default (banded minhash + verify, stop-
# bucket capped); band keys are per-doc, so the one global band table
# serves both the old-pair and new-pair filters — an incremental system
# maintains exactly this table plus per-bucket counters (q89/q65's
# persisted index). Output: every clustered doc with its merged cluster
# id and whether it arrived in the new batch.
# --------------------------------------------------------------------------
def _q205_oracle() -> str:
    from ..operators.dedup import DEFAULT_BUCKET_CAP

    from .llm_ops import minhash_pair_ctes

    return f"""
    WITH RECURSIVE
    {minhash_pair_ctes(0.2, max_bucket=DEFAULT_BUCKET_CAP)},
    old_pairs AS (
        SELECT id_a, id_b FROM mh_pairs
        WHERE id_a % 3 <> 0 AND id_b % 3 <> 0
    ),
    new_pairs AS (
        SELECT id_a, id_b FROM mh_pairs
        WHERE id_a % 3 = 0 OR id_b % 3 = 0
    ),
    old_edges AS (SELECT id_a AS u, id_b AS v FROM old_pairs
                  UNION SELECT id_b, id_a FROM old_pairs),
    old_closure(u, v) AS (
        SELECT u, v FROM old_edges
        UNION
        SELECT c.u, e.v FROM old_closure c JOIN old_edges e ON c.v = e.u
    ),
    old_comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
                 FROM old_closure GROUP BY u),
    star AS (SELECT doc_id AS id_a, cluster_id AS id_b FROM old_comp
             WHERE doc_id <> cluster_id),
    inc AS (SELECT id_a, id_b FROM star UNION SELECT id_a, id_b FROM new_pairs),
    inc_edges AS (SELECT id_a AS u, id_b AS v FROM inc
                  UNION SELECT id_b, id_a FROM inc),
    inc_closure(u, v) AS (
        SELECT u, v FROM inc_edges
        UNION
        SELECT c.u, e.v FROM inc_closure c JOIN inc_edges e ON c.v = e.u
    )
    SELECT u AS doc_id, least(u, min(v)) AS cluster_id,
           CAST(u % 3 = 0 AS INT) AS is_new
    FROM inc_closure GROUP BY u
    """


@register("q205_incremental_clusters", oracle=_q205_oracle())
def q205_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components, family_pairs

    # the family's shared checkpointed pair table (feeds two filters +
    # CC rounds here; q54/q157/q203 read the same blocks)
    pairs = family_pairs(spark, sf_dir, threshold=0.2)
    old_pairs = pairs.filter(
        (F.col("id_a") % 3 != 0) & (F.col("id_b") % 3 != 0)
    )
    new_pairs = pairs.filter(
        (F.col("id_a") % 3 == 0) | (F.col("id_b") % 3 == 0)
    )
    old_comp = connected_components(old_pairs)
    star = old_comp.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("id_a"), F.col("cluster_id").alias("id_b")
    )
    merged = connected_components(star.unionAll(new_pairs))
    out = merged.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") % 3 == 0).cast("int").alias("is_new"),
    )
    return materialize(out)
