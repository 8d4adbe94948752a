"""Stateful-streaming sessionizer == batch-window sessionizer on the same
finite input (the custom-operator analog of q35's batch==stream contract)."""

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.streaming.sessionize import (
    sessionize_batch,
    sessionize_stream,
)


def test_stream_sessionizer_matches_batch(spark):
    # synthetic per-user event times with gaps straddling the threshold
    rows = []
    eid = 0
    for u in range(5):
        t = 1_700_000_000
        for i in range(40):
            # deterministic gaps: mostly small, every 7th jumps past 30 min
            t += 2000 if (i % 7) else 2200 * u + 2 * 3600
            rows.append((eid, u, t))
            eid += 1
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, sec bigint").select(
        "event_id", "user_id", F.timestamp_seconds("sec").alias("ts")
    )

    batch = {
        (r.user_id, str(r.ts)): r.session_id for r in sessionize_batch(df).collect()
    }

    work = tempfile.mkdtemp(prefix="t_sess_")
    # force multi-chunk Arrow delivery per key — regression for the
    # per-chunk-sort bug (each chunk sorted independently gave wrong ids)
    prev_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        os.makedirs(f"{work}/in")
        df.select("user_id", "ts").write.parquet(f"{work}/in/events")
        schema = spark.read.parquet(f"{work}/in/events").schema
        stream = spark.readStream.schema(schema).parquet(f"{work}/in/events")
        out = sessionize_stream(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("sess_out")
            .option("checkpointLocation", f"{work}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streamed = {
            (r.user_id, str(r.ts)): r.session_id
            for r in spark.table("sess_out").collect()
        }
        assert streamed == batch
        # sanity: sessions actually split (more than one per user)
        assert max(batch.values()) >= 1
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev_batch)
        shutil.rmtree(work, ignore_errors=True)

