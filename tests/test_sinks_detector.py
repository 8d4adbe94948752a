"""Sink layout + pluggable detector contract tests (K1/K2/K6, U4)."""

import shutil
import tempfile

from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.detections import (
    detections_wide,
    explode_labels,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.detector_udf import (
    detect,
    deterministic_stub_predictor,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources import (
    rosbag_fixtures as fx,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.sinks import (
    write_detections,
    write_topic_tables,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.topic_views import (
    image_view,
)


def test_topic_partitioned_write_prunes(spark, read_bag):
    work = tempfile.mkdtemp(prefix="t_sink_")
    try:
        write_topic_tables(read_bag(fx.build_demo_bag(n_frames=4)), f"{work}/topics")
        back = spark.read.parquet(f"{work}/topics")
        assert back.count() == 16
        one = back.filter(F.col("topic") == "/odom")
        plan = one._jdf.queryExecution().executedPlan().toString()
        # partition pruning visible in the scan
        assert "PartitionFilters: [isnotnull(topic" in plan
        assert one.count() == 4
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_detector_contract_end_to_end(spark, read_bag):
    """EP2 with the pluggable batched predictor: frames -> detect ->
    explode -> wide table."""
    frames = image_view(read_bag(fx.build_demo_bag(n_frames=4)))
    labeled = detect(frames, deterministic_stub_predictor)
    long_df = explode_labels(
        labeled.select(F.date_format("ts", "yyyy-MM-dd").alias("ts_key"),
                       F.col("topic").alias("camera"), "labels")
    )
    wide = detections_wide(long_df, ["Person", "Car", "Bicycle", "Truck", "Motorcycle"])
    rows = wide.collect()
    assert len(rows) == 1  # one camera x one day
    r = rows[0].asDict()
    assert r["ped_count"] >= 0 and any(r[k] is not None for k in ["Person", "Car", "Bicycle", "Truck", "Motorcycle"])
    # determinism: second run identical
    assert sorted(map(tuple, wide.collect())) == sorted(map(tuple, rows))


def test_detections_dynamic_partition_overwrite(spark):
    work = tempfile.mkdtemp(prefix="t_det_")
    try:
        df1 = spark.createDataFrame(
            [("2024-01-01", "front", 0.9), ("2024-01-02", "front", 0.5)],
            "ts_key string, camera string, Person double",
        )
        write_detections(df1, f"{work}/det")
        # re-write ONLY day 2 with new data; day 1 must survive
        df2 = spark.createDataFrame(
            [("2024-01-02", "front", 0.7)], "ts_key string, camera string, Person double"
        )
        write_detections(df2, f"{work}/det")
        # partition values are type-inferred on read (string -> date)
        back = {str(r.ts_key): r.Person for r in spark.read.parquet(f"{work}/det").collect()}
        assert back == {"2024-01-01": 0.9, "2024-01-02": 0.7}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_topic_csv_sink_drops_binary(spark, read_bag):
    """K1 CSV branch: per-topic CSV write mirrors the reference (images
    routed to the frame sink, not the topic CSV)."""
    import tempfile

    work = tempfile.mkdtemp(prefix="t_csv_")
    try:
        write_topic_tables(read_bag(fx.build_demo_bag(n_frames=4)), f"{work}/csv", fmt="csv")
        back = spark.read.option("header", True).csv(f"{work}/csv")
        assert "img_data" not in back.columns
        assert back.count() == 16
        assert back.filter(F.col("topic") == "/odom").count() == 4
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_sink_sanitize_collision_raises(spark, tmp_path):
    """Two topics sanitizing to one file stem ('/cam/front' vs '/cam_front')
    must fail loudly — concurrent tasks would otherwise overwrite each
    other's output with no error (r7 review)."""
    import pytest

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.sinks import (
        write_png_files,
    )

    rows = [
        ("/cam/front", "a.png", b"\x00" * 3, 1, 1),
        ("/cam_front", "b.png", b"\x00" * 3, 1, 1),
    ]
    df = spark.createDataFrame(
        rows,
        "topic string, img_file string, pixels binary, img_width int, img_height int",
    )
    with pytest.raises(ValueError, match="sink name collision"):
        write_png_files(df, str(tmp_path))
