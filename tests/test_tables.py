"""tables.load's schema memo: a warm load runs no Spark job, and the memo
never serves a schema its key does not match."""

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

import __spark_entry__ as entry
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark import tables

from conftest import SF_DIR

# the correctness gate's scale factor, next to the suite's sf0.001
SF = os.path.join(os.path.dirname(SF_DIR), "sf0.01")

# the analyst queries of perfbench's lake_query workload
LAKE_QUERIES = (
    "q12_detections_pivot", "q34_detections_e2e", "q59_find_images_with_cars",
    "q03_join_revenue", "q10_topk_per_group",
    "q46_tpch_q1", "q121_tpch_q18", "q208_tpch_q8",
    "q16_json_extract", "q66_asof_join", "q67_range_join",
)


def _jobs(spark, fn) -> int:
    """Spark jobs that ``fn()`` ran, counted through a job group."""
    sc = spark.sparkContext
    group = f"t-{uuid.uuid4().hex}"
    sentinel = group + "-sentinel"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the tracker is fed by the asynchronous listener bus: once a later
    # job is visible, every job fn() ran is visible too
    sc.setJobGroup(sentinel, sentinel)
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 10
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "listener bus never caught up"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_warm_lake_query_builders_run_no_jobs(spark):
    registry = entry.queries()
    for name in LAKE_QUERIES:  # the first builds infer each table's schema
        registry[name](spark, SF)
    per_query = {
        name: _jobs(spark, lambda name=name: registry[name](spark, SF))
        for name in LAKE_QUERIES
    }
    assert per_query == {name: 0 for name in LAKE_QUERIES}


def test_rewritten_file_serves_its_new_schema(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert _jobs(spark, lambda: tables.load(spark, str(tmp_path), "region")) == 1
    assert _jobs(spark, lambda: tables.load(spark, str(tmp_path), "region")) == 0

    pq.write_table(pa.table({"r_regionkey": [4], "r_name": ["EUROPE"]}), path)
    df = tables.load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert [tuple(r) for r in df.collect()] == [(4, "EUROPE")]


def test_other_application_entry_is_never_served(spark):
    app = spark.sparkContext.applicationId
    real = tables.raw_schema(spark, SF, "nation")
    bogus = StructType([StructField("bogus", LongType())])
    # every entry of this application now looks like one left by a
    # previous SparkContext in this process
    for key in [k for k in tables._SCHEMAS if k[0] == app]:
        tables._SCHEMAS[("app-of-a-stopped-context",) + key[1:]] = bogus
        del tables._SCHEMAS[key]

    holder = {}
    assert _jobs(spark, lambda: holder.update(df=tables.load(spark, SF, "nation"))) == 1
    assert holder["df"].schema == real
    assert all(k[0] == app for k in tables._SCHEMAS)  # the miss evicted them


def test_events_ts_is_timestamp_on_cold_and_warm_loads(spark):
    path = os.path.realpath(tables.table_path(SF, "events"))
    for key in [k for k in tables._SCHEMAS if k[1] == path]:
        del tables._SCHEMAS[key]
    for _ in range(2):
        ts = tables.load(spark, SF, "events").schema["ts"].dataType
        assert isinstance(ts, TimestampType)
