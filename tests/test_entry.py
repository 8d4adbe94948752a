"""Driver-contract smoke: entry() + registry shape (SURVEY §5 item 3)."""

import __spark_entry__ as se


def test_entry_smoke(spark):
    df = se.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"ts_key", "camera", "Person", "Car", "Bicycle", "Truck", "Motorcycle",
            "ped_count", "wheeler_count"} == set(df.columns)


def test_registry_shape():
    qs = se.queries()
    oracles = se.oracle_sql()
    assert len(qs) >= 36
    assert set(oracles) <= set(qs)
    # oracle-less queries are the documented non-SQL-expressible ones
    assert set(qs) - set(oracles) == {
        "q32_bag_decode",
        "q33_frame_table",
        "q36_random_split",
        "q52_bag_split_decode",
        "q56_select_anonymize",
        # q184 left this set in r8, q55 in r9: both now train on the
        # deterministic integer-quantized Lloyd (ann_ivf), fully
        # replayed by a DuckDB oracle; only binary-decode (x3),
        # randomSplit, and the pixel sink remain non-SQL-expressible
    }


def test_functions_roundtrip(spark):
    from pyspark.sql import functions as F

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.functions import (
        iso_for_path,
        iso_from_path,
        ros_time_pack,
        ros_time_unpack_ts,
    )

    df = spark.createDataFrame([("2020-12-16 23:32:19.969307",)], "s string").select(
        F.to_timestamp("s").alias("ts")
    )
    out = df.select(
        ros_time_unpack_ts(ros_time_pack(F.col("ts"))).alias("rt"),
        iso_from_path(iso_for_path(F.col("ts"))).alias("ip"),
        iso_for_path(F.col("ts")).alias("iso_s"),
    ).first()
    assert out.rt == out.ip
    assert out.iso_s == "2020-12-16T23_32_19.969307"


def test_bench_annotations_come_from_the_run(spark, tmp_path):
    """bench.py annotates a query from its cold sample's slice of the
    stage log: q32 builds the decoded demo bag and q56 is served it."""
    import bench

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.plans.registry import (
        STAGE_LOG,
        stage,
    )

    sf_dir = "/root/testdata/sf0.001"
    # a lookup for another corpus evicts every stored stage
    stage("probe", spark, str(tmp_path), (), object)
    events = {}
    for name in ("q32_bag_decode", "q56_select_anonymize"):
        mark = len(STAGE_LOG)
        se.queries()[name](spark, sf_dir).count()
        events[name] = STAGE_LOG[mark:]
    assert [e[:3] for e in events["q32_bag_decode"]] == [("demo", (), False)]
    assert [e[:3] for e in events["q56_select_anonymize"]] == [("demo", (), True)]
    assert bench.stage_notes(events["q32_bag_decode"]).startswith("built demo in ")
    assert bench.stage_notes(events["q56_select_anonymize"]) == "served demo"
