"""Session-factory scale contract (sf1.0 audit regressions, BENCH_NOTES
round-4): these configs are load-bearing at scale and must not drift."""

from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.session import (
    get_spark,
)


def test_scale_critical_configs(spark):
    s = get_spark("config-contract")
    # Auto-broadcast stays at Spark's conservative 10 MiB: a 64 MiB value
    # let a column-pruned 6M-row fact scan become a driver broadcast build
    # (OOM at sf1.0). Known dims broadcast via explicit hints instead.
    assert int(s.conf.get("spark.sql.autoBroadcastJoinThreshold")) == 10 * 1024 * 1024
    # AQE family on — runtime coalescing/skew handling replaces hand tuning.
    assert s.conf.get("spark.sql.adaptive.enabled") == "true"
    assert s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    # Arrow on — every Python-side operator is Arrow-batched.
    assert s.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    # UTC session tz — oracle comparisons require a fixed zone.
    assert s.conf.get("spark.sql.session.timeZone") == "UTC"
    # Python workers fork from the engine's daemon (worker_daemon.py).
    assert s.sparkContext.getConf().get("spark.python.daemon.module") == (
        "aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.worker_daemon"
    )
