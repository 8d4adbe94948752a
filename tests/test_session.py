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
    # Generated-code cache holds the whole registry's classes (about 3,230
    # at sf0.01), not Spark's default 100: one lake pass generates 127.
    assert s.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    # Python workers fork from the engine's daemon (worker_daemon.py).
    assert s.sparkContext.getConf().get("spark.python.daemon.module") == (
        "aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.worker_daemon"
    )


def test_warm_plans_reuse_generated_classes(spark):
    """More distinct plans than Spark's default 100-entry codegen cache
    holds, run twice in the same order: with the default LRU the second
    round recompiles every class; with the engine's cache it compiles
    none."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    plans = [spark.range(4).selectExpr(f"id * {i + 2} + {i + 3} AS v") for i in range(64)]

    def run_round() -> int:
        before = compiles.getCount()
        for df in plans:
            df.write.format("noop").mode("overwrite").save()
        return compiles.getCount() - before

    assert run_round() > 100
    assert run_round() == 0
