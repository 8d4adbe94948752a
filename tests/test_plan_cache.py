"""The registry's session plan cache (plans/registry.py): a repeated call
with unchanged inputs is served from its analyzed plan with a fresh
QueryExecution, and every input the rule names forces a rebuild."""

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark import tables
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.plans import registry
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.plans.registry import (
    PLAN_LOG,
    materialize,
    stage,
)

from conftest import SF_DIR
from test_tables import LAKE_QUERIES


def call(spark, query, sf_dir=SF_DIR):
    """(frame, outcome) of one call of a plan-cached query."""
    df = query(spark, sf_dir)
    return df, PLAN_LOG[-1][1]


def served(spark, query, sf_dir=SF_DIR):
    """Call ``query`` until it is served (at most three calls: a first
    build may infer schemas, the next one is stored)."""
    for _ in range(3):
        df, outcome = call(spark, query, sf_dir)
        if outcome == "served":
            return df
    raise AssertionError(f"{query.__name__} was not served: {PLAN_LOG[-3:]}")


def rows(df):
    return sorted(df.collect())


def test_lake_queries_are_served_with_their_own_query_execution(spark):
    registry_queries = entry.queries()
    for name in LAKE_QUERIES:
        served(spark, registry_queries[name])

    q03 = registry_queries["q03_join_revenue"]
    first, second = served(spark, q03), served(spark, q03)
    assert not first._jdf.queryExecution().equals(second._jdf.queryExecution())
    expected = rows(first)
    # the first frame ran; the second one's plan is planned on demand and
    # has run nothing
    assert "isFinalPlan=true" in first._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=false" in second._jdf.queryExecution().executedPlan().toString()
    assert rows(second) == expected


def _write_lineitem(path, table, mtime_ns=None):
    # no compression, dictionary or statistics: rewriting doubles keeps the
    # file's size to the byte
    pq.write_table(table, path, compression="NONE", use_dictionary=False, write_statistics=False)
    if mtime_ns is not None:
        os.utime(path, ns=(mtime_ns, mtime_ns))
    return os.stat(path)


def test_rewritten_table_file_is_rebuilt(spark, tmp_path):
    q46 = entry.queries()["q46_tpch_q1"]
    lake = str(tmp_path)
    path = tables.table_path(lake, "lineitem")
    original = pq.read_table(tables.table_path(SF_DIR, "lineitem"))
    st = _write_lineitem(path, original)
    before = rows(served(spark, q46, lake))

    # same size, new mtime
    doubled = original.set_column(
        original.schema.get_field_index("l_quantity"),
        "l_quantity",
        pc.multiply(original["l_quantity"], 2.0),
    )
    st2 = _write_lineitem(path, doubled, st.st_mtime_ns + 1_000_000_000)
    assert st2.st_size == st.st_size and st2.st_mtime_ns != st.st_mtime_ns
    df, outcome = call(spark, q46, lake)
    assert outcome != "served"
    after = rows(df)
    assert [r.sum_qty for r in after] == pytest.approx([2 * r.sum_qty for r in before])
    assert rows(served(spark, q46, lake)) == after

    # same mtime, new size
    st3 = _write_lineitem(path, original.slice(0, original.num_rows // 2), st2.st_mtime_ns)
    assert st3.st_size != st2.st_size and st3.st_mtime_ns == st2.st_mtime_ns
    df, outcome = call(spark, q46, lake)
    assert outcome != "served"
    half = rows(df)
    assert half == rows(q46.__wrapped__(spark, lake))
    assert sum(r.count_order for r in half) < sum(r.count_order for r in before)
    assert rows(served(spark, q46, lake)) == half


def test_changed_sql_conf_forces_a_rebuild(spark):
    q03 = entry.queries()["q03_join_revenue"]
    served(spark, q03)
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        assert call(spark, q03)[1] == "stored"
        assert call(spark, q03)[1] == "served"
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert call(spark, q03)[1] == "stored"


def test_rematerialized_bucketed_table_forces_a_rebuild(spark, tmp_path):
    lake = str(tmp_path)
    for name in tables.TABLE_NAMES:
        os.symlink(os.path.realpath(tables.table_path(SF_DIR, name)), tables.table_path(lake, name))
    q03 = entry.queries()["q03_join_revenue"]
    tables.materialize_bucketed(spark, lake, buckets=2)
    try:
        expected = rows(served(spark, q03, lake))
        tables.drop_bucketed(spark, lake)
        tables.materialize_bucketed(spark, lake, buckets=2)
        # same catalog names, new files: the stored plan's file listing is gone
        df, outcome = call(spark, q03, lake)
        assert outcome == "stored"
        assert rows(df) == expected
        assert rows(served(spark, q03, lake)) == expected
    finally:
        tables.drop_bucketed(spark, lake)


def test_build_that_runs_a_job_is_never_stored(spark):
    def barrier(spark, sf_dir):
        return materialize(spark.range(3))

    def staged(spark, sf_dir):
        return stage("plan-cache-test", spark, sf_dir, (), lambda: materialize(spark.range(3)))

    barrier_q = registry._plan_cached("t_barrier", barrier)
    assert [call(spark, barrier_q)[1] for _ in range(3)] == ["jobs"] * 3
    # the stage miss runs a job; the hit that follows does not
    staged_q = registry._plan_cached("t_staged", staged)
    assert [call(spark, staged_q)[1] for _ in range(3)] == ["jobs", "stored", "served"]
    assert not any(key[-1] == "t_barrier" for key in registry._PLANS)


def _map_in_pandas(spark, sf_dir):
    return spark.range(3).mapInPandas(lambda frames: frames, "id long")


def _pandas_udf(spark, sf_dir):
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus(s: pd.Series) -> pd.Series:
        return s + 1

    return spark.range(3).select(plus("id").alias("x"))


def _python_rdd(spark, sf_dir):
    return spark.createDataFrame(spark.sparkContext.parallelize([1, 2]).map(lambda x: (x,)), "x long")


def _python_source(spark, sf_dir):
    from pyspark.sql.datasource import DataSource, DataSourceReader

    class Reader(DataSourceReader):
        def read(self, partition):
            yield (1,)

    class OneRow(DataSource):
        @classmethod
        def name(cls):
            return "plan_cache_one_row"

        def schema(self):
            return "x int"

        def reader(self, schema):
            return Reader()

    spark.dataSource.register(OneRow)
    return spark.read.format("plan_cache_one_row").load()


@pytest.mark.parametrize("build", [_map_in_pandas, _pandas_udf, _python_rdd, _python_source])
def test_plan_that_evaluates_python_is_never_stored(spark, build):
    query = registry._plan_cached(f"t_{build.__name__}", build)
    assert [call(spark, query)[1] for _ in range(2)] == ["python"] * 2
    assert rows(query(spark, SF_DIR))


def test_jvm_only_plan_is_stored(spark):
    # a local list would be an RDD that Python computes; a pandas frame is
    # a LocalRelation
    import pandas as pd

    query = registry._plan_cached(
        "t_local", lambda spark, sf_dir: spark.createDataFrame(pd.DataFrame({"x": [1], "y": ["a"]}))
    )
    assert [call(spark, query)[1] for _ in range(2)] == ["stored", "served"]
    assert rows(query(spark, SF_DIR)) == [(1, "a")]


def test_new_session_or_corpus_evicts(spark, tmp_path):
    q46 = entry.queries()["q46_tpch_q1"]
    served(spark, q46)
    other = spark.newSession()
    assert call(other, q46)[1] != "served"
    assert all(key[1] == other._jsparkSession.sessionUUID() for key in registry._PLANS)
    assert call(spark, q46)[1] != "served"

    lake = str(tmp_path)
    os.symlink(os.path.realpath(tables.table_path(SF_DIR, "lineitem")), tables.table_path(lake, "lineitem"))
    assert call(spark, q46, lake)[1] != "served"
    assert all(key[2] == lake for key in registry._PLANS)
    assert call(spark, q46)[1] != "served"


def test_served_q67_compiles_no_new_code(spark):
    """q67's two distinct counts become an Expand whose column order
    follows fresh expression ids, so a rebuilt q67 can generate new code
    on any run; a served plan keeps its ids."""
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    q67 = entry.queries()["q67_range_join"]
    served(spark, q67).write.format("noop").mode("overwrite").save()
    for _ in range(3):
        df = served(spark, q67)
        before = compiles.getCount()
        df.write.format("noop").mode("overwrite").save()
        assert compiles.getCount() - before == 0
