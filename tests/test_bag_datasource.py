"""The rosbag Python DataSource: planner pushdown, residuals, edge cases."""

import os

import pytest
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.bag_datasource import (
    register_rosbag_source,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.rosbag_fixtures import (
    build_indexed_bag,
    ros_time,
)

CAM = "/camera_front/image_raw"


@pytest.fixture(scope="module")
def bag_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dsv2") / "indexed.bag")
    with open(path, "wb") as f:
        f.write(build_indexed_bag(n_frames=16, n_chunks=4))
    register_rosbag_source(spark)
    return path


def _read(spark, path):
    return spark.read.format("rosbag").option("path", path).load()


def test_batch_read_on_session_without_pushdown_conf(spark, tmp_path):
    """register_rosbag_source enables the conf a pushFilters reader needs;
    without it every batch read fails with DATA_SOURCE_PUSHDOWN_DISABLED."""
    path = tmp_path / "a.bag"
    path.write_bytes(build_indexed_bag(n_frames=4, n_chunks=2))
    spark.conf.unset("spark.sql.python.filterPushdown.enabled")
    register_rosbag_source(spark)
    assert _read(spark, str(path)).filter(F.col("topic") == CAM).count() == 2  # half the frames


def test_batch_read_of_a_directory(spark, tmp_path):
    """A directory path reads the *.bag files in it, as the stream reader
    does, instead of raising IsADirectoryError."""
    for name in ("a.bag", "b.bag"):
        (tmp_path / name).write_bytes(build_indexed_bag(n_frames=4, n_chunks=2))
    (tmp_path / "notes.txt").write_text("not a bag")
    spark.conf.unset("spark.sql.python.filterPushdown.enabled")
    register_rosbag_source(spark)
    one = _read(spark, str(tmp_path / "a.bag")).count()
    assert one > 0
    assert _read(spark, str(tmp_path)).count() == 2 * one


def test_full_read_matches_split_reader(spark, bag_path):
    """The full read returns exactly the messages build_indexed_bag wrote:
    camera frames in the even chunks, odometry in every chunk, status
    strings in the odd chunks (4 frames per chunk)."""
    cols = ["topic", "msg_type", "ros_time", "seq"]
    ds = _read(spark, bag_path).select(cols)
    want = []
    for i in range(16):
        t = ros_time(1600000000 + i, i * 1000)
        if (i // 4) % 2 == 0:
            want.append((CAM, "sensor_msgs/Image", t, i))
        want.append(("/odom", "nav_msgs/Odometry", t, i))
        if (i // 4) % 2 == 1:
            want.append(("/status", "std_msgs/String", t, None))
    key = lambda r: (r[0], r[2])
    assert sorted(map(tuple, ds.collect()), key=key) == sorted(want, key=key)
    assert ds.rdd.getNumPartitions() == 4  # one task per chunk


def test_equalto_pushdown_prunes_chunks(spark, bag_path):
    pushed = _read(spark, bag_path).filter(F.col("topic") == CAM)
    # camera lives only in the 2 even chunks; pruning is visible as
    # partition count, not just row count
    assert pushed.rdd.getNumPartitions() == 2
    assert pushed.count() == 8
    assert pushed.select("topic").distinct().collect()[0][0] == CAM


def test_isin_pushdown(spark, bag_path):
    two = _read(spark, bag_path).filter(F.col("topic").isin(CAM, "/status"))
    assert two.count() == 16  # 8 camera (even chunks) + 8 status (odd)
    assert set(r[0] for r in two.select("topic").distinct().collect()) == {CAM, "/status"}


def test_residual_filter_still_applied(spark, bag_path):
    resid = _read(spark, bag_path).filter((F.col("topic") == CAM) & (F.col("seq") >= 10))
    assert resid.rdd.getNumPartitions() == 2  # topic pruned the chunks
    assert sorted(r.seq for r in resid.collect()) == [10, 11]


def test_no_matching_topic_yields_empty(spark, bag_path):
    none = _read(spark, bag_path).filter(F.col("topic") == "/nope")
    assert none.count() == 0


def test_timerange_option_prunes(spark, bag_path):
    lo, hi = 1600000008, (15000 << 32) | 1600000015  # packed ros times
    tr = (
        spark.read.format("rosbag")
        .option("path", bag_path)
        .option("timerange", f"{lo}:{hi}")
        .load()
    )
    assert tr.rdd.getNumPartitions() == 2  # chunks 2,3 only
    secs = [r[0] for r in tr.select(F.col("ros_time").bitwiseAND(F.lit(0xFFFFFFFF))).collect()]
    assert min(secs) == 1600000008 and max(secs) == 1600000015


def test_missing_path_errors(spark, bag_path):
    with pytest.raises(Exception, match="no files match"):
        spark.read.format("rosbag").option("path", os.path.dirname(bag_path) + "/*.nope").load().count()


def test_bag_stream_reader_incremental_offsets(spark, tmp_path):
    """The streaming reader's offset is the sorted file count: a second
    availableNow run over the same checkpoint decodes ONLY newly landed
    bags, and the union equals a batch read of the directory."""
    import os

    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.bag_datasource import (
        register_rosbag_source,
    )
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.rosbag_fixtures import (
        build_indexed_bag,
    )

    register_rosbag_source(spark)
    src = tmp_path / "in"
    os.makedirs(src)

    def drain():
        q = (
            spark.readStream.format("rosbag")
            .option("path", str(src))
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    (src / "a.bag").write_bytes(build_indexed_bag(n_frames=4, n_chunks=2))
    drain()
    n1 = spark.read.parquet(str(tmp_path / "out")).count()
    (src / "b.bag").write_bytes(build_indexed_bag(n_frames=4, n_chunks=2))
    drain()
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 2 * n1  # second run added exactly b.bag's rows
    # no duplicates: every (topic, seq, ros_time) appears exactly... twice
    # (a.bag and b.bag are identical fixtures), so distinct count is n1
    assert out.select("topic", "seq", "ros_time").distinct().count() == n1


def test_stream_late_landing_early_sorting_file(spark, tmp_path):
    """Set-based offsets (r8 review): a file that lands LATE but sorts
    lexicographically BEFORE an already-committed file must still be read
    exactly once, and the committed file must not be re-read. The old
    count-based offset skipped it and double-read its successor."""
    import os

    register_rosbag_source(spark)
    src = tmp_path / "in"
    os.makedirs(src)

    def drain():
        q = (
            spark.readStream.format("rosbag")
            .option("path", str(src))
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    (src / "c.bag").write_bytes(build_indexed_bag(n_frames=4, n_chunks=2))
    drain()
    n1 = spark.read.parquet(str(tmp_path / "out")).count()
    # lands late, sorts BEFORE c.bag
    (src / "a.bag").write_bytes(build_indexed_bag(n_frames=4, n_chunks=2))
    drain()
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 2 * n1  # a.bag read once, c.bag not re-read
    assert out.select("topic", "seq", "ros_time").distinct().count() == n1


def test_stream_rejects_timerange(spark, tmp_path):
    """The stream reader must refuse the batch-only 'timerange' option
    loudly instead of silently streaming unfiltered rows (r8 review)."""
    import os

    import pytest

    register_rosbag_source(spark)
    src = tmp_path / "in"
    os.makedirs(src)
    (src / "a.bag").write_bytes(build_indexed_bag(n_frames=4, n_chunks=2))
    q = (
        spark.readStream.format("rosbag")
        .option("path", str(src))
        .option("timerange", "100:200")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
    )
    with pytest.raises(Exception, match="timerange"):
        sq = q.start()
        sq.awaitTermination()
