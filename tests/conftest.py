import os
import sys

import pytest

# The checkout these tests live in, for the driver and (through PYTHONPATH,
# which the JVM passes on) for the Python workers it starts.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO_ROOT, os.environ.get("PYTHONPATH")]))

from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.session import (  # noqa: E402
    get_spark,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def read_bag(spark, tmp_path):
    """``read_bag(blob, name="demo.bag", **options)``: write bag bytes to
    ``tmp_path / name`` and read them with ``format("rosbag")``."""
    from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.bag_datasource import (
        register_rosbag_source,
    )

    def read(blob: bytes, name: str = "demo.bag", **options):
        (tmp_path / name).write_bytes(blob)
        register_rosbag_source(spark)
        reader = spark.read.format("rosbag").option("path", str(tmp_path / name))
        for key, value in options.items():
            reader = reader.option(key, value)
        return reader.load()

    return read
