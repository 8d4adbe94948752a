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
