import os
import sys

import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from entity_resolution_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # a test-sized driver heap: the session default (16g) on a host with
    # ~16 GB of RAM and no swap gets the JVM OOM-killed mid-suite
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    s = get_spark(app_name="er_tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="module", autouse=True)
def _release_cached_frames():
    """Unpersist every cached frame when a test module ends: resolve()
    persists its stage frames for the caller, and one session running the
    whole suite otherwise accumulates them until the driver heap thrashes
    in full GCs."""
    yield
    active = SparkSession.getActiveSession()
    if active is not None:
        active.catalog.clearCache()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
