import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Driver heap sized for a small test host: the session default (48g) lets
# the test JVM grow past physical memory on hosts of ~16 GB.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")

from gpu_entity_resolver_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
