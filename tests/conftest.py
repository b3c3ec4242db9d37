import os

import pytest

from rotel_spark.session import build_spark

# the session pretouches ¾ of its heap at start; the 16g default leaves
# a 16 GB test host no room for the Python workers. A test host with
# more RAM can raise it through the same variable.
os.environ.setdefault("ROTEL_SPARK_DRIVER_MEM", "8g")


@pytest.fixture(scope="session")
def spark():
    s = build_spark(app_name="rotel_spark_tests", master="local[4]",
                    shuffle_partitions=4)
    yield s
    s.stop()


SF_UNIT = "/root/testdata/sf0.001"
SF_PARITY = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_unit():
    return SF_UNIT


@pytest.fixture(scope="session")
def sf_parity():
    return SF_PARITY
