import os

import pytest

from defactonlp_spark.session import get_spark

# get_spark's default driver heap (48g) lets one test session's JVM grow
# past the RAM of a 16 GB host and get OOM-killed mid-suite; the suite's
# live set is far smaller. An explicit SPARK_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()
