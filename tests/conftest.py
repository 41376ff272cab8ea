import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tric_spark.session import get_spark  # noqa: E402

# Bound the heap of the test JVM and of every Spark subprocess a test starts
# (they inherit this environment). At the library's 16g default the test JVM
# grows lazily past what the tests need, and with a second JVM beside it
# (test_entry's oracle subprocess) the host's OOM killer takes the test JVM,
# failing every later test.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tric-spark-tests", cores=8, shuffle_partitions=8)
    yield s


def edges_df(spark, pairs):
    """Canonical-form edge DataFrame from a list of (u, v) pairs."""
    rows = [(int(u), int(v)) for u, v in pairs]
    return spark.createDataFrame(rows, "src long, dst long")
