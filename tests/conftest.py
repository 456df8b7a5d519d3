import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from kgforge.session import get_spark

    # the session's 16g default heap exceeds the RAM of a 16 GB test host:
    # over a full run the JVM grows past it and the kernel's OOM killer
    # takes it mid-suite, failing every later Spark test; 6g runs the
    # whole suite
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")
    s = get_spark(app_name="kgforge-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()
