import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from kgforge.session import get_spark

    # 6g runs the whole suite on a 16 GB host (a 16g heap let the kernel's
    # OOM killer take the JVM mid-suite); pin it so the suite does not
    # depend on the heap the session derives from the host's RAM
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")
    s = get_spark(app_name="kgforge-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def range_files(spark):
    """``range_files(n)`` makes later stage writes in the test split into
    ``n`` range partitions that AQE does not coalesce, so even a small
    table is written as several files. Both settings are restored after
    the test."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    saved = {k: spark.conf.get(k) for k in keys}

    def set_files(n: int) -> None:
        spark.conf.set(keys[0], str(n))
        spark.conf.set(keys[1], "false")

    yield set_files
    for k, v in saved.items():
        spark.conf.set(k, v)
