"""SparkSession factory with the engine's scale-oriented defaults.

AQE (incl. skew-join splitting) is mandatory per the north rule; Arrow is the
transport for every pandas UDF. shuffle.partitions defaults to 2x cores for
local mode — on a real cluster set it to ~2-3x total executor cores or rely
on AQE coalescing (initialPartitionNum high, AQE shrinks).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def default_shuffle_partitions(master: str) -> int:
    """2N for ``local[N]`` (N cores; ``local`` is one), floor 8: keeps every
    core busy through AQE coalescing. ``local[*]`` takes N from
    ``SPARK_GRAFT_CPUS`` (default 32); a cluster master gets 200."""
    m = re.fullmatch(r"local(?:\[(\d+|\*)(?:,\s*\d+)?\])?", master)
    if m is None:
        return 200
    n = m.group(1) or "1"
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32")) if n == "*" else int(n)
    return max(8, 2 * cores)


def default_driver_memory(mem_total_kb: int | None) -> str:
    """Driver heap for a host with ``mem_total_kb`` of RAM (``MemTotal`` in
    /proc/meminfo): 40% of it in whole gigabytes, at least 1g and at most
    16g; 16g when the total is unknown. Local mode is one JVM, and Python
    workers, page cache and off-heap buffers need the rest: on a 15 GB host
    a 16g heap let the kernel's OOM killer take the JVM mid-run, while 6g
    runs the whole test suite."""
    if not mem_total_kb:
        return "16g"
    gb = int(mem_total_kb * 0.4) // (1024 * 1024)
    return f"{min(16, max(1, gb))}g"


def _mem_total_kb() -> int | None:
    try:
        with open("/proc/meminfo", encoding="ascii") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def get_spark(
    app_name: str = "kgforge",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        shuffle_partitions = default_shuffle_partitions(master)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep parallelism on compute-heavy-but-byte-small shuffles (array
        # intersections, pair explosions): the 1 MB default lets AQE collapse
        # them to 1 task when the bytes are tiny even though the CPU isn't
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # DataFrame-debugging call-site capture costs ~4.5 ms of py4j
        # round-trips PER Column/DataFrame API call (getActiveSession +
        # conf.get + origin set/clear); a large plan like the validator's
        # bitmask tree makes thousands of such calls, turning plan
        # CONSTRUCTION into multi-second, purely-serial driver time that
        # caps scaling efficiency. Production posture is off.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
        # local mode = single JVM: the driver heap IS the executor memory.
        # 16g measured as fast as 8g with 2x headroom; 32g measured 3.7x
        # SLOWER on array-heavy stages (G1 region size doubles at 32g,
        # flipping large shuffle arrays into humongous allocations). The
        # default follows the host's RAM (``default_driver_memory``).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(_mem_total_kb()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # bucketed saveAsTable target (kgforge.sinks.bucketed); keep the
        # in-memory catalog's files out of the repo working directory
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/kgforge-warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
