"""SparkSession factory tuned for this engine.

Local-mode defaults match the test/bench harness (local[N], AQE on,
Arrow on). On a real cluster the same builder applies — only master()
and memory sizing change. The driver heap is ``SPARK_GRAFT_DRIVER_MEM``
when set, else :func:`default_driver_memory`.

DataFrame-debugging origin capture
(``spark.python.sql.dataFrameDebugging.enabled``) is off by default.
PySpark's default wraps every ``functions``/``Column`` call in a call-site
capture: 5–8 extra py4j round trips per expression (the active session, a
conf read, setting and clearing the JVM's current origin), a stack walk,
and an import of IPython into the driver. That makes the driver's work per
job grow with the number of column expressions in the plan. Off, an
``AnalysisException`` still names the failing expression but not the
Python line that built it. When chasing one, turn capture back on for that
session:
``get_spark(extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"})``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _mem_total_bytes() -> int | None:
    """The machine's MemTotal, or None where /proc/meminfo has none."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def default_driver_memory(mem_total=_mem_total_bytes) -> str:
    """Half the machine's memory, between 1g and 16g: in local mode the
    driver JVM is the whole engine, and the rest of the box stays for
    Python workers and the page cache. 16g when memory is unknown."""
    total = mem_total()
    if total is None:
        return "16g"
    return f"{max(1, min(16, total // 2**31))}g"


def get_spark(
    app_name: str = "kafka_to_nexus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # PySpark reads the debugging conf once per process and caches it;
    # drop the cache so this session's value is the one that holds.
    import pyspark.errors.utils as _errors_utils

    _errors_utils._enable_debugging_cache = None
    return spark
