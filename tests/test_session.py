from __future__ import annotations

import pytest

from kafka_to_nexus_spark import session

GIB = 2**30


@pytest.mark.parametrize("total, want", [
    (16479424 * 1024, "7g"),  # a 15.7 GiB box
    (64 * GIB, "16g"),        # capped
    (GIB, "1g"),              # floored
    (None, "16g"),            # memory unknown
])
def test_default_driver_memory_fits_the_machine(total, want):
    assert session.default_driver_memory(lambda: total) == want


def test_get_spark_turns_off_origin_capture(spark):
    """``get_spark`` sessions run without PySpark's per-expression
    DataFrame-debugging origin capture, which costs several py4j round
    trips per ``functions``/``Column`` call."""
    from pyspark.errors.utils import is_debugging_enabled
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    F.col("x") + 1  # a wrapped call, so the cached value is this session's
    assert is_debugging_enabled() is False
