"""Deserialization-quality operators (reference D1–D5, SURVEY.md §2.2) and
stream metrics (C6 analog via ``df.observe``).

The reference counts per-error-type flatbuffer failures
(src/Stream/Partition.cpp:225-253) and offset gaps (:226-230); here the
error taxonomy is a column and the counters are observable metrics, so
they ride the same scan with zero extra passes. The job runner and the
micro-batch processor count the same taxonomy inside their one stats
action (``operators.stats``); the tests check those counters against
``observe_stream_metrics``.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window, observation
from pyspark.sql import functions as F

from .filters import TS
from ..schemas import SCHEMA_IDS


def with_error_code(df: DataFrame, ts_col: str = TS) -> DataFrame:
    """D1/D2/D4 — classify each message; null = valid.

    Error taxonomy mirrors src/FlatbufferMessage.h + Partition.cpp:225-253:
    unknown schema id, missing source, zero/invalid timestamp.
    """
    return df.withColumn(
        "error_code",
        F.when(~F.col("schema").isin(*SCHEMA_IDS), F.lit("UnknownFlatbufferID"))
        .when(F.col("source_name").isNull() | (F.col("source_name") == ""), F.lit("NotValidFlatbuffer"))
        .when(F.col(ts_col).isNull() | (F.col(ts_col) == 0), F.lit("InvalidTimestamp"))
        .otherwise(F.lit(None).cast("string")),
    )


def valid_only(df: DataFrame) -> DataFrame:
    """Keep valid messages (errors are counted upstream via observe)."""
    if "error_code" not in df.columns:
        df = with_error_code(df)
    return df.filter(F.col("error_code").isNull()).drop("error_code")


def with_offset_gap_flag(
    df: DataFrame,
    flag_col: str = "has_offset_gap",
) -> DataFrame:
    """D5 — non-consecutive offsets per (topic, partition) → BadOffsets.

    Gap detection is offset-ordered BY DEFINITION (the reference compares
    consecutive offsets, src/Stream/Partition.cpp:226-230), so there is
    no order parameter. One window shuffle on (topic, partition) — same
    key Kafka data already arrives partitioned by, so on a streaming read
    this is shuffle-free within a micro-batch.
    """
    w = Window.partitionBy("topic", "partition").orderBy("offset")
    prev = F.lag("offset").over(w)
    return df.withColumn(flag_col, F.coalesce(F.col("offset") != prev + 1, F.lit(False)))


def observe_stream_metrics(df: DataFrame, name: str = "stream_metrics"):
    """C6 — attach counter metrics to the scan (messages received, per-error
    counts, out-of-order count) without a second pass.

    Returns (df, Observation); read ``obs.get`` after an action.
    Reference metric registrations: src/Stream/Partition.cpp:81-99,
    src/Stream/SourceFilter.cpp:22-51.
    """
    if "error_code" not in df.columns:
        df = with_error_code(df)
    def count_where(cond, alias):
        return F.sum(F.when(cond, 1).otherwise(0)).alias(alias)

    counters = [
        F.count(F.lit(1)).alias("messages_received"),
        count_where(F.col("error_code").isNotNull(), "flatbuffer_errors"),
        count_where(F.col("error_code") == "UnknownFlatbufferID", "unknown_schema"),
        count_where(F.col("error_code") == "InvalidTimestamp", "invalid_timestamp"),
        count_where(F.col("error_code") == "NotValidFlatbuffer", "not_valid_flatbuffer"),
    ]
    if "is_out_of_order" in df.columns:
        counters.append(count_where(F.col("is_out_of_order"), "unordered_timestamp"))
    if "has_offset_gap" in df.columns:
        counters.append(count_where(F.col("has_offset_gap"), "bad_offsets"))
    obs = observation.Observation(name)
    observed = df.observe(obs, *counters)
    return observed, obs


ZERO_METRICS = {
    "messages_received": 0,
    "flatbuffer_errors": 0,
    "unknown_schema": 0,
    "invalid_timestamp": 0,
    "not_valid_flatbuffer": 0,
}
