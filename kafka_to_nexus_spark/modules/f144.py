"""W1 — f144 scalar log: NXlog = {time, value, cue_*} + running min/max/mean.

Reference: src/WriterModule/f144/f144_Writer.cpp:197-301 (write path),
config f144_Writer.h:79-96 (dtype default 'double', chunk 1024,
cue_interval ~off), aggregates published as metadata datasets
minimum_value / maximum_value / average_value with units.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cue_table, with_row_index
from ..schemas import spark_type_for

ACCEPTS_REPEATED_TIMESTAMPS = False
# row-wise transform (no cross-row state when cue is off): safe to run on a
# multi-source frame with a passthrough key (runner grouped fast path)
GROUPABLE = True
DEFAULTS = {"dtype": "double", "cue_interval": None, "value_units": None, "chunk_size": 1024}


def _value_expr(cfg: dict):
    """Scalar PVs arrive in the envelope's ``value`` column; array PVs
    (config ``array_size`` > 1, f144_Writer.h:81) in ``values`` — the
    sink stacks the per-row arrays into a {rows, array_size} dataset."""
    elem = spark_type_for(cfg["dtype"])
    if int(cfg.get("array_size") or 1) > 1:
        return F.transform(F.col("values"), lambda x: x.cast(elem)).alias("value")
    return F.col("value").cast(elem).alias("value")


def transform(df: DataFrame, config: dict | None = None) -> dict[str, DataFrame]:
    cfg = {**DEFAULTS, **(config or {})}
    projection = [
        F.col(c) for c in ("__source",) if c in df.columns
    ] + [
        F.col("timestamp").alias("time"),
        _value_expr(cfg),
    ]
    if not cfg["cue_interval"]:
        # the default (cue_interval ≈ off, f144_Writer.h:82): a pure
        # narrow map — no row-index machinery, no extra shuffle
        return {"log": df.select(*projection)}
    out = with_row_index(df).select("row_index", *projection)
    return {
        "log": out.drop("row_index"),
        "cue": cue_table(out, cfg["cue_interval"]),
    }


def aggregates(
    df: DataFrame, config: dict | None = None, group_key: str | None = None
) -> DataFrame:
    """The job summary (T6) as the mergeable partial ``runner.Summary``
    folds and finishes: min, max, sum and count of the written values
    (f144_Writer.cpp:265-287). Partial aggregation (map-side combine)
    makes this a near-free pass at scale. With ``group_key`` the SAME
    aggregate runs once for a whole group of sources (one job collecting
    one tiny row per source, instead of one job per source)."""
    from pyspark.sql.types import ArrayType

    if isinstance(df.schema["value"].dataType, ArrayType):
        # array PVs: over every ELEMENT written, matching the reference's
        # per-message CValuesInfo accumulation over the whole array
        # (f144_Writer.cpp:265-276)
        aggs = [
            F.min(F.array_min("value")).alias("minimum_value"),
            F.max(F.array_max("value")).alias("maximum_value"),
            F.sum(F.aggregate("value", F.lit(0.0), lambda a, x: a + x)).alias("value_sum"),
            F.sum(F.size("value")).alias("value_count"),
        ]
    else:
        aggs = [
            F.min("value").alias("minimum_value"),
            F.max("value").alias("maximum_value"),
            F.sum("value").alias("value_sum"),
            F.count("value").alias("value_count"),
        ]
    if group_key is not None:
        return df.groupBy(group_key).agg(*aggs)
    return df.agg(*aggs)
