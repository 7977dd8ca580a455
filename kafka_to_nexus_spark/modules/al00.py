"""W6 — al00 alarms: (alarm_time, severity int16, message fixed-string).

Empty message → "NO ALARM MESSAGE" (reference al00_Writer.cpp:64-67).
Reference: src/WriterModule/al00/al00_Writer.cpp:57-70, datasets
src/NeXusDataset/EpicsAlarmDatasets.h.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import map_lookup
from ..schemas import SEVERITY_CODES

ACCEPTS_REPEATED_TIMESTAMPS = False
GROUPABLE = True  # row-wise map - multi-source safe with a passthrough key


def transform(df: DataFrame, config: dict | None = None) -> dict[str, DataFrame]:
    keep = [F.col(c) for c in ("__source",) if c in df.columns]
    out = df.select(
        *keep,
        F.col("timestamp").alias("alarm_time"),
        map_lookup(SEVERITY_CODES, ["severity"], default=None)
        .cast("short")
        .alias("alarm_severity"),
        F.coalesce(F.nullif(F.col("message"), F.lit("")), F.lit("NO ALARM MESSAGE")).alias(
            "alarm_message"
        ),
    )
    return {"alarms": out}
