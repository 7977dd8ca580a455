"""W7 — ep01 EPICS connection-status log: (connection_status_time, status int16).

Reference: src/WriterModule/ep01/ep01_Writer.cpp:38-46, datasets
src/NeXusDataset/ConnectionStatusDatasets.h. Status codes per the public
streaming-data-types ep01 schema (CONNECTED=2 matches the domain-test golden).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import map_lookup
from ..schemas import CONNECTION_INFO_CODES

ACCEPTS_REPEATED_TIMESTAMPS = False
GROUPABLE = True  # row-wise map - multi-source safe with a passthrough key


def transform(df: DataFrame, config: dict | None = None) -> dict[str, DataFrame]:
    keep = [F.col(c) for c in ("__source",) if c in df.columns]
    out = df.select(
        *keep,
        F.col("timestamp").alias("connection_status_time"),
        map_lookup(CONNECTION_INFO_CODES, ["connection_status"], default=None)
        .cast("short")
        .alias("connection_status"),
    )
    return {"status": out}
