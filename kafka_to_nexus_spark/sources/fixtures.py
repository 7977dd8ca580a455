"""S4/S5 — fixture message source: JSON rows → envelope DataFrame.

The reference's file-maker replaces Kafka with a pre-populated message list
(StubConsumerFactory, apps/file-maker.cpp:69-120) built from JSON fixtures
via convert_to_raw_flatbuffer (src/FlatBufferGenerators.h:225-280). Here the
same JSON rows become a typed envelope DataFrame directly — the downstream
pipeline is identical to the Kafka path (same columns as a decoded Kafka
batch read).

Fixture timestamp convention (FIXTURES.md): fixture `timestamp` /
`kafka_timestamp` are **ms**; payload time is ns (generators multiply by
1e6, FlatBufferGenerators.h:35). We keep envelope `timestamp` in ns.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..plan.model import MS_TO_NS
from ..schemas import MESSAGE_SCHEMA


def _normalize_row(item: dict, offset_by_partition: dict) -> dict:
    row = {f.name: None for f in MESSAGE_SCHEMA.fields}
    schema = item.get("schema")
    partition = int(item.get("partition", 0))
    topic = item.get("topic", "")
    key = (topic, partition)
    row["topic"] = topic
    row["partition"] = partition
    row["offset"] = item.get("offset", offset_by_partition.setdefault(key, 0))
    offset_by_partition[key] = int(row["offset"]) + 1
    row["kafka_timestamp"] = int(item.get("kafka_timestamp", 0))
    row["schema"] = schema
    row["source_name"] = item.get("source_name", "")
    ts_ms = item.get("timestamp", item.get("kafka_timestamp", 0))
    row["timestamp"] = int(ts_ms) * MS_TO_NS if ts_ms is not None else None

    if schema == "f144":
        row["value"] = float(item["value"]) if item.get("value") is not None else None
        # array PVs (config array_size > 1) carry the whole array per message
        vals = item.get("values")
        row["values"] = [float(x) for x in vals] if vals is not None else None
    elif schema == "ep01":
        row["connection_status"] = item.get("connection_status")
    elif schema == "al00":
        row["severity"] = item.get("severity")
        row["message"] = item.get("message", "")
    elif schema == "ev44":
        row["message_id"] = item.get("message_id")
        # default reference_time to the envelope timestamp, like the
        # binary twin (fbs.encode_fixture) and the reference generator
        # (FlatBufferGenerators.h) — a null reference_time would null
        # ev44's event_time_zero on this path only
        ref = item.get("reference_time", item.get("timestamp"))
        if ref is not None and not isinstance(ref, list):
            ref = [ref]
        row["reference_time"] = [int(t) * MS_TO_NS for t in ref] if ref else None
        row["reference_time_index"] = item.get("reference_time_index", [0] if ref else None)
        row["time_of_flight"] = item.get("time_of_flight")
        row["pixel_ids"] = item.get("pixel_ids")
    elif schema == "ad00":
        data = item.get("data")
        if data and isinstance(data[0], list):  # 2-D fixture frame
            row["dimensions"] = [len(data), len(data[0])]
            row["data"] = [float(x) for r in data for x in r]
        elif data is not None:
            row["dimensions"] = [len(data)]
            row["data"] = [float(x) for x in data]
    elif schema == "da00":
        row["name"] = item.get("name")
        row["axis_name"] = item.get("axis_name")
        row["data"] = [float(x) for x in item.get("data", [])] or None
        variables = item.get("variables")
        if variables is None and item.get("name") is not None:
            # fixture single-variable form → one-entry multi-var list
            variables = [
                {
                    "name": item.get("name"),
                    "axes": [item["axis_name"]] if item.get("axis_name") else None,
                    "data": item.get("data", []),
                }
            ]
        if variables is not None:
            row["da00_variables"] = [
                {
                    "name": v.get("name"),
                    "unit": v.get("unit"),
                    "label": v.get("label"),
                    "source": v.get("source"),
                    "data_type": v.get("data_type") or v.get("dtype"),
                    "axes": v.get("axes"),
                    "shape": [int(d) for d in v["shape"]] if v.get("shape") else None,
                    "data": [float(x) for x in v.get("data", [])] or None,
                }
                for v in variables
            ]
    elif schema == "se00":
        pts = item.get("packet_timestamp")
        row["packet_timestamp"] = int(pts) if pts is not None else row["timestamp"]
        row["time_delta"] = item.get("time_delta")
        row["timestamps"] = item.get("timestamps")
        vals = item.get("values")
        row["values"] = [float(x) for x in vals] if vals is not None else None
    elif schema == "tdct":
        row["timestamps"] = item.get("timestamps")
    return row


def messages_from_json(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Build the envelope DataFrame from fixture dicts (stub metadata:
    partition 0, monotone offsets — apps/file-maker.cpp semantics)."""
    offsets: dict = {}
    normalized = [_normalize_row(r, offsets) for r in rows]
    return spark.createDataFrame(normalized, MESSAGE_SCHEMA)


def messages_from_file(spark: SparkSession, path: str | Path) -> DataFrame:
    data = json.loads(Path(path).read_text())
    if isinstance(data, dict):  # domain-test fixture files wrap rows
        for key in ("messages", "data", "items"):
            if key in data:
                data = data[key]
                break
    return messages_from_json(spark, data)
