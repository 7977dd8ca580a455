"""D1–D3 binary ingestion: FlatBuffers → engine envelope.

``decode_kafka_flatbuffers`` is the binary twin of
``streaming.job.envelope_from_kafka_json``: same input contract (a Kafka
batch with ``topic, partition, offset, timestamp, value``), same output
(MESSAGE_SCHEMA envelope). Runs as ``mapInPandas`` — Arrow-batched, one
Python decode per message (FlatBuffers parse is field-seek, not full
deserialize), no JVM round-trips per field.

Scale: decode is a narrow map — no shuffle, pipelined with the scan.
Undecodable messages surface as rows with ``schema``/``source_name``/
``timestamp`` null (MESSAGE_SCHEMA has no extra error column) so the D2
taxonomy (operators/quality.py) can classify them; the reference
likewise keeps consuming after bad buffers
(src/FlatbufferMessage.cpp:41-74 sets Valid=false).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..plan.model import MS_TO_NS
from ..schemas import MESSAGE_SCHEMA
from . import ess
from .runtime import Builder, Table, file_identifier, root_table

__all__ = [
    "Builder",
    "Table",
    "file_identifier",
    "root_table",
    "ess",
    "decode_kafka_flatbuffers",
    "encode_fixture",
]


def encode_fixture(item: dict) -> bytes:
    """Fixture dict (JSON form, ms timestamps — FIXTURES.md) → FlatBuffers
    bytes, mirroring the reference's convert_to_raw_flatbuffer
    (src/FlatBufferGenerators.h:225-280)."""
    schema = item["schema"]
    source = item.get("source_name", "")
    ts_ms = int(item.get("timestamp", item.get("kafka_timestamp", 0)))
    if schema == "f144":
        if item.get("values") is not None:  # array PV form
            return ess.encode_f144_array_double(
                source, [float(x) for x in item["values"]], ts_ms
            )
        return ess.encode_f144_double(source, float(item["value"]), ts_ms)
    if schema == "ev44":
        ref = item.get("reference_time", ts_ms)
        if not isinstance(ref, list):
            ref = [ref]
        return ess.encode_ev44(
            source,
            int(item.get("message_id", 0)),
            [int(t) * MS_TO_NS for t in ref],
            [int(i) for i in item.get("reference_time_index", [0])],
            [int(t) for t in item.get("time_of_flight", [])],
            [int(p) for p in item.get("pixel_ids", [])],
        )
    if schema == "al00":
        return ess.encode_al00(
            source, ts_ms, item.get("severity", 0), item.get("message", "")
        )
    if schema == "ep01":
        return ess.encode_ep01(source, item.get("connection_status", 0), ts_ms)
    if schema == "tdct":
        # tdct fixture timestamps are ALREADY ns (FIXTURES.md) — pass raw,
        # like the JSON-path twin (sources/fixtures.py)
        return ess.encode_tdct(
            source, [int(t) for t in item.get("timestamps", [])]
        )
    if schema == "se00":
        # an explicit packet_timestamp is ns (FIXTURES.md); only the
        # envelope-ms fallback needs the conversion — matching the twin
        pts = item.get("packet_timestamp")
        pts_ns = int(pts) if pts is not None else ts_ms * MS_TO_NS
        return ess.encode_se00(
            source,
            pts_ns,
            item.get("values", []),
            time_delta=float(item.get("time_delta") or 0.0),
            timestamps_ns=[int(t) for t in item.get("timestamps", [])] or None,
        )
    if schema == "ad00":
        data = item.get("data", [])
        if data and not isinstance(data[0], list):
            # 1-D fixture: dimensions [n], not [1, n] — the JSON twin
            # emits rank-1 and _pack_ad00_frames stacks on the given rank
            return ess.encode_ad00_uint16(source, [data], ts_ms, dims=[len(data)])
        return ess.encode_ad00_uint16(source, data, ts_ms)
    if schema == "da00":
        if item.get("variables"):  # full multi-variable frame form
            return ess.encode_da00(source, ts_ms, item["variables"])
        return ess.encode_da00_int32(
            source, item.get("name", ""), item.get("axis_name", ""), ts_ms,
            item.get("data", []),
        )
    raise KeyError(f"no fixture encoder for schema id {schema!r}")


def _decode_batches(batches):
    import pandas as pd

    field_names = [f.name for f in MESSAGE_SCHEMA.fields]
    for pdf in batches:
        out: list[dict] = []
        for row in pdf.itertuples(index=False):
            rec: dict = {name: None for name in field_names}
            rec["topic"] = row.topic
            rec["partition"] = int(row.partition)
            rec["offset"] = int(row.offset)
            rec["kafka_timestamp"] = int(row.kafka_timestamp)
            try:
                payload = ess.decode(bytes(row.value))
            except Exception:
                out.append(rec)  # schema/timestamp stay null → D2 counters
                continue
            for k, v in payload.items():
                if k in rec:
                    rec[k] = v
            out.append(rec)
        yield pd.DataFrame(out, columns=field_names)


def decode_kafka_flatbuffers(kafka_df: DataFrame) -> DataFrame:
    """Kafka batch/stream rows → envelope rows (binary FlatBuffers path)."""
    from pyspark.sql import functions as F

    narrowed = kafka_df.select(
        "topic",
        "partition",
        "offset",
        (F.col("timestamp").cast("double") * 1000).cast("long").alias("kafka_timestamp"),
        "value",
    )
    return narrowed.mapInPandas(_decode_batches, MESSAGE_SCHEMA)
