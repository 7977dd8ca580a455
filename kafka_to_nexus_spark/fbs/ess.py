"""ESS streaming-schema codecs over the minimal FlatBuffers runtime.

Encoders mirror the reference's fixture generators
(src/FlatBufferGenerators.h:26-223); decoders mirror the per-schema
extractors (src/AccessMessageMetadata/*/): each buffer yields
``(schema_id, source_name, timestamp_ns, payload columns)`` — the same
envelope contract as the JSON fixture source (sources/fixtures.py).

Field-slot tables follow the public ESS streaming-data-types schemas
(BSD-2). Slots are table data here, not generated code — adjusting a slot
is a one-line change if a schema revision reorders fields.

Per-schema timestamp rule (reference AccessMessageMetadata):
f144/al00/ep01 → ``timestamp`` field; ev44 → ``reference_time[0]``;
tdct → ``timestamps[0]``; se00 → ``packet_timestamp``.
"""

from __future__ import annotations

from ..plan.model import MS_TO_NS
from .runtime import Builder, Table, file_identifier, root_table

# f144 Value union member codes (declaration order, 1-based).
F144_DOUBLE = 10
F144_ARRAY_DOUBLE = 20
_F144_SCALAR_FMT = {1: "b", 2: "B", 3: "h", 4: "H", 5: "i", 6: "I", 7: "q", 8: "Q", 9: "f", 10: "d"}
_F144_ARRAY_FMT = {11: "b", 12: "B", 13: "h", 14: "H", 15: "i", 16: "I", 17: "q", 18: "Q", 19: "f", 20: "d"}

# se00 Values union member codes.
_SE00_ARRAY_FMT = {1: "b", 2: "B", 3: "h", 4: "H", 5: "i", 6: "I", 7: "q", 8: "Q", 9: "f", 10: "d"}
SE00_DOUBLE_ARRAY = 10

# Derived from the single authoritative maps in schemas.py so the decode
# path can never drift from the rest of the engine.
from ..schemas import CONNECTION_INFO_CODES as CONNECTION_CODES  # noqa: E402
from ..schemas import SEVERITY_CODES  # noqa: E402

SEVERITY_NAMES = {v: k for k, v in SEVERITY_CODES.items()}
CONNECTION_NAMES = {v: k for k, v in CONNECTION_CODES.items()}


# ---------------------------------------------------------------------------
# Encoders (fixture generators)
# ---------------------------------------------------------------------------

def encode_f144_double(source: str, value: float, timestamp_ms: int) -> bytes:
    """f144 scalar double (FlatBufferGenerators.h:26-43).
    Slots: 0 source_name, 1 value_type, 2 value, 3 timestamp."""
    b = Builder()
    src = b.create_string(source)
    b.start_table(1)
    b.add_scalar(0, "d", float(value), default=None)
    val = b.end_table()
    b.start_table(4)
    b.add_offset(2, val)
    b.add_offset(0, src)
    b.add_scalar(3, "q", timestamp_ms * MS_TO_NS, default=None)
    b.add_scalar(1, "B", F144_DOUBLE)
    return b.finish(b.end_table(), "f144")


def encode_f144_array_double(source: str, values: list[float], timestamp_ms: int) -> bytes:
    b = Builder()
    src = b.create_string(source)
    vec = b.create_vector("d", [float(v) for v in values])
    b.start_table(1)
    b.add_offset(0, vec)
    val = b.end_table()
    b.start_table(4)
    b.add_offset(2, val)
    b.add_offset(0, src)
    b.add_scalar(3, "q", timestamp_ms * MS_TO_NS, default=None)
    b.add_scalar(1, "B", F144_ARRAY_DOUBLE)
    return b.finish(b.end_table(), "f144")


def encode_ev44(
    source: str,
    message_id: int,
    reference_time_ns: list[int],
    reference_time_index: list[int],
    time_of_flight: list[int],
    pixel_ids: list[int],
) -> bytes:
    """ev44 events (FlatBufferGenerators.h:133-166).
    Slots: 0 source_name, 1 message_id, 2 reference_time,
    3 reference_time_index, 4 time_of_flight, 5 pixel_id."""
    b = Builder()
    src = b.create_string(source)
    rt = b.create_vector("q", reference_time_ns)
    rti = b.create_vector("i", reference_time_index)
    tof = b.create_vector("i", time_of_flight)
    pix = b.create_vector("i", pixel_ids)
    b.start_table(6)
    b.add_offset(5, pix)
    b.add_offset(4, tof)
    b.add_offset(3, rti)
    b.add_offset(2, rt)
    b.add_scalar(1, "q", message_id, default=None)
    b.add_offset(0, src)
    return b.finish(b.end_table(), "ev44")


def encode_al00(source: str, timestamp_ms: int, severity: int | str, message: str = "") -> bytes:
    """al00 alarm (FlatBufferGenerators.h:112-131).
    Slots: 0 source_name, 1 timestamp, 2 severity, 3 message."""
    code = SEVERITY_CODES[severity] if isinstance(severity, str) else int(severity)
    b = Builder()
    src = b.create_string(source)
    msg = b.create_string(message)
    b.start_table(4)
    b.add_offset(3, msg)
    b.add_scalar(2, "h", code)
    b.add_scalar(1, "q", timestamp_ms * MS_TO_NS, default=None)
    b.add_offset(0, src)
    return b.finish(b.end_table(), "al00")


def encode_ep01(source: str, status: int | str, timestamp_ms: int) -> bytes:
    """ep01 EPICS connection (FlatBufferGenerators.h:93-110).
    Slots: 0 timestamp, 1 status, 2 source_name."""
    code = CONNECTION_CODES[status] if isinstance(status, str) else int(status)
    b = Builder()
    src = b.create_string(source)
    b.start_table(3)
    b.add_offset(2, src)
    b.add_scalar(1, "h", code)
    b.add_scalar(0, "q", timestamp_ms * MS_TO_NS, default=None)
    return b.finish(b.end_table(), "ep01")


def encode_tdct(name: str, timestamps_ns: list[int], sequence_counter: int = 0) -> bytes:
    """tdct chopper TDC. Slots: 0 name, 1 timestamps, 2 sequence_counter."""
    b = Builder()
    nm = b.create_string(name)
    ts = b.create_vector("q", timestamps_ns)
    b.start_table(3)
    b.add_scalar(2, "Q", sequence_counter)
    b.add_offset(1, ts)
    b.add_offset(0, nm)
    return b.finish(b.end_table(), "tdct")


def encode_se00(
    name: str,
    packet_timestamp_ns: int,
    values: list[float],
    channel: int = 0,
    time_delta: float = 0.0,
    timestamps_ns: list[int] | None = None,
    message_counter: int = 0,
) -> bytes:
    """se00 sample-environment chunk. Slots: 0 name, 1 channel,
    2 packet_timestamp, 3 time_delta, 4 timestamp_location, 5 timestamps,
    6 message_counter, 7 values_type, 8 values."""
    b = Builder()
    nm = b.create_string(name)
    ts = b.create_vector("q", timestamps_ns) if timestamps_ns else None
    vec = b.create_vector("d", [float(v) for v in values])
    b.start_table(1)
    b.add_offset(0, vec)
    val = b.end_table()
    b.start_table(9)
    b.add_offset(8, val)
    b.add_scalar(7, "B", SE00_DOUBLE_ARRAY)
    b.add_scalar(6, "q", message_counter)
    if ts:
        b.add_offset(5, ts)
    b.add_scalar(3, "d", time_delta, default=None)
    b.add_scalar(2, "q", packet_timestamp_ns, default=None)
    b.add_scalar(1, "i", channel)
    b.add_offset(0, nm)
    return b.finish(b.end_table(), "se00")


# ad00 DType / da00 dtype codes (declaration order in the public schemas).
AD00_DTYPE_FMT = {0: "b", 1: "B", 2: "h", 3: "H", 4: "i", 5: "I", 6: "q", 7: "Q", 8: "f", 9: "d"}
AD00_UINT16 = 3
DA00_DTYPE_FMT = {1: "b", 2: "B", 3: "h", 4: "H", 5: "i", 6: "I", 7: "q", 8: "Q", 9: "f", 10: "d"}
DA00_INT32 = 5


def encode_ad00_uint16(
    source: str,
    values_2d: list[list[int]],
    timestamp_ms: int,
    dims: list[int] | None = None,
) -> bytes:
    """ad00 N-D frame, uint16 payload as raw bytes + dimensions
    (FlatBufferGenerators.h:139-176). Slots: 0 source_name, 1 id,
    2 timestamp, 3 data_type, 4 dimensions, 5 data. ``dims`` overrides
    the [rows, cols] default (a rank-1 fixture declares [n])."""
    import struct as _struct

    rows = len(values_2d)
    cols = len(values_2d[0]) if values_2d else 0
    flat = [v for row in values_2d for v in row]
    raw = _struct.pack(f"<{len(flat)}H", *flat)
    b = Builder()
    src = b.create_string(source)
    data = b.create_vector("B", raw)
    dims = b.create_vector("q", dims if dims is not None else [rows, cols])
    b.start_table(6)
    b.add_offset(5, data)
    b.add_offset(4, dims)
    b.add_scalar(3, "B", AD00_UINT16, default=None)
    b.add_scalar(2, "q", timestamp_ms * MS_TO_NS, default=None)
    b.add_offset(0, src)
    return b.finish(b.end_table(), "ad00")


DA00_DTYPE_CODES = {
    "int8": 1, "uint8": 2, "int16": 3, "uint16": 4, "int32": 5,
    "uint32": 6, "int64": 7, "uint64": 8, "float32": 9, "float64": 10,
}
DA00_DTYPE_NAMES = {v: k for k, v in DA00_DTYPE_CODES.items()}


def _encode_da00_variable(b: Builder, spec: dict) -> int:
    """One da00 Variable table (slots: 0 name, 1 unit, 2 label, 3 source,
    4 data_type, 5 axes, 6 shape, 7 data). ``spec`` mirrors the
    da00_variables envelope struct; data packs per declared data_type
    (default float64)."""
    import struct as _struct

    dtype = spec.get("data_type") or "float64"
    code = DA00_DTYPE_CODES[dtype]
    fmt = DA00_DTYPE_FMT[code]
    data = spec.get("data") or []
    cast = float if fmt in ("f", "d") else int
    raw_bytes = _struct.pack(f"<{len(data)}{fmt}", *[cast(v) for v in data])
    name = b.create_string(spec["name"])
    unit = b.create_string(spec["unit"]) if spec.get("unit") else None
    label = b.create_string(spec["label"]) if spec.get("label") else None
    src = b.create_string(spec["source"]) if spec.get("source") else None
    axes = (
        b.create_offset_vector([b.create_string(a) for a in spec["axes"]])
        if spec.get("axes")
        else None
    )
    shape = b.create_vector("q", [int(d) for d in (spec.get("shape") or [len(data)])])
    raw = b.create_vector("B", raw_bytes)
    b.start_table(8)
    b.add_offset(7, raw)
    b.add_offset(6, shape)
    if axes:
        b.add_offset(5, axes)
    b.add_scalar(4, "B", code, default=None)
    if src:
        b.add_offset(3, src)
    if label:
        b.add_offset(2, label)
    if unit:
        b.add_offset(1, unit)
    b.add_offset(0, name)
    return b.end_table()


def encode_da00(source: str, timestamp_ms: int, variables: list[dict]) -> bytes:
    """da00 DataArray with N variables (the reference's full multi-variable
    frame form, da00_Writer.cpp:210-287). DataArray slots: 0 source_name,
    1 timestamp, 2 variables."""
    b = Builder()
    src = b.create_string(source)
    var_offsets = [_encode_da00_variable(b, v) for v in variables]
    variables_vec = b.create_offset_vector(var_offsets)
    b.start_table(3)
    b.add_offset(2, variables_vec)
    b.add_scalar(1, "q", timestamp_ms * MS_TO_NS, default=None)
    b.add_offset(0, src)
    return b.finish(b.end_table(), "da00")


def encode_da00_int32(
    source: str, name: str, axis_name: str, timestamp_ms: int, data: list[int]
) -> bytes:
    """da00 single int32 variable (FlatBufferGenerators.h:179-223).
    Variable slots: 0 name, 1 unit, 2 label, 3 source, 4 data_type,
    5 axes, 6 shape, 7 data. DataArray slots: 0 source_name, 1 timestamp,
    2 variables."""
    import struct as _struct

    b = Builder()
    src = b.create_string(source)
    var_name = b.create_string(name)
    axis = b.create_string(axis_name)
    axes = b.create_offset_vector([axis])
    shape = b.create_vector("q", [len(data)])
    raw = b.create_vector("B", _struct.pack(f"<{len(data)}i", *[int(v) for v in data]))
    b.start_table(8)
    b.add_offset(7, raw)
    b.add_offset(6, shape)
    b.add_offset(5, axes)
    b.add_scalar(4, "B", DA00_INT32, default=None)
    b.add_offset(0, var_name)
    variable = b.end_table()
    variables = b.create_offset_vector([variable])
    b.start_table(3)
    b.add_offset(2, variables)
    b.add_scalar(1, "q", timestamp_ms * MS_TO_NS, default=None)
    b.add_offset(0, src)
    return b.finish(b.end_table(), "da00")


# ---------------------------------------------------------------------------
# Decoders → envelope payload dicts
# ---------------------------------------------------------------------------

def _decode_f144(t: Table) -> dict:
    vtype = t.scalar(1, "B")
    out = {"source_name": t.string(0), "timestamp": t.scalar(3, "q", None)}
    val = t.table(2)
    if val is not None and vtype in _F144_SCALAR_FMT:
        out["value"] = float(val.scalar(0, _F144_SCALAR_FMT[vtype], 0))
    elif val is not None and vtype in _F144_ARRAY_FMT:
        arr = val.vector(0, _F144_ARRAY_FMT[vtype]) or []
        out["values"] = [float(v) for v in arr]
    return out


def _decode_ev44(t: Table) -> dict:
    ref = t.vector(2, "q") or []
    return {
        "source_name": t.string(0),
        "message_id": t.scalar(1, "q", None),
        "reference_time": ref,
        "reference_time_index": t.vector(3, "i"),
        "time_of_flight": t.vector(4, "i"),
        "pixel_ids": t.vector(5, "i"),
        "timestamp": ref[0] if ref else None,
    }


def _decode_al00(t: Table) -> dict:
    return {
        "source_name": t.string(0),
        "timestamp": t.scalar(1, "q", None),
        "severity": SEVERITY_NAMES.get(t.scalar(2, "h", 0)),
        "message": t.string(3) or "",
    }


def _decode_ep01(t: Table) -> dict:
    return {
        "source_name": t.string(2),
        "timestamp": t.scalar(0, "q", None),
        "connection_status": CONNECTION_NAMES.get(t.scalar(1, "h", 0)),
    }


def _decode_tdct(t: Table) -> dict:
    ts = t.vector(1, "q") or []
    return {
        "source_name": t.string(0),
        "timestamps": ts,
        "timestamp": ts[0] if ts else None,
    }


def _decode_se00(t: Table) -> dict:
    vtype = t.scalar(7, "B")
    val = t.table(8)
    values = None
    if val is not None and vtype in _SE00_ARRAY_FMT:
        values = [float(v) for v in (val.vector(0, _SE00_ARRAY_FMT[vtype]) or [])]
    pts = t.scalar(2, "q", None)
    return {
        "source_name": t.string(0),
        "packet_timestamp": pts,
        "time_delta": t.scalar(3, "d", 0.0),
        "timestamps": t.vector(5, "q"),
        "values": values,
        "timestamp": pts,
    }


def _decode_ad00(t: Table) -> dict:
    import struct as _struct

    fmt = AD00_DTYPE_FMT.get(t.scalar(3, "B"))
    raw = bytes(t.vector(5, "B") or [])
    data = None
    if fmt is not None and raw:
        n = len(raw) // _struct.calcsize("<" + fmt)
        data = [float(v) for v in _struct.unpack(f"<{n}{fmt}", raw[: n * _struct.calcsize('<' + fmt)])]
    return {
        "source_name": t.string(0),
        "timestamp": t.scalar(2, "q", None),
        "dimensions": t.vector(4, "q"),
        "data": data,
    }


def _decode_da00_variable(v: Table) -> dict:
    import struct as _struct

    code = v.scalar(4, "B")
    fmt = DA00_DTYPE_FMT.get(code)
    raw = bytes(v.vector(7, "B") or [])
    data = None
    if fmt is not None and raw:
        n = len(raw) // _struct.calcsize("<" + fmt)
        data = [
            float(x)
            for x in _struct.unpack(f"<{n}{fmt}", raw[: n * _struct.calcsize("<" + fmt)])
        ]
    return {
        "name": v.string(0),
        "unit": v.string(1),
        "label": v.string(2),
        "source": v.string(3),
        "data_type": DA00_DTYPE_NAMES.get(code),
        "axes": v.string_vector(5),
        "shape": v.vector(6, "q"),
        "data": data,
    }


def _decode_da00(t: Table) -> dict:
    out: dict = {
        "source_name": t.string(0),
        "timestamp": t.scalar(1, "q", None),
        "name": None,
        "axis_name": None,
        "data": None,
        "da00_variables": None,
    }
    variables = [_decode_da00_variable(v) for v in t.table_vector(2) or []]
    if variables:
        out["da00_variables"] = variables
        # single-variable convenience fields (fixture-form compatibility)
        first = variables[0]
        out["name"] = first["name"]
        out["axis_name"] = first["axes"][0] if first["axes"] else None
        out["data"] = first["data"]
    return out


_DECODERS = {
    "f144": _decode_f144,
    "ev44": _decode_ev44,
    "al00": _decode_al00,
    "ep01": _decode_ep01,
    "tdct": _decode_tdct,
    "se00": _decode_se00,
    "ad00": _decode_ad00,
    "da00": _decode_da00,
}


def decode(buf: bytes) -> dict:
    """Parse one FlatBuffers message into envelope payload fields.

    Raises ``ValueError`` for short buffers and ``KeyError`` for unknown
    schema ids — callers map these to the D2 error taxonomy."""
    schema = file_identifier(buf)
    payload = _DECODERS[schema](root_table(buf))
    payload["schema"] = schema
    return payload


def schema_id(buf: bytes) -> str:
    return file_identifier(buf)
