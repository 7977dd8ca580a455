"""NeXus packer: staged parquet directory → one HDF5 file.

Single-threaded by design — HDF5 is not thread-safe and the reference
funnels every append through one writer thread
(src/Stream/MessageWriter.cpp:31-141). Here the parallel work (scan,
filter, transform, columnar staging) has already happened in Spark; this
pack step is a sequential column copy, the same amount of single-threaded
HDF5 I/O the reference performs.

Backend: ``h5py`` when installed, else the built-in spec-based
``hdf5lib`` writer (same facade) — the pack path executes either way.

Covers: K1 single-writer, T2 static datasets (shape from JSON nesting),
T3 attributes (incl. auto NX_class/topic/source/writer_module,
JobCreator.cpp:277-312), T4 hard links at finalize (HDFFile.cpp:238-247),
T5 file-level metadata (HDFFile.cpp:129-181), W4 ad00 N-D stacking with
trailing-dim extend + zero-fill (ExtensibleDataset.h:412-519),
unsigned-dtype narrowing (SURVEY.md §1.5). Chunked storage (K3) applies
on both backends (h5py filters/B-tree; hdf5lib v1-B-tree chunk index,
matching the reference's chunked datasets, ExtensibleDataset.h:144-291).
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np

try:  # pragma: no cover - exercised where h5py exists
    import h5py as _h5
except ImportError:
    from . import hdf5lib as _h5

from . import staging

NUMPY_DTYPES = {
    "int8": np.int8,
    "uint8": np.uint8,
    "int16": np.int16,
    "uint16": np.uint16,
    "int32": np.int32,
    "uint32": np.uint32,
    "int64": np.int64,
    "uint64": np.uint64,
    "float32": np.float32,
    "float": np.float32,
    "float64": np.float64,
    "double": np.float64,
}

def _write_attrs(node, attrs: list[dict]) -> None:
    for a in attrs:
        values = a["values"]
        if a.get("dtype") in NUMPY_DTYPES:
            values = np.asarray(values, dtype=NUMPY_DTYPES[a["dtype"]])
        elif isinstance(values, list) and any(isinstance(x, str) for x in values):
            # string-array attrs as object arrays (vlen str) — the numpy
            # default '<U' has no h5py conversion path
            values = np.asarray(values, dtype=object)
        node.attrs[a["name"]] = values


def _ordered_frame(table, module: str, dataset: str):
    """Staged parquet → pandas frame in single-writer append order.

    A batch job stages each dataset already sorted on
    ``staging.ORDER_COLS`` (parquet part files hold ordered ranges), so it
    is read as is. A live job stages ``staging.BATCH_ORDER_COLS``: sort on
    ``batch``, then ``_row_order``, or, for datasets without a row-order
    helper, the dataset's ``staging.ORDER_COLS`` within the batch."""
    pdf = table.to_pandas()
    if "batch" in pdf.columns:
        sort_cols = ["batch"] + (
            ["_row_order"]
            if "_row_order" in pdf.columns
            else staging.order_cols(module, dataset, pdf.columns)
        )
        pdf = pdf.sort_values(sort_cols, kind="stable")
    return pdf.drop(columns=[c for c in staging.BATCH_ORDER_COLS if c in pdf.columns])


def _chunks(n: int, chunk_size: int):
    if n == 0:
        return None
    return (min(chunk_size, max(n, 1)),)


def _pack_ad00_frames(grp, pdf, chunk_size: int, dtype=None) -> None:
    """W4: stack per-message N-D frames into one (n+1)-D ``value`` dataset,
    extending trailing dims to the max extent and zero-filling smaller
    slabs (ExtensibleDataset.h:412-519: larger frame → extend, smaller
    frame → hyperslab at origin, remainder stays fill=0). ``dtype`` is
    the stream's configured element type, so the on-disk dataset matches
    the reference writer's typed datasets. NOTE the envelope bound: the
    Spark pipeline carries frame data as array<double>
    (schemas.MESSAGE_SCHEMA), so integer counts are exact only up to
    2^53 end-to-end — the dtype restores the declared storage type, not
    precision the envelope already spent (documented deviation, like the
    uint64 widening in schemas.DTYPE_MAP)."""
    shapes = [tuple(int(d) for d in s) for s in pdf["shape"]]
    rank = max((len(s) for s in shapes), default=0)
    shapes = [s + (1,) * (rank - len(s)) for s in shapes]
    max_shape = tuple(
        max((s[i] for s in shapes), default=0) for i in range(rank)
    )
    stack = np.zeros((len(shapes), *max_shape), dtype=dtype or np.float64)
    for i, (s, flat) in enumerate(zip(shapes, pdf["data"])):
        frame = np.asarray(flat).astype(stack.dtype).reshape(s)
        stack[(i,) + tuple(slice(0, d) for d in s)] = frame
    grp.create_dataset("value", data=stack).attrs["units"] = ""
    grp.create_dataset(
        "time",
        data=np.asarray(pdf["time"], dtype=np.int64),
        chunks=_chunks(len(pdf), chunk_size),
    ).attrs["units"] = "ns"


def _pack_da00_frames(grp, pdf, chunk_size: int) -> None:
    """W5: stack each variable's per-message arrays into a 2-D ``<name>``
    dataset + one ``time`` axis (da00_Writer.cpp:210-287). Handles both
    the pivoted multi-variable staging (``data_<name>`` columns) and the
    fixture single-variable-per-message rows."""
    if "variable" in pdf.columns:
        times_written = False
        for name in dict.fromkeys(pdf["variable"]):  # insertion order
            rows = pdf[pdf["variable"] == name]
            stack = np.asarray([np.asarray(v, dtype=np.float64) for v in rows["data"]])
            grp.create_dataset(name, data=stack)
            if not times_written:
                grp.create_dataset(
                    "time",
                    data=np.asarray(rows["time"], dtype=np.int64),
                    chunks=_chunks(len(rows), chunk_size),
                ).attrs["units"] = "ns"
                times_written = True
        return
    pdf = pdf.sort_values("time", kind="stable")
    for col in pdf.columns:
        if not col.startswith("data_"):
            continue
        # keep every variable stack aligned with the SHARED time axis:
        # a message missing this variable (or carrying a shorter array)
        # fills with 0 at its row instead of being dropped — dropping
        # would shift variable[i] off time[i] and silently corrupt the
        # NXdata (fill=0 is ExtensibleDataset's fill semantics)
        vals = [
            None if v is None else np.asarray(v, dtype=np.float64).ravel()
            for v in pdf[col]
        ]
        width = max((len(v) for v in vals if v is not None), default=0)
        stack = np.zeros((len(vals), width), dtype=np.float64)
        for i, v in enumerate(vals):
            if v is not None:
                stack[i, : len(v)] = v
        grp.create_dataset(col[len("data_"):], data=stack)
    grp.create_dataset(
        "time",
        data=np.asarray(pdf["time"], dtype=np.int64),
        chunks=_chunks(len(pdf), chunk_size),
    ).attrs["units"] = "ns"


def template_path(prefix: str | Path, instrument_name: str) -> Path:
    """S6 — per-instrument template file location
    ``{prefix}/{instrument}/{instrument}.hdf`` (Master.cpp:92-98)."""
    return Path(prefix) / instrument_name / f"{instrument_name}.hdf"


def _copy_template(dst, src_group) -> None:
    """Recursively copy a template file's groups/datasets/attributes into
    the output — the reference initialises the output HDF from the
    instrument template before writing (JobCreator.cpp:32-43)."""
    for name, value in src_group.attrs.items():
        dst.attrs[name] = value
    for name, child in src_group.items():
        if hasattr(child, "keys"):  # group
            _copy_template(dst.require_group(name), child)
        else:
            ds = dst.create_dataset(name, data=child[()])
            for aname, avalue in child.attrs.items():
                ds.attrs[aname] = avalue


def pack(
    out_dir: str | Path,
    hdf_path: str | Path,
    chunk_size: int = 1024,
    template_file: str | Path | None = None,
    file_name: str | None = None,
) -> None:
    """Materialize a staged job directory as a NeXus HDF5 file.

    ``template_file``: optional instrument template (S6) the output file is
    initialised from; job content is written over/alongside it.
    ``file_name``: value for the root ``file_name`` attribute when the
    write target is a temp path (live-snapshot publish via rename)."""
    import pyarrow.parquet as pq

    meta = staging.read_meta(out_dir)
    # A prior pack() leaves the file read-only (chmod-at-close below);
    # re-packing the same path is legal overwrite semantics, so restore
    # write permission before opening with mode "w".
    if os.path.exists(hdf_path):
        os.chmod(hdf_path, 0o644)
    with _h5.File(hdf_path, "w") as f:
        if template_file is not None and Path(template_file).exists():
            with _h5.File(template_file, "r") as tpl:
                _copy_template(f, tpl)
        # T5 file-level metadata
        f.attrs["file_name"] = file_name or str(hdf_path)
        f.attrs["creator"] = "kafka_to_nexus_spark"

        for group_path in meta["groups"]:
            f.require_group(group_path)
        for a in meta["group_attributes"]:
            _write_attrs(f[a["path"]], [a])

        # T2 static datasets (job structure wins over template content —
        # the reference initialises from the template THEN writes the job
        # structure over it, JobCreator.cpp:32-43, so an existing
        # template dataset at the same path is replaced, not kept)
        for d in meta["static_datasets"]:
            if d["path"] in f:
                del f[d["path"]]
            dtype = NUMPY_DTYPES.get(d.get("dtype") or "")
            data = np.asarray(d["values"], dtype=dtype) if dtype else d["values"]
            if isinstance(data, list) and any(isinstance(x, str) for x in data):
                # string ARRAYS must be object arrays (vlen str on both
                # backends) — numpy's default '<U' has no h5py conversion
                data = np.asarray(data, dtype=object)
            ds = f.create_dataset(d["path"], data=data)
            _write_attrs(ds, d.get("attributes", []))

        # stream datasets from staged parquet (sequential single writer).
        # Columns flatten directly into the stream group — the reference
        # writes value/time, event_*, alarm_*, connection_status* as sibling
        # datasets of the NXlog/NXevent_data group.
        units_by_path: dict[str, str] = {}
        for s in meta["streams"]:
            grp = f.require_group(s["path"])
            grp.attrs.setdefault("topic", s["topic"])
            grp.attrs.setdefault("source", s["source"])
            grp.attrs.setdefault("writer_module", s["module"])
            cfg = s.get("config") or {}
            value_units = cfg.get("value_units") or cfg.get("unit") or ""
            if s["module"] == "f144":  # aggregates belong to the f144 stream
                units_by_path[s["path"].rstrip("/")] = value_units
            for dataset in s["datasets"]:
                table = pq.read_table(staging.dataset_dir(out_dir, s["path"], dataset))
                # Arrow-level null masks, BEFORE to_pandas: pandas maps
                # both parquet null and a genuine float NaN to NaN, and
                # dropping NaN DATA rows would desync paired datasets
                # (a NaN is a legal f144 reading). Only true nulls take
                # the per-dataset-append path below.
                import pyarrow.compute as pc

                null_cols = {
                    c for c in table.column_names
                    if table.column(c).null_count > 0
                }
                for c in null_cols:
                    table = table.append_column(
                        f"__null_{c}", pc.is_null(table.column(c))
                    )
                pdf = _ordered_frame(table, s["module"], dataset)
                if s["module"] == "ad00" and dataset == "frames":
                    _pack_ad00_frames(
                        grp, pdf, chunk_size,
                        NUMPY_DTYPES.get(cfg.get("dtype") or ""),
                    )
                    continue
                if s["module"] == "da00" and dataset == "frames":
                    _pack_da00_frames(grp, pdf, chunk_size)
                    continue
                for col in pdf.columns:
                    if col.startswith("__null_"):
                        continue
                    series = pdf[col]
                    if col in null_cols:
                        # the reference appends per dataset, so a message
                        # carrying no value for one column appends NOTHING
                        # there (ev44 with empty pixel_ids: event_id stays
                        # empty while event_time_offset grows,
                        # ev44_WriterTests WithoutPixelIds) — mirror that
                        # by dropping TRUE-null rows per column; the
                        # parquet schema keeps the dtype when everything
                        # was null
                        import pyarrow as pa

                        field_t = table.schema.field(col).type
                        series = series[~pdf[f"__null_{col}"]]
                        if not len(series):
                            if pa.types.is_string(field_t) or pa.types.is_large_string(
                                field_t
                            ):
                                # pa.string().to_pandas_dtype() is object,
                                # which h5py rejects without an explicit
                                # vlen-str dtype ("Object dtype has no
                                # native HDF5 equivalent")
                                grp.create_dataset(
                                    col,
                                    data=np.empty(0, dtype=object),
                                    dtype=_h5.string_dtype(),
                                )
                            else:
                                grp.create_dataset(
                                    col,
                                    data=np.asarray(
                                        [], dtype=field_t.to_pandas_dtype()
                                    ),
                                )
                            continue
                        if pa.types.is_integer(field_t):
                            # pandas upcast the nullable ints to float —
                            # restore the parquet-declared integer dtype
                            series = series.astype(field_t.to_pandas_dtype())
                    if len(series) and isinstance(series.iloc[0], (list, np.ndarray)):
                        arr = np.asarray([np.asarray(v) for v in series])
                    else:
                        arr = series.to_numpy()
                    if arr.dtype == object:
                        coerced = np.asarray(list(arr))
                        # keep str columns as object: numpy coerces them
                        # to '<U' which h5py cannot write (vlen str needs
                        # the object form on both backends)
                        if coerced.dtype.kind != "U":
                            arr = coerced
                    dtype = NUMPY_DTYPES.get(cfg.get("dtype", ""), None)
                    if dtype is not None and col == "value":
                        arr = arr.astype(dtype)  # narrow widened unsigned
                    ds = grp.create_dataset(
                        col, data=arr, chunks=_chunks(len(arr), chunk_size)
                    )
                    if col == "value":
                        ds.attrs["units"] = value_units
                    elif col == "time":
                        ds.attrs["units"] = "ns"

        # job-summary metadata values (T6) — f144 aggregates inherit the
        # stream's value units (f144_Writer.cpp metadata datasets)
        for path, value in meta.get("metadata_values", {}).items():
            if value is None:
                # zero-message source: min/max/average are None — the
                # reference writes no aggregate datasets when nothing was
                # written (f144_Writer.cpp close-time guards); h5py would
                # raise on data=None and hdf5lib would write a bogus
                # empty float dataset
                continue
            if path not in f:
                ds = f.create_dataset(path, data=value)
                parent = str(Path(path).parent).rstrip("/")
                if parent in units_by_path and path.rsplit("/", 1)[-1] in (
                    "minimum_value", "maximum_value", "average_value"
                ):
                    ds.attrs["units"] = units_by_path[parent]

        # T4 hard links at finalize. posixpath.normpath: the target is an
        # HDF5-internal path — Path.resolve() would consult the REAL
        # filesystem (symlinks, drive prefixes) and could mangle it.
        import posixpath

        for link in meta["links"]:
            parent = str(Path(link["path"]).parent)
            target = posixpath.normpath(posixpath.join(parent, link["target"]))
            if target in f:
                f[link["path"]] = f[target]

    # Finished files are immutable: r--r--r--, matching the reference's
    # chmod-at-close (HDFFile.cpp:39-48).
    os.chmod(hdf_path, 0o444)
