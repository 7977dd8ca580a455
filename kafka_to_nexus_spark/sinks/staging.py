"""Parquet-staging sink (primary): the Spark-native analog of the
reference's single-writer HDF5 path (K1–K5).

Executors write per-dataset parquet in parallel (columnar, chunked ≈ HDF5
chunking, row-group stats ≈ cue index); the hierarchical/NeXus part —
groups, attributes, links, static datasets, job metadata — is pure
driver-side JSON (`_nexus_meta.json`). A gated h5py packer
(``sinks.hdf5``) can turn a staged directory into a real NeXus HDF5 file
single-threaded, exactly matching the reference's "never write HDF5 from
more than one thread" rule (src/Stream/MessageWriter.cpp:31-141).

Layout:
    out_dir/
      _nexus_meta.json          # groups, attrs, links, statics, stream map
      data/<escaped group path>/<dataset name>/   (parquet)

Scale: each dataset write is a plain distributed parquet write — no
driver-side collect anywhere in the data path.

Order: a batch job's datasets are sorted on ``ORDER_COLS`` before the
write; a live job's carry ``batch`` + ``_row_order`` (``with_batch_order``)
and the packer sorts on those (``sinks.hdf5``).
"""

from __future__ import annotations

import json
from dataclasses import asdict
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plan.model import Plan, StreamBinding

META_FILE = "_nexus_meta.json"

# Arrival-order columns per (module, dataset) — reproduces the reference's
# per-partition consumption-order append (SURVEY.md §7 "arrival-order
# output"). ``HELPER_COLS`` are transform row-order helpers, dropped before
# staging; ``BATCH_ORDER_COLS`` are the live-staging order columns the
# packer sorts on and drops.
ORDER_COLS: dict[tuple[str, str], list[str]] = {
    ("f144", "log"): ["time"],
    ("ev44", "events"): ["_global_index"],
    ("ev44", "pulses"): ["event_time_zero"],
    ("se00", "log"): ["time"],
    ("tdct", "tdc"): ["time"],
    ("ad00", "frames"): ["time"],
    ("da00", "frames"): ["time"],
    ("al00", "alarms"): ["alarm_time"],
    ("ep01", "status"): ["connection_status_time"],
}
HELPER_COLS = ("_global_index", "row_index")
BATCH_ORDER_COLS = ("batch", "_row_order")


def stream_key(binding: StreamBinding) -> str:
    """Key of a binding's staged-dataset list in ``write_meta``."""
    return f"{binding.path}:{binding.module}:{binding.source}"


def order_cols(module: str, dataset: str, columns) -> list[str]:
    """The dataset's ``ORDER_COLS`` present in ``columns``."""
    return [c for c in ORDER_COLS.get((module, dataset), []) if c in columns]


def with_batch_order(df: DataFrame, batch: int) -> DataFrame:
    """Live-staging columns: ``_row_order`` from the transform's row-order
    helper, helpers dropped, ``batch`` = the micro-batch sequence number.
    Parquet part-file names are unordered, so read-back and pack sort on
    (batch, _row_order) to reproduce single-writer append order."""
    order_src = next((c for c in HELPER_COLS if c in df.columns), None)
    if order_src is not None:
        df = df.withColumn("_row_order", F.col(order_src))
    return df.drop(*HELPER_COLS).withColumn("batch", F.lit(batch))


def escape_path(group_path: str) -> str:
    return group_path.strip("/").replace("/", "__") or "_root"


def dataset_dir(out_dir: str | Path, group_path: str, dataset: str) -> Path:
    return Path(out_dir) / "data" / escape_path(group_path) / dataset


def write_dataset(
    df: DataFrame,
    out_dir: str | Path,
    group_path: str,
    dataset: str,
    order_by: list[str] | None = None,
    single_file: bool = False,
) -> None:
    """Append-order columnar write. ``order_by`` reproduces the reference's
    arrival-order guarantee (per-partition offset order); ``single_file``
    coalesces for small metadata-ish datasets."""
    target = dataset_dir(out_dir, group_path, dataset)
    if order_by:
        df = df.orderBy(*order_by)
    if single_file:
        df = df.coalesce(1)
    df.write.mode("overwrite").parquet(str(target))


def write_empty_dataset(
    schema, out_dir: str | Path, group_path: str, dataset: str
) -> None:
    """Zero-row dataset written driver-side with pyarrow — the finalize
    backfill path. A distributed write of 0 rows buys nothing but
    scheduler latency; this produces the same layout ``write_dataset``
    would (one parquet file, schema-complete, no partition dirs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    target = dataset_dir(out_dir, group_path, dataset)
    target.mkdir(parents=True, exist_ok=True)
    table = pa.Table.from_arrays(
        [pa.array([], type=f.type) for f in arrow], schema=arrow
    )
    pq.write_table(table, target / "part-00000-empty.snappy.parquet")


def write_dataset_grouped(
    df: DataFrame,
    out_dir: str | Path,
    path_by_source: dict[str, str],
    dataset: str,
    source_col: str = "__source",
) -> None:
    """ONE partitioned write for a whole group of same-module sources —
    the 1000-source fast path (one Spark job instead of one per source).

    ``partitionBy(source_col)`` splits the output into per-source
    directories in a single pass; the partition dirs are then moved into
    the canonical ``data/<group>/<dataset>`` layout (a local/posix rename,
    the same cheap-commit trick FileOutputCommitter uses). Sources with no
    rows this pass still get their dataset directory: parquet readers and
    the pack step expect the dataset to exist with a schema, so one empty
    single-file write (driver-side limit(0), one tiny job) is copied into
    each empty slot.
    """
    import shutil
    import tempfile
    from urllib.parse import unquote

    Path(out_dir).mkdir(parents=True, exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="_grouped_", dir=str(Path(out_dir))))
    try:
        df.write.mode("overwrite").partitionBy(source_col).parquet(str(tmp / "p"))
        produced: dict[str, Path] = {}
        for part in (tmp / "p").glob(f"{source_col}=*"):
            # Hive-style partition dirs URI-escape special characters
            produced[unquote(part.name.split("=", 1)[1])] = part
        empty_src: Path | None = None
        for source, group_path in path_by_source.items():
            target = dataset_dir(out_dir, group_path, dataset)
            target.parent.mkdir(parents=True, exist_ok=True)
            if target.exists():
                shutil.rmtree(target)
            part = produced.get(source)
            if part is not None:
                part.rename(target)
                continue
            try:
                # schema-preserving empty dataset, no Spark job (see
                # write_empty_dataset); fallback: one tiny job per group
                write_empty_dataset(
                    df.drop(source_col).schema, out_dir, group_path, dataset
                )
                continue
            except Exception:
                shutil.rmtree(target, ignore_errors=True)
            if empty_src is None:
                df.drop(source_col).limit(0).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(str(tmp / "empty"))
                empty_src = tmp / "empty"
            shutil.copytree(empty_src, target)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_dataset_grouped_batched(
    df: DataFrame,
    out_dir: str | Path,
    path_by_source: dict[str, str],
    dataset: str,
    source_col: str = "__source",
) -> None:
    """Streaming variant of :func:`write_dataset_grouped`: one write
    partitioned by (source, batch); each produced ``batch=N`` directory
    REPLACES its target, so a replayed micro-batch rewrites only its own
    batch and the staged output stays idempotent under failure/restart
    (plain append would duplicate the crashed attempt's files)."""
    import shutil
    import tempfile
    from urllib.parse import unquote

    Path(out_dir).mkdir(parents=True, exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="_grouped_", dir=str(Path(out_dir))))
    try:
        df.write.mode("overwrite").partitionBy(source_col, "batch").parquet(
            str(tmp / "p")
        )
        for part in (tmp / "p").glob(f"{source_col}=*"):
            source = unquote(part.name.split("=", 1)[1])
            target_ds = dataset_dir(out_dir, path_by_source[source], dataset)
            target_ds.mkdir(parents=True, exist_ok=True)
            for bdir in part.glob("batch=*"):
                tgt = target_ds / bdir.name
                if tgt.exists():
                    shutil.rmtree(tgt)
                bdir.rename(tgt)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_meta(
    out_dir: str | Path,
    plan: Plan,
    job: dict,
    stream_outputs: dict[str, list[str]],
    metadata_values: dict[str, object],
    extra_group_attributes: list[dict] | None = None,
) -> None:
    """Driver-side hierarchical metadata: the T1–T6 surface.
    ``extra_group_attributes``: module-synthesized attrs (da00 NXdata
    signal/axes) appended after the plan's own."""
    meta = {
        "job": job,
        "groups": plan.groups,
        "group_attributes": [asdict(a) for a in plan.group_attributes]
        + list(extra_group_attributes or []),
        "static_datasets": [asdict(d) for d in plan.static_datasets],
        "links": [asdict(link) for link in plan.links],
        "streams": [
            {
                "path": s.path,
                "module": s.module,
                "topic": s.topic,
                "source": s.source,
                "config": s.config,
                "datasets": stream_outputs.get(stream_key(s), []),
            }
            for s in plan.streams
        ],
        "mdat": [asdict(m) for m in plan.mdat],
        "metadata_values": metadata_values,
    }
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    # Atomic publish: the staging dir is the live view during a streaming
    # run (snapshots rewrite this file per batch), so a concurrent reader
    # must never see truncated JSON.
    tmp = out / (META_FILE + ".tmp")
    tmp.write_text(json.dumps(meta, indent=2, default=str))
    tmp.replace(out / META_FILE)


def read_meta(out_dir: str | Path) -> dict:
    return json.loads((Path(out_dir) / META_FILE).read_text())


def approximate_size_mb(out_dir: str | Path) -> int:
    """K6 — staged output size gauge, the analog of the reference's
    approx_file_size_mb metric/metadata (FileWriterTask.h:103-111)."""
    total = 0
    for p in Path(out_dir).rglob("*"):
        if p.is_file():
            total += p.stat().st_size
    return round(total / (1024 * 1024))
