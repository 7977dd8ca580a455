"""Batch job runner — the ``file-maker`` equivalent (SURVEY.md §3.2).

Executes a full job: StartMessage → plan → one filtered scan → one
module transform per source group → staged columnar output + hierarchical
metadata.

Execution shape (Spark-first), one incremental plan per job like a
Structured Streaming trigger:
- Decode once: the error-classified messages are persisted, so the
  FlatBuffers decode (and any upstream scan) runs a single time and every
  stream binding filters from the cache — the F8/F9 shared-scan
  multiplexing the reference gets from its per-topic consumer sets
  (src/Stream/Partition.cpp:15-48, StreamController.cpp:109-151).
- One driver action before the fan-out: ``operators.stats.scan_stats``
  (the same helper ``StreamingJob.process_batch`` uses) returns the D2
  counters, the F3 buffered last-before-start row per source and the
  per-(source, partition) ev44 event counts. The buffered rows rejoin the
  window as a tiny local relation; the event counts give ev44's
  ``events`` value and its cross-partition index bases, so no write plan
  recomputes them.
- One binding path: every stream binding runs in a source group
  (``modules.group_streams``), and a group may have one member. A group
  is one source filter, one transform over a frame keyed by
  ``__source`` and one partitioned write per dataset.
- Flat fan-out (``run_tasks``, shared with ``StreamingJob``): every
  (group, dataset) write and every remaining T6 aggregate collect is its
  own task on one thread pool, so the scheduler interleaves their stages;
  tasks return their metadata values, and pool threads inherit the
  caller's job group.
- One job-output surface with the live path: the T6 aggregates
  (``grouped_summary``) and the job metadata
  (``job_metadata``) are computed here for both job paths, and the staged
  dataset format (order table, stream keys) lives in ``sinks.staging``.
- All plan work is driver-side Python; all data movement is DataFrames;
  nothing in the data path collects to the driver. The stats rows and the
  job-summary aggregates (T6) are tiny per-source rows and are the only
  collected values.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .modules import REGISTRY as MODULE_REGISTRY
from .modules import accepts_repeated_timestamps, get_module, group_streams
from .operators import filters, quality, stats
from .plan import Plan, StartMessage, build_plan
from .plan.model import MS_TO_NS
from .modules import mdat as mdat_module
from .sinks import staging


@dataclass
class JobResult:
    out_dir: str
    plan: Plan
    metrics: dict = field(default_factory=dict)
    metadata_values: dict = field(default_factory=dict)
    elapsed_sec: float = 0.0


def _run_task(task) -> dict:
    """A fan-out task: a zero-argument callable returning the metadata
    values it produced (a write returns none)."""
    return task() or {}


def run_tasks(spark: SparkSession, tasks: list) -> dict:
    """Run a job's fan-out and merge the metadata values its tasks return.

    Every write and aggregate is an independent Spark job: submitted
    together, the scheduler interleaves their stages instead of leaving
    slots idle between serial actions — the reference gets the same effect
    from its per-partition threads feeding one writer. Pool threads
    inherit the caller's job group, so the whole job can be tracked or
    cancelled as one; a single task runs inline."""
    if len(tasks) <= 1:
        return _run_task(tasks[0]) if tasks else {}
    # Wrap each task here: the wrapper captures a copy of the caller's
    # local properties, and one wrapper shared by every task would share
    # one copy, so concurrent writes would overwrite each other's SQL
    # execution id and their jobs would be attributed to one execution.
    wrapped = [inheritable_thread_target(spark)(partial(_run_task, t)) for t in tasks]
    values: dict[str, object] = {}
    with ThreadPoolExecutor(max_workers=min(8, len(tasks))) as pool:
        for got in pool.map(lambda run: run(), wrapped):
            values.update(got)
    return values


def job_metadata(
    start: StartMessage, plan: Plan, events: dict[tuple[str, str], int]
) -> tuple[dict, dict[str, object], list[dict]]:
    """The job-level metadata batch and live jobs publish: the ``job``
    info dict; the metadata values known without reading staged data — ev44 ``events``
    per source from ``events`` (``(module, source) → count``), written
    whatever ``meta_data`` says because only f144 documents that flag, and
    the W9 mdat values; and the module-synthesized group attributes (da00
    NXdata signal/axes) in plan order."""
    values: dict[str, object] = {}
    attrs: list[dict] = []
    for b in plan.streams:
        module = get_module(b.module)
        if hasattr(module, "group_attributes"):
            attrs.extend({"path": b.path, **a} for a in module.group_attributes(b.config))
        if b.module == "ev44":
            values[f"{b.path}/events"] = events.get((b.module, b.source), 0)
    for m in plan.mdat:
        for name, value in mdat_module.values(
            {"items": m.items}, start.start_time_ms, start.stop_time_ms
        ).items():
            values[f"{m.path.rstrip('/')}/{name}"] = value
    job = {
        "job_id": start.job_id,
        "filename": start.filename,
        "start_time_ms": start.start_time_ms,
        "stop_time_ms": start.stop_time_ms,
        "instrument_name": start.instrument_name,
    }
    return job, values, attrs


def _prefixed(path: str, values: dict) -> dict:
    return {f"{path}/{name}": value for name, value in values.items()}


def _statics(module, df: DataFrame, config: dict | None, path: str) -> dict:
    return _prefixed(path, module.statics(df, config))


def grouped_summary(module, df: DataFrame, config: dict | None, group: list) -> dict:
    """T6 aggregates of a whole source group in one grouped collect;
    ``df`` carries the source name in ``__source``."""
    rows = module.aggregates(df, config, group_key="__source").collect()
    by_source = {r["__source"]: r.asDict() for r in rows}
    values: dict[str, object] = {}
    # groupBy drops zero-row sources, but a source's T6 values always
    # exist: emit the global aggregate of no rows (None min/max, 0
    # counts), computed once from an empty slice and shared by every
    # empty source.
    empty_row: dict[str, object] | None = None
    for b in group:
        got = by_source.get(b.source)
        if got is None:
            if empty_row is None:
                empty_row = module.aggregates(df.limit(0), config).collect()[0].asDict()
            got = empty_row
        values.update(_prefixed(b.path, {k: v for k, v in got.items() if k != "__source"}))
    return values


def has_summary(module_id: str, config: dict | None) -> bool:
    """Whether a binding gets T6 aggregates: ``"meta_data": false``
    suppresses them (f144_Writer.cpp:264,282), and ev44's one value,
    ``events``, comes from the stats action (``job_metadata``)."""
    return (
        module_id != "ev44"
        and hasattr(get_module(module_id), "aggregates")
        and (config or {}).get("meta_data", True)
    )


def source_keyed(df: DataFrame, group: list) -> DataFrame:
    """A transform output with its ``__source`` key column. Row-wise and
    per-source outputs carry it through from the input; the rest (cue
    tables, ad00/da00 frames) only ever come from a group of one, whose
    source is a literal."""
    if "__source" in df.columns:
        return df
    assert len(group) == 1, [b.source for b in group]
    return df.withColumn("__source", F.lit(group[0].source))


def _plan_tasks(
    plan: Plan,
    windowed: DataFrame,
    out_dir: str,
    event_counts: dict[tuple[str, str], dict[int, int]],
) -> tuple[list, dict[str, list[str]]]:
    """Build the job's fan-out on the driver: one task per (source group,
    dataset) write and per T6 aggregate or statics collect. Returns the
    tasks and the datasets staged per stream.

    Every binding runs in a source group (modules.group_streams): one
    filter + transform + partitionBy write per dataset and one grouped
    aggregate job per group, however many sources it holds, so the plan
    is O(groups) per job regardless of source count."""
    tasks: list = []
    stream_outputs: dict[str, list[str]] = {}
    for group in group_streams(plan.streams):
        module_id = group[0].module
        module = get_module(module_id)
        config = group[0].config
        sources = [b.source for b in group]
        src = filters.source_filter_many(windowed, module_id, sources)
        if not accepts_repeated_timestamps(module_id):
            # already partitions by (schema, source) internally
            src = filters.drop_repeated_timestamps(src)
        keyed = src.withColumn("__source", F.col("source_name"))
        if module_id == "ev44":
            bases = stats.source_bases(event_counts, sources)
            outputs = module.transform(keyed, config, bases=bases)
        else:
            outputs = module.transform(keyed, config)
        path_by_source = {b.source: b.path for b in group}
        for dataset, df in outputs.items():
            df = source_keyed(df, group)
            order = staging.order_cols(module_id, dataset, df.columns)
            if order:
                # repartition BY SOURCE first: each source then lands whole
                # in one task, so sortWithinPartitions gives it a global
                # order (and one ordered part file per source dir) —
                # without it, a source spanning tasks concatenates part
                # files in task order and the packed time axis is not
                # monotone
                df = df.repartition("__source").sortWithinPartitions("__source", *order)
            df = df.drop(*staging.HELPER_COLS)
            tasks.append(partial(
                staging.write_dataset_grouped, df, out_dir, path_by_source, dataset
            ))
        if has_summary(module_id, config):
            agg_input = outputs.get("log", keyed)
            tasks.append(partial(grouped_summary, module, agg_input, config, group))
        # write-once statics (da00 constants); statics keep a binding in
        # a group of its own
        if hasattr(module, "statics"):
            (b,) = group
            tasks.append(partial(_statics, module, keyed, config, b.path))
        for b in group:
            stream_outputs[staging.stream_key(b)] = list(outputs)
    return tasks, stream_outputs


def run_job(
    spark: SparkSession,
    start: StartMessage,
    messages: DataFrame,
    out_dir: str,
    registrar=None,
) -> JobResult:
    """``registrar``: optional ``metrics.Registrar`` — the job's folded
    counters are published under ``writer.<job_id>.*`` for the C6
    reporting surface (log/Carbon/file sinks)."""
    t0 = time.perf_counter()
    plan = build_plan(start.nexus_structure)

    # Plan-time validation, like the reference's JobCreator (unknown module
    # → job rejected before any work starts, JobCreator.cpp:148-189).
    unknown = sorted({s.module for s in plan.streams} - set(MODULE_REGISTRY))
    if unknown:
        raise ValueError(f"unknown writer module id(s) in nexus_structure: {unknown}")

    start_ns = start.start_time_ms * MS_TO_NS
    stop_ns = None if start.stop_time_ms is None else start.stop_time_ms * MS_TO_NS

    # Decode once: every action below reads this cache. The one stats
    # action yields the D2 counters, the F3 buffered rows and the ev44
    # event counts (operators.stats).
    checked = quality.with_error_code(messages).persist()
    try:
        scan = stats.scan_stats(checked, start_ns, stop_ns)
        metrics = stats.fold_metrics(scan)
        event_counts = stats.event_counts(scan)
        valid = quality.valid_only(checked)
        windowed = filters.window_filter(valid, start_ns, stop_ns).withColumn(
            "is_buffered_message", F.lit(False)
        )
        buffered = list(stats.fold_buffered(scan).values())
        del scan
        if buffered:
            windowed = (
                spark.createDataFrame(buffered, valid.schema)
                .withColumn("is_buffered_message", F.lit(True))
                .unionByName(windowed)
            )
        tasks, stream_outputs = _plan_tasks(plan, windowed, out_dir, event_counts)
        fanned = run_tasks(spark, tasks)
    finally:
        checked.unpersist()

    job_info, metadata_values, group_attrs = job_metadata(
        start, plan, {k: sum(c.values()) for k, c in event_counts.items()}
    )
    metadata_values.update(fanned)
    staging.write_meta(
        out_dir, plan, job_info, stream_outputs, metadata_values,
        extra_group_attributes=group_attrs,
    )

    # K6 — approximate output size gauge (FileWriterTask.h:103-111
    # approx_file_size_mb, recomputed periodically by StreamController)
    metrics["approx_file_size_mb"] = staging.approximate_size_mb(out_dir)
    if registrar is not None:
        from .metrics import registrar_from_counts

        registrar_from_counts(
            metrics, f"writer.{start.job_id}", registrar
        )
    return JobResult(
        out_dir=out_dir,
        plan=plan,
        metrics=metrics,
        metadata_values=metadata_values,
        elapsed_sec=round(time.perf_counter() - t0, 3),
    )
