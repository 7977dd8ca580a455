"""One fused stats action per scan, shared by the batch runner and the
micro-batch processor.

A single ``groupBy(schema, source_name, partition)`` over the decoded,
error-classified messages yields everything the driver needs before it
fans out the writes:

- the D2 taxonomy counters (C6 ``messages_received``, ``flatbuffer_errors``,
  ...), the same numbers ``quality.observe_stream_metrics`` reports;
- the F3 buffered row: the latest valid pre-start message per
  (source, partition), folded per source on the driver by
  ``(timestamp, partition, offset)`` — the total order
  ``filters.last_before_start`` uses;
- per-(source, partition) in-window ev44 event counts, which give both the
  ``events`` metadata value and the cross-partition bases of the W2
  cumulative event index (``functions.with_cumulative_before(bases=...)``);
- the in-window count, tail timestamp and max event time the streaming
  state machine folds across micro-batches.

The aggregate is map-side combined; its output is one row per
source-partition, so driver traffic stays O(sources × partitions) however
large the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from .filters import TS
from .quality import ZERO_METRICS


def scan_stats(batch: DataFrame, start_ns: int, stop_ns: int | None) -> list[Row]:
    """Collect the per-(schema, source_name, partition) stats rows of
    ``batch``, which must carry ``quality.with_error_code``'s
    ``error_code`` column. ``buffered`` holds the envelope (every column
    but ``error_code``) of the partition's latest valid pre-start row."""
    ts = F.col(TS)
    ok = F.col("error_code").isNull()
    win = ok & (ts >= F.lit(start_ns))
    if stop_ns is not None:
        win = win & (ts <= F.lit(stop_ns))
    pre = ok & (ts < F.lit(start_ns))
    envelope = F.struct(*[F.col(c) for c in batch.columns if c != "error_code"])
    arrival = F.struct("partition", "offset")
    if "time_of_flight" in batch.columns:
        tof = F.col("time_of_flight")
        n_events = F.when(tof.isNotNull(), F.size(tof)).otherwise(F.lit(0))
    else:
        n_events = F.lit(0)

    def count_where(cond, alias):
        return F.sum(F.when(cond, 1).otherwise(0)).alias(alias)

    return (
        batch.groupBy("schema", "source_name", "partition")
        .agg(
            F.count(F.lit(1)).alias("messages_received"),
            count_where(~ok, "flatbuffer_errors"),
            count_where(F.col("error_code") == "UnknownFlatbufferID", "unknown_schema"),
            count_where(F.col("error_code") == "InvalidTimestamp", "invalid_timestamp"),
            count_where(F.col("error_code") == "NotValidFlatbuffer", "not_valid_flatbuffer"),
            F.max(F.when(ok, ts)).alias("max_ts"),
            count_where(win, "n_in_window"),
            F.max_by(F.when(win, ts), F.when(win, arrival)).alias("tail_ts"),
            F.sum(F.when(win, n_events).otherwise(0)).alias("n_events"),
            F.max_by(
                F.when(pre, envelope), F.when(pre, F.struct(ts, "partition", "offset"))
            ).alias("buffered"),
        )
        .collect()
    )


def fold_metrics(stats: list[Row], into: dict | None = None) -> dict:
    """Add the rows' D2 counters to ``into`` (a fresh ``ZERO_METRICS``
    copy by default) and return it."""
    metrics = dict(ZERO_METRICS) if into is None else into
    for r in stats:
        for name in ZERO_METRICS:
            metrics[name] += r[name]
    return metrics


def fold_buffered(stats: list[Row], into: dict | None = None) -> dict:
    """Fold the per-partition buffered rows into ``into`` (keyed
    ``(schema, source_name)``, fresh by default), keeping per source the
    latest by ``(timestamp, partition, offset)``; return it."""
    latest = {} if into is None else into
    for r in stats:
        buf = r["buffered"]
        if buf is None:
            continue
        key = (r["schema"], r["source_name"])
        cur = latest.get(key)
        if cur is None or (buf["timestamp"], buf["partition"], buf["offset"]) > (
            cur["timestamp"], cur["partition"], cur["offset"]
        ):
            latest[key] = buf
    return latest


def event_counts(stats: list[Row]) -> dict[tuple[str, str], dict[int, int]]:
    """In-window event counts, ``(schema, source_name) → {partition: n}``,
    with an entry for every partition that has in-window rows."""
    counts: dict[tuple[str, str], dict[int, int]] = {}
    for r in stats:
        if r["n_in_window"]:
            key = (r["schema"], r["source_name"])
            counts.setdefault(key, {})[r["partition"]] = int(r["n_events"])
    return counts


def source_bases(
    counts: dict[tuple[str, str], dict[int, int]], sources
) -> dict[str, dict[int, int]]:
    """``{source: partition_bases(...)}`` of the ev44 ``sources`` a grouped
    pass indexes together (``counts`` from :func:`event_counts`); a source
    without in-window rows has no entry (its base is 0)."""
    return {
        s: partition_bases(counts[("ev44", s)]) for s in sources if ("ev44", s) in counts
    }


def partition_bases(counts: dict[int, int]) -> dict[int, int]:
    """``{partition: events in all lower-numbered partitions}`` — the
    cross-partition offsets of the W2 index in partition-id order."""
    bases, total = {}, 0
    for p in sorted(counts):
        bases[p] = total
        total += counts[p]
    return bases
