"""W2 — ev44 neutron events: NXevent_data.

Per message: append per-event arrays ``time_of_flight → event_time_offset``
and ``pixel_ids → event_id``; per-pulse ``reference_time → event_time_zero``
and ``event_index = reference_time_index + (cumulative events written before
this message)`` — the monotone index linking pulses to event rows.

Reference: src/WriterModule/ev44/ev44_Writer.cpp:92-144 (index shift :107-117),
config ev44_Writer.h:48-57 (chunk 1M, cue 1e8 events). Buffered (pre-start
as-of) messages are NOT written (ev44_Writer.cpp:94-97).

Spark form: the cumulative shift is a running sum of per-message event
counts over (partition, offset) arrival order, computed with the two-pass
``with_cumulative_before`` scheme — per-Kafka-partition windows in parallel
plus each partition's base offset (the events in all lower-numbered
partitions). The runner and the micro-batch processor pass those bases in
from the per-(source, partition) event counts of their one stats action
(``operators.stats``), so the write plan holds no extra aggregate; called
without them, ``transform`` derives them with a broadcast of the tiny
per-partition totals. Exact parity with the reference's single-writer
append order, no single-reducer sort. Banks without a cue run grouped
(``modules.group_streams``): one frame keyed by ``__source``, one index
per source, bases per (source, partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import with_cumulative_before

ACCEPTS_REPEATED_TIMESTAMPS = True
# per-source index from driver-side bases (no cross-row state a multi-source
# frame would mix): banks without a cue run grouped (modules.group_streams)
GROUPABLE = True
WRITES_BUFFERED = False
DEFAULTS = {"cue_interval": 100_000_000, "chunk_size": 1 << 20}


def _drop_buffered(df: DataFrame) -> DataFrame:
    if "is_buffered_message" in df.columns:
        return df.filter(~F.col("is_buffered_message"))
    return df


_CUE_SCHEMA = "cue_index long, cue_timestamp_zero long"


def _cue_summary(df: DataFrame, events_base: int) -> DataFrame:
    """Per-message cue inputs: (partition, offset, cumulative events after
    this message, last event timestamp) — 3 longs per message, ~10³×
    smaller than the event stream; the cumulative counts come from the
    parallel two-pass ``with_cumulative_before``."""
    n_events = F.size("time_of_flight")
    return (
        with_cumulative_before(df.filter(n_events > 0), n_events, "_events_before")
        .select(
            "partition",
            "offset",
            (
                F.col("_events_before") + F.size("time_of_flight") + F.lit(events_base)
            ).alias("_events_after"),
            (
                F.element_at("reference_time", -1)
                + F.element_at("time_of_flight", -1)
            ).alias("_last_event_ts"),
        )
    )


def _emit_cues(pdf, interval: int, last: int):
    """The reference's single-writer threshold loop over a summary slice
    (already in (partition, offset) order)."""
    import pandas as pd

    idx, ts = [], []
    for ea, t in zip(pdf["_events_after"], pdf["_last_event_ts"]):
        if ea > last + interval:
            idx.append(int(ea) - 1)
            ts.append(int(t))
            last = int(ea) - 1
    return pd.DataFrame({"cue_index": idx, "cue_timestamp_zero": ts})


def cue(
    df: DataFrame,
    config: dict | None = None,
    events_base: int = 0,
    last_cue: int = -1,
) -> DataFrame:
    """K4 — event cue index (ev44_Writer.cpp:127-134): after appending a
    message, when ``EventsWritten > LastCueIndex + CueInterval`` emit
    ``(cue_index = EventsWritten - 1, cue_timestamp_zero = last
    reference_time + last time_of_flight)`` and move the threshold.

    The threshold recurrence is data-dependent (each emission's position
    feeds the next test), so it is inherently sequential in message
    order — exactly the reference's single-writer loop. This lazy form
    runs it as one applyInPandas group over the per-message summary;
    past ~10⁸ messages per source use :func:`cue_blocked`, which runs
    the identical recurrence over bounded summary blocks with the
    LastCueIndex carried between them.

    ``events_base``/``last_cue`` carry the writer state across micro-
    batches (streaming mode): EventsWritten before this batch and the
    LastCueIndex reached so far."""
    import pandas as pd

    interval = (config or {}).get("cue_interval") or DEFAULTS["cue_interval"]
    summary = _cue_summary(_drop_buffered(df), events_base)

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        return _emit_cues(pdf.sort_values(["partition", "offset"]), interval, last_cue)

    return summary.groupBy(F.lit(0).alias("_g")).applyInPandas(emit, _CUE_SCHEMA)


def cue_blocked(
    df: DataFrame,
    config: dict | None = None,
    events_base: int = 0,
    last_cue: int = -1,
    block_size: int = 1_000_000,
) -> DataFrame:
    """Scale form of :func:`cue`: the recurrence is still sequential (the
    reference's loop is too), but no single task ever holds more than
    ``block_size`` summary rows. The summary gets a global row position
    (same two-pass scheme as the event index), is cut into contiguous
    ``block_size`` blocks, and each block runs the identical threshold
    loop as one bounded applyInPandas task — with only LastCueIndex (the
    recurrence's entire state) carried from block to block on the driver.
    Driver traffic is the emitted cues (≈ events/interval rows), never
    the summaries. Eager by construction; returns the cue DataFrame."""
    spark = df.sparkSession
    interval = (config or {}).get("cue_interval") or DEFAULTS["cue_interval"]
    summary = with_cumulative_before(
        _cue_summary(_drop_buffered(df), events_base), F.lit(1), "_rows_before"
    ).withColumn("_block", (F.col("_rows_before") / F.lit(int(block_size))).cast("long"))
    summary = summary.persist()
    try:
        max_block = summary.agg(F.max("_block")).collect()[0][0]
        if max_block is None:
            return spark.createDataFrame([], _CUE_SCHEMA)
        rows: list[tuple[int, int]] = []
        last = last_cue

        def make_emit(carry: int):
            # applyInPandas dispatches on arity: exactly one parameter
            def emit(pdf):
                return _emit_cues(
                    pdf.sort_values(["partition", "offset"]), interval, carry
                )

            return emit

        for b in range(int(max_block) + 1):
            emit = make_emit(last)
            got = (
                summary.filter(F.col("_block") == b)
                .groupBy(F.lit(0).alias("_g"))
                .applyInPandas(emit, _CUE_SCHEMA)
                .collect()
            )
            if got:
                last = max(r["cue_index"] for r in got)
                rows.extend((r["cue_index"], r["cue_timestamp_zero"]) for r in got)
        return spark.createDataFrame(rows, _CUE_SCHEMA)
    finally:
        summary.unpersist()


def transform(
    df: DataFrame,
    config: dict | None = None,
    bases: dict | None = None,
) -> dict[str, DataFrame]:
    """``bases``: ``{partition: in-window events in lower partitions}`` for
    this source, when the caller has already counted them (see
    ``with_cumulative_before``). A frame keyed by ``__source`` (the grouped
    fast path) holds several sources: each gets its own index, ``bases`` is
    ``{source: {partition: base}}`` and both outputs keep ``__source``."""
    df = _drop_buffered(df)
    keep = ["__source"] if "__source" in df.columns else []
    n_events = F.size("time_of_flight")
    with_cum = with_cumulative_before(
        df, n_events, "_events_before", bases=bases,
        group_col="__source" if keep else None,
    )
    events = with_cum.select(
        *keep,
        F.posexplode(F.arrays_zip("time_of_flight", "pixel_ids")).alias("_pos", "_e"),
        "_events_before",
    ).select(
        *keep,
        F.col("_e.time_of_flight").alias("event_time_offset"),
        F.col("_e.pixel_ids").alias("event_id"),
        (F.col("_events_before") + F.col("_pos")).alias("_global_index"),
    )
    # Pulse data is appended only for messages that carry events
    # (ev44_Writer.cpp writeImpl guards on CurrentNumberOfEvents > 0);
    # the events-before accounting above still counts every message.
    pulses = with_cum.filter(n_events > 0).select(
        *keep,
        F.posexplode(F.col("reference_time")).alias("_pos", "event_time_zero"),
        F.coalesce(
            F.element_at(F.col("reference_time_index"), F.col("_pos") + 1), F.lit(0)
        ).alias("_rti"),
        "_events_before",
    ).select(
        *keep,
        "event_time_zero",
        (F.col("_rti") + F.col("_events_before")).alias("event_index"),
    )
    out = {"events": events, "pulses": pulses}
    if (config or {}).get("cue_interval"):
        block = (config or {}).get("cue_block_size")
        out["cue"] = (
            cue_blocked(df, config, block_size=int(block))
            if block
            else cue(df, config)
        )
    return out


def aggregates(df: DataFrame, config: dict | None = None) -> DataFrame:
    """Event-count metadata (`events`, ev44_Writer.cpp metadata dataset)."""
    return _drop_buffered(df).agg(
        F.coalesce(F.sum(F.size("time_of_flight")), F.lit(0)).cast("long").alias("events")
    )
