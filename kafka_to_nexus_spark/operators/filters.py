"""Filter / route plane (reference operators F1–F5, SURVEY.md §2.3).

Each operator is a pure DataFrame→DataFrame function built from Catalyst
primitives, so predicate pushdown / column pruning / codegen apply. Order
within a source is defined by ``(partition, offset)`` — the reference
consumes per-partition in offset order; cross-partition order is undefined
there too (SURVEY.md §7 "arrival-order output").

Scale notes:
- ``source_filter`` / ``window_filter`` are plain predicates → pushed to the
  parquet/Kafka scan.
- ``last_before_start`` uses ``max_by`` aggregation (partial/map-side
  combine) over the tiny pre-start slice, NOT a full sort window — at 100 TB
  the pre-window slice is bounded by the 10 s ``BeforeStartTime`` leeway, so
  the shuffle is a few rows per source.
- dedup/out-of-order need per-source ordering → one shuffle on source_name,
  shared by all three lag-based operators when composed (same window spec).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import sql_literal

# Default envelope column names (schemas.MESSAGE_SCHEMA).
TS = "timestamp"
ORDER_COLS = ("partition", "offset")
SOURCE_COLS = ("schema", "source_name")


def _source_window(source_cols: Sequence[str], order_cols: Sequence[str]) -> Window:
    return Window.partitionBy(*source_cols).orderBy(*order_cols)


def source_filter(df: DataFrame, schema_id: str, source_name: str) -> DataFrame:
    """F1 — equi-predicate on the routing key (schema_id, source_name).

    Reference: SrcHash match, src/Stream/SourceFilter.cpp:73-78.
    """
    return df.filter((F.col("schema") == schema_id) & (F.col("source_name") == source_name))


def source_filter_many(
    df: DataFrame, schema_id: str, source_names: Sequence[str]
) -> DataFrame:
    """F1 over a whole source group in one predicate (schema equality +
    IN-set) — the grouped fast path's scan filter. The IN list is SQL text,
    one py4j call for any group size (``isin`` makes several per name)."""
    names = ", ".join(sql_literal(s) for s in source_names)
    return df.filter(
        (F.col("schema") == schema_id) & F.expr(f"source_name IN ({names})")
    )


def drop_invalid(df: DataFrame, ts_col: str = TS) -> DataFrame:
    """D4 — zero/null timestamp is invalid (src/FlatbufferMessage.cpp:57-59)."""
    return df.filter(F.col(ts_col).isNotNull() & (F.col(ts_col) != 0))


def window_filter(df: DataFrame, start: int, stop: int | None, ts_col: str = TS) -> DataFrame:
    """F2 — time-window predicate: start <= t <= stop.

    Reference: src/Stream/SourceFilter.cpp:101-118 (stop defaults to +inf).
    """
    cond = F.col(ts_col) >= F.lit(start)
    if stop is not None:
        cond = cond & (F.col(ts_col) <= F.lit(stop))
    return df.filter(cond)


def last_before_start(
    df: DataFrame,
    start: int,
    source_cols: Sequence[str] = SOURCE_COLS,
    ts_col: str = TS,
    order_cols: Sequence[str] = ORDER_COLS,
) -> DataFrame:
    """F3 (half) — per source, the single latest message with t < start.

    Implemented as ``max_by(struct(*), (ts, order))`` — a hash aggregate with
    map-side partial combine, cheaper at scale than a global sort window.
    Reference: src/Stream/SourceFilter.cpp:61-66 (buffer latest pre-start).
    """
    pre = df.filter(F.col(ts_col) < F.lit(start))
    ordering = F.struct(F.col(ts_col), *[F.col(c) for c in order_cols])
    picked = pre.groupBy(*[F.col(c) for c in source_cols]).agg(
        F.max_by(F.struct(*[F.col(c) for c in df.columns]), ordering).alias("_row")
    )
    return picked.select("_row.*")


def with_asof_buffer(
    df: DataFrame,
    start: int,
    stop: int | None,
    source_cols: Sequence[str] = SOURCE_COLS,
    ts_col: str = TS,
    order_cols: Sequence[str] = ORDER_COLS,
    flag_col: str = "is_buffered_message",
) -> DataFrame:
    """F3 — window rows plus the buffered last-before-start row per source.

    The buffered row is flagged ``is_buffered_message = true`` so modules can
    opt out (ev44 ignores buffered rows, ev44_Writer.cpp:94-97) while f144
    writes it — the value "in effect" at window start.
    Reference: src/Stream/SourceFilter.cpp:61-66,101-116; consumed flag
    src/Stream/MessageWriter.cpp:65-68.
    """
    in_window = window_filter(df, start, stop, ts_col).withColumn(flag_col, F.lit(False))
    buffered = last_before_start(df, start, source_cols, ts_col, order_cols).withColumn(
        flag_col, F.lit(True)
    )
    return buffered.unionByName(in_window)


F4_SOURCE_COLS = SOURCE_COLS + ("partition",)
F4_ORDER_COLS = ("offset",)


def drop_repeated_timestamps(
    df: DataFrame,
    source_cols: Sequence[str] = F4_SOURCE_COLS,
    ts_col: str = TS,
    order_cols: Sequence[str] = F4_ORDER_COLS,
) -> DataFrame:
    """F4 — drop a message whose timestamp equals the previous one (in
    consumption order) for the same source AND Kafka partition: the
    reference runs one SourceFilter per (source, partition), so a source
    spanning partitions dedups each partition's sequence independently
    (offsets order within a partition; cross-partition order is
    undefined). Modules that accept repeats (ev44) simply skip this
    operator.

    Reference: src/Stream/SourceFilter.cpp:90-95 (one filter per
    (source, partition): src/Stream/Partition.cpp); opt-in flag
    src/WriterModuleBase.h:36,55 (acceptsRepeatedTimestamps).
    """
    w = _source_window(source_cols, order_cols)
    prev = F.lag(F.col(ts_col)).over(w)
    return (
        df.withColumn("_prev_ts", prev)
        .filter(F.col("_prev_ts").isNull() | (F.col(ts_col) != F.col("_prev_ts")))
        .drop("_prev_ts")
    )


def with_out_of_order_flag(
    df: DataFrame,
    source_cols: Sequence[str] = SOURCE_COLS,
    ts_col: str = TS,
    order_cols: Sequence[str] = ORDER_COLS,
    flag_col: str = "is_out_of_order",
) -> DataFrame:
    """F5 — flag (don't drop) messages whose ts < previous ts per source;
    the reference only counts these (UnorderedTimestamp metric) and writes
    them anyway. Reference: src/Stream/SourceFilter.cpp:96-98.
    """
    w = _source_window(source_cols, order_cols)
    prev = F.lag(F.col(ts_col)).over(w)
    return df.withColumn(flag_col, F.coalesce(F.col(ts_col) < prev, F.lit(False)))
