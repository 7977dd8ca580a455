"""Shared column-level helpers (cue index, ordering, enum codes)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _shard_bases(
    df: DataFrame, weight: Column, shard_col: str, group_cols: Sequence[str] = ()
) -> DataFrame:
    """One row per (group, shard) with the cumulative weight of the group's
    earlier shards.

    The only window here runs over the *aggregated* per-shard totals —
    rows == number of Kafka partitions (≤ ~10⁴ even on a 100 TB topic),
    never over the stream itself.
    """
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(shard_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.groupBy(*group_cols, shard_col)
        .agg(F.sum(weight).alias("_shard_total"))
        .select(
            *group_cols,
            shard_col,
            F.coalesce(F.sum("_shard_total").over(w), F.lit(0))
            .cast("long")
            .alias("_shard_base"),
        )
    )


def sql_literal(value: str | int) -> str:
    """``value`` as Spark SQL literal text: an int as itself, a string as
    its UTF-8 bytes in hex, so no quote or escape rule can change it."""
    if isinstance(value, str):
        return f"CAST(X'{value.encode().hex()}' AS STRING)"
    return str(int(value))


def map_lookup(
    mapping: dict, key_cols: Sequence[str], default: int | None = 0
) -> Column:
    """``mapping`` (nested, one level per key column; long leaves) looked
    up by ``key_cols``; ``default`` where a key is absent (``None``: null).

    The map is one SQL literal expression: one py4j call however many
    entries it holds, where ``F.create_map`` over ``F.lit`` pairs costs
    about a dozen round trips per entry. Empty levels are left out."""

    def literal(level: dict, depth: int) -> str | None:
        leaf = depth == len(key_cols) - 1
        entries = []
        for k, v in level.items():
            val = f"{int(v)}L" if leaf else literal(v, depth + 1)
            if val is not None:
                entries.append(f"{sql_literal(k)}, {val}")
        return f"map({', '.join(entries)})" if entries else None

    text = literal(mapping, 0)
    if text is None:
        return F.lit(default)
    got = F.expr(text)
    for c in key_cols:
        got = F.element_at(got, F.col(c))
    return got if default is None else F.coalesce(got, F.lit(default))


def with_cumulative_before(
    df: DataFrame,
    weight: Column,
    out_col: str,
    shard_col: str = "partition",
    order_cols: Sequence[str] = ("offset",),
    bases: dict | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """``out_col`` = sum of ``weight`` over all rows strictly before this row
    in global ``(shard, *order)`` arrival order — the reference's
    single-writer append counter (ev44_Writer.cpp:107-117) — WITHOUT a
    single-reducer sort.

    Two-pass shape that survives 100×: per-shard running sums execute in
    parallel (Window PARTITION BY shard), and each shard adds the total
    weight of all lower-numbered shards. Exactly the ordering guarantee the
    reference gives: total order within a Kafka partition, partition-id
    order across partitions.

    ``group_col`` runs one independent counter per value of that column
    (the grouped fast path's ``__source``: one frame, many sources).

    ``bases`` is ``{shard: weight of all earlier shards}`` — with
    ``group_col``, ``{group: {shard: base}}`` — when the caller already has
    the per-shard totals (the runner and the micro-batch processor get them
    from their one stats action, ``operators.stats.partition_bases``); it
    rides as a map literal, so the plan holds no extra subplan. Without it
    the bases come from a broadcast join against the tiny per-shard totals
    relation, which costs an aggregate, a window over the totals and a
    broadcast.
    """
    groups = [group_col] if group_col else []
    if bases is None:
        df = df.join(
            F.broadcast(_shard_bases(df, weight, shard_col, groups)),
            on=[*groups, shard_col],
        )
        base = F.col("_shard_base")
    else:
        base = map_lookup(bases, [*groups, shard_col])
    within = (
        Window.partitionBy(*groups, shard_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn(
            out_col,
            (base + F.coalesce(F.sum(weight).over(within), F.lit(0))).cast("long"),
        )
        .drop("_shard_base")
    )


def with_row_index(
    df: DataFrame,
    out_col: str = "row_index",
    partition_cols: Sequence[str] = (),
    order_cols: Sequence[str] = ("partition", "offset"),
) -> DataFrame:
    """0-based position of each row in arrival order (per optional key).

    With no ``partition_cols`` the global index is computed with the
    scalable two-pass scheme (see :func:`with_cumulative_before`): the first
    order column acts as the shard key, so no single-reducer window touches
    the stream.
    """
    if partition_cols:
        w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
        return df.withColumn(out_col, F.row_number().over(w) - 1)
    shard, *rest = order_cols
    if rest and shard in df.columns:
        return with_cumulative_before(
            df, F.lit(1), out_col, shard_col=shard, order_cols=tuple(rest)
        )
    # Degenerate single-order-column form: only reachable on tiny inputs.
    w = Window.orderBy(*order_cols)
    return df.withColumn(out_col, F.row_number().over(w) - 1)


def cue_flag(row_index: Column, cue_interval: int) -> Column:
    """K4 — sparse skip-index: every ``cue_interval``-th write emits a
    (cue_index → row, cue_timestamp_zero → ts) pair enabling ts→row binary
    search. Reference: f144_Writer.cpp:259-263, ev44_Writer.cpp:127-134.
    At scale parquet row-group min/max stats give the same pruning for free;
    the cue columns are still materialized for output parity.
    """
    return (row_index % F.lit(cue_interval)) == F.lit(cue_interval - 1)


def cue_table(
    df: DataFrame,
    cue_interval: int,
    row_index_col: str = "row_index",
    ts_col: str = "time",
) -> DataFrame:
    """Project the cue datasets (cue_index, cue_timestamp_zero)."""
    return (
        df.filter(cue_flag(F.col(row_index_col), cue_interval))
        .select(
            F.col(row_index_col).alias("cue_index"),
            F.col(ts_col).alias("cue_timestamp_zero"),
        )
    )
