"""Property-based specs for the filter plane: Spark operators must agree
with a naive Python model on arbitrary message streams.

The reference pins these semantics with example-based unit tests
(tests/Stream/SourceFilterTest.cpp:65-253); hypothesis generalizes them.
Examples are kept small and few — each case is a Spark round-trip.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kafka_to_nexus_spark.operators import filters

# messages: (offset, ts) per source; single partition, consumption order =
# offset order. Timestamps small ints to force collisions/out-of-order.
msg_lists = st.lists(
    st.tuples(st.integers(0, 30), st.sampled_from(["s1", "s2"])),
    min_size=0,
    max_size=12,
)

PROP_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, msgs):
    rows = [
        ("f144", src, 0, i, ts, float(ts))
        for i, (ts, src) in enumerate(msgs)
    ]
    return spark.createDataFrame(
        rows, "schema string, source_name string, partition int, offset long, timestamp long, value double"
    )


# messages over up to three Kafka partitions: (ts, source, partition);
# offsets count per partition. Few timestamps, so ties across partitions
# are common.
partitioned_msg_lists = st.lists(
    st.tuples(st.integers(0, 12), st.sampled_from(["s1", "s2"]), st.integers(0, 2)),
    min_size=0,
    max_size=12,
)


def _partitioned_df(spark, msgs):
    offsets: dict[int, int] = {}
    rows = []
    for ts, src, part in msgs:
        off = offsets.get(part, 0)
        offsets[part] = off + 1
        rows.append(("f144", src, part, off, ts, float(ts)))
    return spark.createDataFrame(
        rows, "schema string, source_name string, partition int, offset long, timestamp long, value double"
    )


@given(msgs=partitioned_msg_lists, start=st.integers(0, 14), width=st.integers(0, 14))
@PROP_SETTINGS
def test_asof_buffer_matches_naive_model(spark, msgs, start, width):
    from kafka_to_nexus_spark.operators import quality, stats

    stop = start + width
    df = _partitioned_df(spark, msgs)
    out = filters.with_asof_buffer(df, start, stop).collect()

    # naive model: per source keep latest (ts, partition, offset) with
    # ts < start, plus every in-window row
    naive_buffered = {}
    naive_window = set()
    offsets: dict[int, int] = {}
    for ts, src, part in msgs:
        off = offsets.get(part, 0)
        offsets[part] = off + 1
        if ts < start:
            cur = naive_buffered.get(src)
            if cur is None or (ts, part, off) > cur:
                naive_buffered[src] = (ts, part, off)
        elif start <= ts <= stop:
            naive_window.add((part, off))

    got_buffered = {
        r.source_name: (r.timestamp, r.partition, r.offset) for r in out if r.is_buffered_message
    }
    got_window = {(r.partition, r.offset) for r in out if not r.is_buffered_message}
    assert got_buffered == naive_buffered
    assert got_window == naive_window

    # the driver fold of the stats action's per-partition rows (the
    # runner's and the micro-batch processor's buffered row) must pick the
    # same row as the operator over valid messages (ts 0 is invalid)
    folded = stats.fold_buffered(
        stats.scan_stats(quality.with_error_code(df), start, stop)
    )
    want = {
        r.source_name: r.asDict()
        for r in filters.with_asof_buffer(quality.valid_only(df), start, stop).collect()
        if r.is_buffered_message
    }
    got = {src: {**row.asDict(), "is_buffered_message": True} for (_, src), row in folded.items()}
    assert got == want


@given(
    msgs=st.lists(
        st.tuples(
            st.sampled_from(["f144", "ev44", "zz99"]),
            st.sampled_from(["s1", "", None]),
            st.sampled_from([0, 5, 11]),
            st.integers(0, 2),
        ),
        min_size=1,
        max_size=12,
    )
)
@PROP_SETTINGS
def test_scan_stats_counters_match_observe(spark, msgs):
    """The D2 counters folded from the stats action equal the ``observe``
    counters on valid, unknown-schema, missing-source and zero-timestamp
    messages."""
    from kafka_to_nexus_spark.operators import quality, stats

    df = spark.createDataFrame(
        [(schema, src, part, i, ts) for i, (schema, src, ts, part) in enumerate(msgs)],
        "schema string, source_name string, partition int, offset long, timestamp long",
    )
    observed, obs = quality.observe_stream_metrics(df)
    observed.collect()
    got = stats.fold_metrics(stats.scan_stats(quality.with_error_code(df), 1, 10))
    assert got == obs.get
    assert got["messages_received"] == len(msgs)


@given(msgs=msg_lists)
@PROP_SETTINGS
def test_drop_repeated_matches_naive_model(spark, msgs):
    out = filters.drop_repeated_timestamps(_df(spark, msgs)).collect()
    keep = set()
    prev: dict[str, int] = {}
    for off, (ts, src) in enumerate(msgs):
        if src not in prev or prev[src] != ts:
            keep.add(off)
        prev[src] = ts
    assert {r.offset for r in out} == keep


@given(msgs=msg_lists)
@PROP_SETTINGS
def test_out_of_order_flag_matches_naive_model(spark, msgs):
    out = filters.with_out_of_order_flag(_df(spark, msgs)).collect()
    flagged = set()
    prev: dict[str, int] = {}
    for off, (ts, src) in enumerate(msgs):
        if src in prev and ts < prev[src]:
            flagged.add(off)
        prev[src] = ts
    assert {r.offset for r in out if r.is_out_of_order} == flagged
    # F5 never drops rows
    assert len(out) == len(msgs)


# --------------------------------------------------------------------------
# ev44 cumulative-index invariants (W2) on arbitrary pulse batches
# --------------------------------------------------------------------------

ev44_batches = st.lists(
    st.lists(st.integers(0, 5), min_size=1, max_size=4),  # events per pulse msg
    min_size=1,
    max_size=6,
)


@given(sizes=ev44_batches)
@PROP_SETTINGS
def test_ev44_index_invariants(spark, sizes):
    from kafka_to_nexus_spark.modules import ev44

    rows = []
    for off, pulse_events in enumerate(sizes):
        n = sum(pulse_events)
        rows.append(
            {
                "schema": "ev44",
                "topic": "t",
                "source_name": "d",
                "partition": 0,
                "offset": off,
                "kafka_timestamp": 10_000 + off,
                "timestamp": (10_000 + off) * 1_000_000,
                "reference_time": [(10_000 + off) * 1_000_000] * len(pulse_events),
                "reference_time_index": [sum(pulse_events[:i]) for i in range(len(pulse_events))],
                "time_of_flight": list(range(n)),
                "pixel_ids": list(range(n)),
            }
        )
    from kafka_to_nexus_spark.sources.fixtures import messages_from_json

    out = ev44.transform(messages_from_json(spark, rows))
    events = out["events"].orderBy("_global_index").collect()
    pulses = out["pulses"].orderBy("event_index").collect()

    total = sum(sum(p) for p in sizes)
    # every event appears exactly once, globally indexed 0..total-1
    assert [e._global_index for e in events] == list(range(total))
    # pulse event_index = cumulative events before that pulse, monotone
    # (reference ev44_Writer writeImpl: pulse data is appended only for
    # messages that carry events — zero-event messages emit no pulse rows)
    expect_idx = []
    before = 0
    for pulse_events in sizes:
        if sum(pulse_events) > 0:
            for i, _ in enumerate(pulse_events):
                expect_idx.append(before + sum(pulse_events[:i]))
        before += sum(pulse_events)
    assert [p.event_index for p in pulses] == sorted(expect_idx)


# --------------------------------------------------------------------------
# salted aggregation: exact equivalence with direct aggregation
# --------------------------------------------------------------------------

@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["hot", "a", "b"]), st.integers(-100, 100)),
        min_size=1,
        max_size=30,
    ),
    n_salts=st.integers(1, 8),
)
@PROP_SETTINGS
def test_salted_agg_equals_direct_agg(spark, rows, n_salts):
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.operators.skew import salted_agg

    df = spark.createDataFrame(rows, "k string, v long")
    direct = {
        (r.k): (r.s, r.mn, r.mx, r.c)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.min("v").alias("mn"),
             F.max("v").alias("mx"), F.count("v").alias("c"))
        .collect()
    }
    salted = {
        (r.k): (r.s, r.mn, r.mx, r.c)
        for r in salted_agg(
            df,
            ["k"],
            {"s": F.sum("v"), "mn": F.min("v"), "mx": F.max("v"), "c": F.count("v")},
            {"s": F.sum("s"), "mn": F.min("mn"), "mx": F.max("mx"), "c": F.sum("c")},
            n_salts=n_salts,
        ).collect()
    }
    assert salted == direct


part_msg_lists = st.lists(
    st.tuples(st.integers(0, 30), st.sampled_from(["a", "b"]), st.integers(0, 2)),
    min_size=0,
    max_size=14,
)


@given(msgs=part_msg_lists)
@PROP_SETTINGS
def test_drop_repeated_is_per_partition(spark, msgs):
    """F4 semantics match one SourceFilter per (source, partition): each
    partition's sequence dedups independently — a ts repeated across two
    partitions of the same source is NOT a repeat."""
    rows = [
        ("f144", src, part, i, ts, float(ts))
        for i, (ts, src, part) in enumerate(msgs)
    ]
    df = spark.createDataFrame(
        rows,
        "schema string, source_name string, partition int, offset long, timestamp long, value double",
    )
    out = filters.drop_repeated_timestamps(df).collect()
    keep = set()
    prev: dict[tuple[str, int], int] = {}
    for off, (ts, src, part) in enumerate(msgs):
        if (src, part) not in prev or prev[(src, part)] != ts:
            keep.add(off)
        prev[(src, part)] = ts
    assert {r.offset for r in out} == keep
