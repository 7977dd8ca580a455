"""Streaming-mode tests: drive StreamingJob.process_batch with a sequence of
micro-batches (identical contract to foreachBatch) — Kafka-free, mirroring
how the reference domain-tests exercise the pipeline via the stub consumer."""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState

from conftest import DOMAIN_TEMPLATES
from kafka_to_nexus_spark.plan import StartMessage
from kafka_to_nexus_spark.sinks import staging
from kafka_to_nexus_spark.sources.fixtures import messages_from_json
from kafka_to_nexus_spark.streaming.job import StreamingJob
from kafka_to_nexus_spark.streaming.stateful import (
    _nsmallest_chunks,
    _set_clamped_timeout,
)

NS = 1_000_000


def f144(ts_ms, value, source="local:choppers:delay", offset=0):
    return {
        "schema": "f144",
        "topic": "local_choppers",
        "kafka_timestamp": ts_ms,
        "source_name": source,
        "timestamp": ts_ms,
        "value": value,
        "offset": offset,
    }


def ev44(ts_ms, tofs, pixels, source="detector", offset=0):
    return {
        "schema": "ev44",
        "topic": "local_detector",
        "kafka_timestamp": ts_ms,
        "source_name": source,
        "timestamp": ts_ms,
        "message_id": offset,
        "reference_time": ts_ms,
        "time_of_flight": tofs,
        "pixel_ids": pixels,
        "offset": offset,
    }


@pytest.fixture()
def buffered_job(spark, tmp_path):
    tpl = json.loads((DOMAIN_TEMPLATES / "buffered_template.json").read_text())
    start = StartMessage(
        job_id="stream-job", filename="f", nexus_structure=tpl,
        start_time_ms=10_000, stop_time_ms=15_000,
    )
    return StreamingJob(spark, start, str(tmp_path / "out"))


def read_dataset(spark, job, group, dataset):
    return spark.read.parquet(str(staging.dataset_dir(job.out_dir, group, dataset)))


def test_asof_buffer_across_batches(spark, buffered_job):
    job = buffered_job
    # batch 0: only pre-start data → buffered, nothing written
    job.process_batch(messages_from_json(spark, [f144(8_000, 1, offset=0),
                                                 f144(9_000, 3, offset=1)]), 0)
    assert job.state.asof_buffer  # buffered latest (value 3)
    # batch 1: first in-window message → buffered row emitted first
    job.process_batch(messages_from_json(spark, [f144(11_000, 7, offset=2)]), 1)
    log = read_dataset(spark, job, "/entry/instrument/chopper/delay", "log")
    rows = sorted(log.collect(), key=lambda r: r.time)
    assert [(r.time, r.value) for r in rows] == [
        (9_000_000_000, 3.0), (11_000_000_000, 7.0)]


def test_asof_flush_at_finalize(spark, buffered_job):
    job = buffered_job
    # only pre-start data ever arrives → flushed at stop (test_buffered.py:17)
    job.process_batch(messages_from_json(spark, [f144(9_000, 3)]), 0)
    job.finalize()
    log = read_dataset(spark, job, "/entry/instrument/chopper/delay", "log")
    assert [(r.time, r.value) for r in log.collect()] == [(9_000_000_000, 3.0)]


def test_stop_watchdog(spark, buffered_job):
    job = buffered_job
    job.process_batch(messages_from_json(spark, [f144(11_000, 1)]), 0)
    assert not job.state.finished
    # event past stop+leeway (15s + 10s) finishes the job (F6/F7)
    job.process_batch(messages_from_json(spark, [f144(26_000, 2)]), 1)
    assert job.state.finished
    # further batches ignored
    job.process_batch(messages_from_json(spark, [f144(12_000, 9)]), 2)
    log = read_dataset(spark, job, "/entry/instrument/chopper/delay", "log")
    assert 9.0 not in [r.value for r in log.collect()]


def test_ev44_cumulative_index_across_batches(spark, tmp_path):
    tpl = json.loads(
        (DOMAIN_TEMPLATES / "messages_before_and_after_template.json").read_text()
    )
    start = StartMessage(
        job_id="stream-ev44", filename="f", nexus_structure=tpl,
        start_time_ms=10_000, stop_time_ms=15_000,
    )
    job = StreamingJob(spark, start, str(tmp_path / "out"))
    ev_src = [s for s in job.plan.streams if s.module == "ev44"][0].source
    job.process_batch(messages_from_json(
        spark, [ev44(11_000, [1, 2, 3], [1, 2, 3], source=ev_src, offset=0)]), 0)
    job.process_batch(messages_from_json(
        spark, [ev44(12_000, [4, 5], [4, 5], source=ev_src, offset=1)]), 1)
    ev_path = [s for s in job.plan.streams if s.module == "ev44"][0].path
    pulses = read_dataset(spark, job, ev_path, "pulses")
    idx = [r.event_index for r in sorted(pulses.collect(), key=lambda r: r.event_time_zero)]
    assert idx == [0, 3]  # second batch shifted by 3 events from batch one
    assert job.state.events_written[("ev44", ev_src)] == 5


def _ev44_cue_template(cue_interval, cue_block_size=None):
    cfg = {"topic": "t", "source": "det", "cue_interval": cue_interval}
    if cue_block_size:
        cfg["cue_block_size"] = cue_block_size
    return {
        "children": [{
            "name": "entry", "type": "group",
            "children": [{
                "name": "events", "type": "group",
                "children": [{"module": "ev44", "config": cfg}],
            }],
        }]
    }


def test_streaming_ev44_cue_blocked_matches_single_group(spark, tmp_path):
    """The chunked-carry cue path (cue_block_size) staged through the
    streaming job must equal the single-group path, across micro-batches
    (EventsWritten/LastCueIndex carried in both)."""
    def run(tag, block):
        start = StartMessage(
            job_id=tag, filename=tag,
            nexus_structure=_ev44_cue_template(4, cue_block_size=block),
            start_time_ms=10_000, stop_time_ms=60_000,
        )
        job = StreamingJob(spark, start, str(tmp_path / tag))
        job.process_batch(messages_from_json(spark, [
            ev44(11_000, [1, 2, 3], [1, 2, 3], source="det", offset=0),
            ev44(12_000, [4, 5], [4, 5], source="det", offset=1),
        ]), 0)
        job.process_batch(messages_from_json(spark, [
            ev44(13_000, [6], [6], source="det", offset=2),
            ev44(14_000, [7, 8, 9, 10], [7, 8, 9, 10], source="det", offset=3),
        ]), 1)
        job.finalize()
        return sorted(
            (r.cue_index, r.cue_timestamp_zero)
            for r in read_dataset(spark, job, "/entry/events", "cue").collect()
        )

    single = run("cue-single", None)
    blocked = run("cue-blocked", 2)
    assert blocked == single and len(single) >= 2


# --------------------------------------------------------------------------
# applyInPandasWithState: keyed running aggregates across micro-batches
# --------------------------------------------------------------------------

def test_stateful_running_stats_across_triggers(spark, tmp_path):
    """Drive streaming.stateful.running_stats through a real file-stream
    source, two triggers: state must carry between micro-batches (final
    running aggregate = whole-input aggregate)."""
    import time

    from kafka_to_nexus_spark.streaming import stateful

    src_dir = tmp_path / "stream_src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    rows1 = [("f144", "s1", 10, 10.0), ("f144", "s1", 11, 30.0), ("f144", "s2", 12, 5.0)]
    rows2 = [("f144", "s1", 13, 20.0), ("f144", "s2", 14, 45.0)]
    schema = "schema string, source_name string, timestamp long, value double"

    spark.createDataFrame(rows1, schema).coalesce(1).write.json(str(src_dir / "b1"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src_dir / "*"))
    )
    out = stateful.running_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_stats_test")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows2, schema).coalesce(1).write.json(str(src_dir / "b2"))
        q.processAllAvailable()
        got = {
            r.source_name: r
            for r in spark.sql(
                # "update" mode appends each trigger's rows to the memory
                # sink; the last emission per key is the running total
                """SELECT * FROM (
                     SELECT *, row_number() OVER (PARTITION BY source_name ORDER BY n_values DESC) rn
                     FROM running_stats_test) WHERE rn = 1"""
            ).collect()
        }
    finally:
        q.stop()

    assert got["s1"].minimum_value == 10.0
    assert got["s1"].maximum_value == 30.0
    assert got["s1"].average_value == pytest.approx(20.0)
    assert got["s1"].n_values == 3
    assert got["s2"].minimum_value == 5.0
    assert got["s2"].maximum_value == 45.0
    assert got["s2"].n_values == 2

    # parity with the batch plan on the same data
    batch = spark.createDataFrame(rows1 + rows2, schema)
    expect = {r.source_name: r for r in stateful.batch_equivalent(batch).collect()}
    for k in ("s1", "s2"):
        assert got[k].average_value == pytest.approx(expect[k].average_value)


def test_repeated_ts_dropped_across_batch_boundary(spark, buffered_job):
    """F4 across micro-batches: a repeat straddling the boundary is dropped
    (the reference's SourceFilter keeps last-ts state across polls)."""
    job = buffered_job
    b1 = [f144(11_000, 10.0, offset=1), f144(12_000, 20.0, offset=2)]
    # batch 2 starts with ts == last written ts (12000) → must be dropped;
    # the next new ts passes
    b2 = [f144(12_000, 99.0, offset=3), f144(13_000, 30.0, offset=4)]
    job.process_batch(messages_from_json(spark, b1), 0)
    job.process_batch(messages_from_json(spark, b2), 1)

    df = read_dataset(spark, job, "/entry/instrument/chopper/delay", "log")
    rows = df.orderBy("time").collect()
    assert [r.time for r in rows] == [11_000_000_000, 12_000_000_000, 13_000_000_000]
    assert [r.value for r in rows] == [10.0, 20.0, 30.0]  # 99.0 dropped


def test_repeated_ts_dropped_per_partition_across_batches(spark, buffered_job):
    """F4 carry state is PER (source, partition), like the reference's one
    SourceFilter per (source, partition): a source spanning two Kafka
    partitions dedups each partition's sequence independently — partition
    1's boundary repeat is dropped even when partition 0 contributes an
    earlier row in the same batch (a single per-source carry would only
    check the batch's globally-first row and let the repeat through)."""
    job = buffered_job
    b1 = [
        dict(f144(11_000, 1.0, offset=0), partition=0),
        dict(f144(12_000, 2.0, offset=0), partition=1),
    ]
    b2 = [
        dict(f144(13_000, 3.0, offset=1), partition=0),
        # partition 1's first row repeats its own last written ts → dropped
        dict(f144(12_000, 99.0, offset=1), partition=1),
        dict(f144(14_000, 4.0, offset=2), partition=1),
    ]
    job.process_batch(messages_from_json(spark, b1), 0)
    job.process_batch(messages_from_json(spark, b2), 1)

    df = read_dataset(spark, job, "/entry/instrument/chopper/delay", "log")
    rows = df.orderBy("time").collect()
    assert [r.value for r in rows] == [1.0, 2.0, 3.0, 4.0]  # 99.0 dropped
    assert job.state.last_written_ts == {
        ("f144", "local:choppers:delay", 0): 13_000_000_000,
        ("f144", "local:choppers:delay", 1): 14_000_000_000,
    }


def test_grouped_path_repeat_dedup_per_partition(spark, tmp_path):
    """The grouped (1000-source) fast path's cross-batch repeat filter
    keys its last-written map by (source, partition): with two grouped
    f144 sources, source a's partition-1 boundary repeat is dropped while
    source b's identical ts on partition 0 — a different source — and
    a's own new partition-0 row both pass."""
    structure = {"children": [{
        "name": "entry", "type": "group",
        "children": [
            {"name": n, "type": "group",
             "children": [{"module": "f144",
                           "config": {"topic": "t", "source": s}}]}
            for n, s in (("a", "src_a"), ("b", "src_b"))
        ],
    }]}
    start = StartMessage(
        job_id="grouped-f4", filename="f", nexus_structure=structure,
        start_time_ms=10_000, stop_time_ms=60_000,
    )
    job = StreamingJob(spark, start, str(tmp_path / "out"))

    def msg(src, ts, value, part, offset):
        return {"schema": "f144", "topic": "t", "source_name": src,
                "partition": part, "offset": offset,
                "kafka_timestamp": ts, "timestamp": ts, "value": value}

    b1 = [msg("src_a", 11_000, 1.0, 0, 0), msg("src_a", 12_000, 2.0, 1, 0),
          msg("src_b", 12_000, 5.0, 0, 1)]
    b2 = [msg("src_a", 13_000, 3.0, 0, 2),
          msg("src_a", 12_000, 99.0, 1, 1),   # a/p1 boundary repeat → drop
          msg("src_b", 12_000, 88.0, 0, 3),   # b/p0 boundary repeat → drop
          msg("src_b", 14_000, 6.0, 0, 4)]
    job.process_batch(messages_from_json(spark, b1), 0)
    job.process_batch(messages_from_json(spark, b2), 1)
    job.finalize()

    vals = {
        g: sorted(r.value for r in read_dataset(spark, job, f"/entry/{g}", "log").collect())
        for g in ("a", "b")
    }
    assert vals["a"] == [1.0, 2.0, 3.0]   # 99.0 dropped
    assert vals["b"] == [5.0, 6.0]        # 88.0 dropped
    assert job.state.last_written_ts[("f144", "src_a", 1)] == 12_000_000_000
    assert job.state.last_written_ts[("f144", "src_a", 0)] == 13_000_000_000


def test_grouped_finalize_aggregates_per_source(spark, tmp_path):
    """Each batch folds one grouped T6 partial per source into the job
    state and finalize finishes them: each source still gets the min, max
    and mean of its own rows across batches."""
    structure = {"children": [{
        "name": "entry", "type": "group",
        "children": [
            {"name": n, "type": "group",
             "children": [{"module": "f144",
                           "config": {"topic": "t", "source": n}}]}
            for n in ("a", "b", "c")
        ],
    }]}
    start = StartMessage(
        job_id="grouped-t6", filename="f", nexus_structure=structure,
        start_time_ms=10_000, stop_time_ms=60_000,
    )
    job = StreamingJob(spark, start, str(tmp_path / "out"))
    job.process_batch(messages_from_json(spark, [
        f144(11_000, 1.0, source="a", offset=0),
        f144(11_000, 10.0, source="b", offset=1),
    ]), 0)
    job.process_batch(messages_from_json(spark, [
        f144(12_000, 5.0, source="a", offset=2),
        f144(12_000, 30.0, source="c", offset=3),
    ]), 1)
    job.finalize()
    vals = staging.read_meta(job.out_dir)["metadata_values"]
    for src, (lo, hi, mean) in {
        "a": (1.0, 5.0, 3.0), "b": (10.0, 10.0, 10.0), "c": (30.0, 30.0, 30.0)
    }.items():
        assert vals[f"/entry/{src}/minimum_value"] == lo
        assert vals[f"/entry/{src}/maximum_value"] == hi
        assert vals[f"/entry/{src}/average_value"] == pytest.approx(mean)


def _summary_job_start(job_id: str) -> StartMessage:
    """Two scalar PVs and one that never sends (one source group), and an
    array PV of three elements."""
    children = [
        {"name": n, "type": "group",
         "children": [{"module": "f144", "config": {"topic": "t", "source": f"pv:{n}"}}]}
        for n in ("a", "b", "quiet")
    ]
    children.append({"name": "wave", "type": "group", "children": [{
        "module": "f144",
        "config": {"topic": "t", "source": "pv:wave", "array_size": 3},
    }]})
    return StartMessage(
        job_id=job_id, filename="f",
        nexus_structure={"children": [{"name": "entry", "type": "group",
                                       "children": children}]},
        start_time_ms=10_000, stop_time_ms=60_000,
    )


def _wave(ts_ms, values, offset):
    return {"schema": "f144", "topic": "t", "source_name": "pv:wave",
            "kafka_timestamp": ts_ms, "timestamp": ts_ms, "values": values,
            "offset": offset}


# micro-batches of the running-summary tests: pre-start rows (pv:a's
# latest is emitted with its first in-window row; pv:b never sends in
# window, so finalize flushes its buffered row), a repeated timestamp
# within a batch and one straddling the restart before batch 2
_SUMMARY_BATCHES = [
    [f144(8_000, 7.0, "pv:a", 0), f144(9_000, -2.0, "pv:a", 1),
     f144(9_500, 100.0, "pv:b", 2), f144(11_000, 1.0, "pv:a", 3),
     _wave(11_000, [1.0, 2.0, 3.0], 4)],
    [f144(12_000, 5.0, "pv:a", 5), f144(12_000, 99.0, "pv:a", 6),
     _wave(12_000, [4.0, 5.0, 9.0], 7)],
    [f144(12_000, 50.0, "pv:a", 8), f144(13_000, 3.0, "pv:a", 9),
     _wave(13_000, [0.5, 6.0, 2.0], 10)],
]


def test_running_summary_matches_batch_twin(spark, tmp_path):
    """The live T6 values are running partials, never re-read from the
    staged logs: folded over several batches, across a restart (a new
    StreamingJob over the same output directory), with completed batches
    replayed (skipped, so not counted twice), a buffered pre-start row
    flushed at finalize, repeated timestamps dropped, an array PV over
    every element and a source with no rows (None min/max/mean), they
    equal a batch ``run_job`` over the same messages."""
    from kafka_to_nexus_spark.runner import run_job

    out = str(tmp_path / "live")
    start = _summary_job_start("running-t6")
    first = StreamingJob(spark, start, out)
    for i, rows in enumerate(_SUMMARY_BATCHES[:2]):
        first.process_batch(messages_from_json(spark, rows), i)
    job = StreamingJob(spark, start, out)  # restart
    job.process_batch(messages_from_json(spark, _SUMMARY_BATCHES[2]), 2)
    for i, rows in enumerate(_SUMMARY_BATCHES):  # replays of completed batches
        job.process_batch(messages_from_json(spark, rows), i)
        StreamingJob(spark, start, out).process_batch(messages_from_json(spark, rows), i)
    job.finalize()
    live = staging.read_meta(out)["metadata_values"]

    twin = run_job(
        spark, start,
        messages_from_json(spark, [r for rows in _SUMMARY_BATCHES for r in rows]),
        str(tmp_path / "twin"),
    ).metadata_values
    want = {
        "a": (-2.0, 5.0, 7.0 / 4),  # -2 (buffered), 1, 5, 3
        "b": (100.0, 100.0, 100.0),
        "quiet": (None, None, None),
        "wave": (0.5, 9.0, 32.5 / 9),
    }
    for name, (lo, hi, mean) in want.items():
        for vals in (live, twin):
            assert vals[f"/entry/{name}/minimum_value"] == lo, name
            assert vals[f"/entry/{name}/maximum_value"] == hi, name
            assert vals[f"/entry/{name}/average_value"] == (
                None if mean is None else pytest.approx(mean)
            ), name


def test_state_file_round_trips_every_field(tmp_path):
    """Every ``StreamingJobState`` field survives save and load with a
    non-default value: a field left out of the state file fails here."""
    from dataclasses import fields

    from kafka_to_nexus_spark.operators import quality
    from kafka_to_nexus_spark.runner import Summary
    from kafka_to_nexus_spark.streaming.job import (
        StreamingJobState, _load_job_state, _save_job_state,
    )

    samples = {
        "asof_buffer": {("f144", "a"): {"timestamp": 9, "partition": 0, "offset": 1,
                                        "value": 2.5}},
        "asof_emitted": {("f144", "a")},
        "events_written": {("ev44", "bank"): 12},
        "cue_last": {("ev44", "bank"): 3},
        "last_written_ts": {("f144", "a", 1): 11_000_000_000},
        "statics_by_path": {"/entry/d": {"x": [1.0, 2.0]}},
        "summary_by_path": {"/entry/a": Summary(-2.0, 5.0, 7.0, 4),
                            "/entry/n": Summary(1, 9, 20, 3)},
        "batches_processed": 4,
        "last_spark_batch_id": 7,
        "max_event_time_ns": 13_000_000_000,
        "finished": True,
        "metrics": {**quality.ZERO_METRICS, "messages_received": 9, "snapshot_errors": 1},
    }
    assert set(samples) == {f.name for f in fields(StreamingJobState)}
    default = StreamingJobState()
    for name, value in samples.items():
        assert value != getattr(default, name), name
    _save_job_state(StreamingJobState(**samples), str(tmp_path))
    got = _load_job_state(str(tmp_path))
    for name, value in samples.items():
        assert getattr(got, name) == value, name


def test_pre_summary_state_file_fails_loudly(tmp_path):
    """A state file written before the running f144 summaries (this one
    also before the F4 carry was partition-keyed) has no
    ``summary_by_path``. With batches staged, loading it raises an error
    naming the field instead of finalizing wrong values; with none staged
    it loads with no summaries."""
    from kafka_to_nexus_spark.streaming.job import STATE_FILE, _load_job_state

    old = {
        "asof_buffer": [], "asof_emitted": [], "events_written": [],
        "cue_last": [],
        "last_written_ts": [[["f144", "src_a"], 12_000_000_000]],
        "statics_by_path": {}, "batches_processed": 3,
        "last_spark_batch_id": 2, "max_event_time_ns": 0,
        "finished": False, "metrics": {},
    }
    (tmp_path / STATE_FILE).write_text(json.dumps(old))
    with pytest.raises(ValueError, match="summary_by_path"):
        _load_job_state(str(tmp_path))
    unstarted = {**old, "last_written_ts": [], "batches_processed": 0,
                 "last_spark_batch_id": -1}
    (tmp_path / STATE_FILE).write_text(json.dumps(unstarted))
    assert _load_job_state(str(tmp_path)).summary_by_path == {}


def test_single_path_repeat_dedup_per_partition(spark, tmp_path):
    """A one-member source group's cross-batch repeat filter keys its
    last-written map by partition: a lone f144 source's partition-1
    boundary repeat is dropped, while the same ts arriving first on
    partition 0 passes."""
    structure = {"children": [{
        "name": "entry", "type": "group",
        "children": [{"name": "a", "type": "group",
                      "children": [{"module": "f144",
                                    "config": {"topic": "t", "source": "src_a"}}]}],
    }]}
    start = StartMessage(
        job_id="single-f4", filename="f", nexus_structure=structure,
        start_time_ms=10_000, stop_time_ms=60_000,
    )
    job = StreamingJob(spark, start, str(tmp_path / "out"))

    def msg(ts, value, part, offset):
        return {"schema": "f144", "topic": "t", "source_name": "src_a",
                "partition": part, "offset": offset,
                "kafka_timestamp": ts, "timestamp": ts, "value": value}

    job.process_batch(messages_from_json(
        spark, [msg(11_000, 1.0, 0, 0), msg(12_000, 2.0, 1, 0)]), 0)
    job.process_batch(messages_from_json(
        spark, [msg(12_000, 3.0, 0, 1),     # p0's last is 11_000 → keep
                msg(12_000, 99.0, 1, 1)]),  # p1 boundary repeat → drop
        1)
    job.finalize()

    log = read_dataset(spark, job, "/entry/a", "log")
    assert sorted(r.value for r in log.collect()) == [1.0, 2.0, 3.0]
    assert job.state.last_written_ts[("f144", "src_a", 0)] == 12_000_000_000


def test_streaming_matches_batch_runner_output(spark, tmp_path):
    """Equivalence invariant: the same messages, run through the batch
    runner vs split across streaming micro-batches, stage identical
    f144 rows (as-of buffering and dedup included)."""
    from kafka_to_nexus_spark.runner import run_job

    tpl = json.loads((DOMAIN_TEMPLATES / "buffered_template.json").read_text())
    msgs = [
        f144(8_000, 1.0, offset=0),   # pre-start, superseded
        f144(9_000, 2.0, offset=1),   # pre-start, buffered (as-of)
        f144(11_000, 3.0, offset=2),
        f144(12_000, 4.0, offset=3),
        f144(12_000, 9.0, offset=4),  # repeated ts -> dropped
        f144(14_000, 5.0, offset=5),
        f144(16_000, 6.0, offset=6),  # past stop -> dropped
    ]
    start = StartMessage(
        job_id="equiv", filename="f", nexus_structure=tpl,
        start_time_ms=10_000, stop_time_ms=15_000,
    )

    batch_res = run_job(spark, start, messages_from_json(spark, msgs), str(tmp_path / "batch"))

    sj = StreamingJob(spark, start, str(tmp_path / "stream"))
    # split mid-stream, with the repeated-ts pair straddling the boundary
    sj.process_batch(messages_from_json(spark, msgs[:4]), 0)
    sj.process_batch(messages_from_json(spark, msgs[4:]), 1)
    sj.finalize()

    g = "/entry/instrument/chopper/delay"
    def rows(out_dir):
        df = spark.read.parquet(str(staging.dataset_dir(out_dir, g, "log")))
        return [(r.time, r.value) for r in df.orderBy("time").collect()]

    assert rows(batch_res.out_dir) == rows(sj.out_dir) == [
        (9_000_000_000, 2.0),   # buffered as-of value
        (11_000_000_000, 3.0),
        (12_000_000_000, 4.0),  # repeat dropped in both modes
        (14_000_000_000, 5.0),
    ]


def test_stop_retarget_on_running_job(spark, buffered_job):
    """6s4t retarget: tighten the stop time mid-stream — later batches
    filter against the new stop and the watchdog finishes the job."""
    job = buffered_job  # original window [10s, 15s]
    job.process_batch(messages_from_json(spark, [f144(11_000, 1.0, offset=1)]), 0)
    job.retarget_stop(12_000)  # tighten stop to 12s
    job.process_batch(
        messages_from_json(
            spark,
            [
                f144(11_500, 2.0, offset=2),   # still inside new window
                f144(13_000, 3.0, offset=3),   # beyond new stop → dropped
                f144(23_000, 4.0, offset=4),   # past stop+leeway → finishes job
            ],
        ),
        1,
    )
    assert job.state.finished
    # a batch after finish is ignored entirely
    job.process_batch(messages_from_json(spark, [f144(11_800, 9.0, offset=5)]), 2)

    df = read_dataset(spark, job, "/entry/instrument/chopper/delay", "log")
    rows = df.orderBy("time").collect()
    assert [(r.time, r.value) for r in rows] == [
        (11_000_000_000, 1.0),
        (11_500_000_000, 2.0),
    ]


def _cue_template(cue_interval=2):
    return {
        "children": [{
            "name": "entry", "type": "group",
            "attributes": [{"name": "NX_class", "dtype": "string", "values": "NXentry"}],
            "children": [{
                "name": "speed", "type": "group",
                "attributes": [{"name": "NX_class", "dtype": "string", "values": "NXlog"}],
                "children": [{
                    "module": "f144",
                    "config": {"topic": "t", "source": "spd", "dtype": "double",
                               "cue_interval": cue_interval},
                }],
            }],
        }]
    }


def test_streaming_cue_is_cumulative_across_batches(spark, tmp_path):
    """K4 in streaming: cue_index continues across micro-batches like the
    reference's LastCueIndex, instead of restarting per batch."""
    start = StartMessage(job_id="cue", filename="f", nexus_structure=_cue_template(2),
                         start_time_ms=10_000, stop_time_ms=60_000)
    job = StreamingJob(spark, start, str(tmp_path / "out"))
    mk = lambda ts, v, o: f144(ts, v, source="spd", offset=o)
    job.process_batch(messages_from_json(
        spark, [mk(11_000, 1.0, 0), mk(12_000, 2.0, 1), mk(13_000, 3.0, 2)]), 0)
    job.process_batch(messages_from_json(
        spark, [mk(14_000, 4.0, 3), mk(15_000, 5.0, 4), mk(16_000, 6.0, 5)]), 1)
    job.finalize()
    cue = read_dataset(spark, job, "/entry/speed", "cue").orderBy("cue_index").collect()
    # 6 rows, interval 2 → cue at global rows 1, 3, 5
    assert [r.cue_index for r in cue] == [1, 3, 5]
    assert [r.cue_timestamp_zero for r in cue] == [
        12_000_000_000, 14_000_000_000, 16_000_000_000]


def test_streaming_finalize_writes_meta(spark, tmp_path):
    """A finalized streaming directory carries the same _nexus_meta.json
    contract as the batch runner (so sinks.hdf5.pack works on it)."""
    start = StartMessage(job_id="meta", filename="f.nxs", nexus_structure=_cue_template(4),
                         start_time_ms=10_000, stop_time_ms=60_000)
    job = StreamingJob(spark, start, str(tmp_path / "out"))
    job.process_batch(messages_from_json(
        spark, [f144(11_000, 10.0, source="spd", offset=0),
                f144(12_000, 30.0, source="spd", offset=1)]), 0)
    job.finalize()
    meta = staging.read_meta(job.out_dir)
    assert meta["job"]["job_id"] == "meta"
    vals = meta["metadata_values"]
    assert vals["/entry/speed/minimum_value"] == 10.0
    assert vals["/entry/speed/maximum_value"] == 30.0
    assert vals["/entry/speed/average_value"] == pytest.approx(20.0)
    # cue dataset exists (empty — no row reached the interval) like the
    # reference's always-created cue datasets
    assert meta["streams"][0]["datasets"] == ["log", "cue"]


def test_one_collect_action_per_batch(spark, monkeypatch, tmp_path):
    """Driver round-trips per micro-batch must be O(1) in binding count:
    all cross-batch state comes from ONE groupBy collect."""
    tpl = json.loads((DOMAIN_TEMPLATES / "writer_modules_template.json").read_text())
    start = StartMessage(job_id="acts", filename="f", nexus_structure=tpl,
                         start_time_ms=10_000, stop_time_ms=15_000)
    job = StreamingJob(spark, start, str(tmp_path / "out"))
    assert len(job.plan.streams) > 3  # many bindings

    batch = messages_from_json(
        spark, [f144(11_000, 1.0, source="delay_source", offset=0)])
    calls = []
    cls = type(batch)  # concrete DataFrame class (classic impl in Spark 4)
    orig = cls.collect
    monkeypatch.setattr(cls, "collect", lambda self: calls.append(1) or orig(self))
    job.process_batch(batch, 0)
    assert len(calls) == 1, f"{len(calls)} collect() actions for one micro-batch"


def test_streaming_error_metrics_accumulate(spark, buffered_job):
    """C6 in streaming: per-batch taxonomy counts fold into cumulative
    counters from the same single stats action."""
    job = buffered_job
    bad = {"schema": "zz99", "topic": "t", "source_name": "x",
           "kafka_timestamp": 11_000, "timestamp": 11_000, "offset": 9}
    zero_ts = dict(f144(0, 5.0, offset=10))
    job.process_batch(messages_from_json(spark, [f144(11_000, 1.0, offset=1), bad]), 0)
    job.process_batch(messages_from_json(spark, [zero_ts]), 1)
    m = job.state.metrics
    assert m["messages_received"] == 3
    assert m["unknown_schema"] == 1
    assert m["invalid_timestamp"] == 1
    assert m["flatbuffer_errors"] == 2


def test_empty_batches_stop_job_past_stop_time(spark, buffered_job):
    """F6 wall-clock path: EOF then timeout with wall clock past
    stop+leeway finishes the job even with no event past stop."""
    job = buffered_job
    empty = messages_from_json(spark, [])
    job.process_batch(empty, 0)          # EOF
    assert not job.state.finished
    job.process_batch(empty, 1)          # timeout; wall clock >> fixture stop
    assert job.state.finished


def test_state_restored_across_restart(spark, tmp_path):
    """A new StreamingJob over the same out_dir resumes the saved driver
    state: dedup boundary, buffered rows, counters — a foreachBatch
    restart continues instead of double-counting."""
    tpl = json.loads((DOMAIN_TEMPLATES / "buffered_template.json").read_text())
    start = StartMessage(job_id="restart-job", filename="f", nexus_structure=tpl,
                         start_time_ms=10_000, stop_time_ms=15_000)
    out = str(tmp_path / "out")
    job1 = StreamingJob(spark, start, out)
    job1.process_batch(messages_from_json(
        spark, [f144(9_000, 3, offset=0), f144(11_000, 7, offset=1)]), 0)

    job2 = StreamingJob(spark, start, out)  # "restart"
    assert job2.state.batches_processed == 1
    assert job2.state.metrics["messages_received"] == 2
    assert job2.state.last_written_ts == job1.state.last_written_ts
    assert job2.state.asof_emitted == job1.state.asof_emitted
    # repeated ts across the restart boundary still dedups (F4)
    job2.process_batch(messages_from_json(spark, [f144(11_000, 7, offset=2)]), 1)
    log = read_dataset(spark, job2, "/entry/instrument/chopper/delay", "log")
    assert log.count() == 2  # buffered(9s) + 11s once, not twice


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """Replaying a completed Spark batch (restart between state save and
    checkpoint commit) must change nothing: counters skip, staged rows
    overwrite their own batch partition."""
    tpl = json.loads((DOMAIN_TEMPLATES / "buffered_template.json").read_text())
    start = StartMessage(job_id="replay-job", filename="f", nexus_structure=tpl,
                         start_time_ms=10_000, stop_time_ms=15_000)
    out = str(tmp_path / "out")
    job1 = StreamingJob(spark, start, out)
    b0 = [f144(11_000, 1.0, offset=0)]
    job1.process_batch(messages_from_json(spark, b0), 0)

    job2 = StreamingJob(spark, start, out)
    job2.process_batch(messages_from_json(spark, b0), 0)  # replay: skipped
    assert job2.state.metrics["messages_received"] == 1
    job2.process_batch(messages_from_json(spark, [f144(12_000, 2.0, offset=1)]), 1)
    log = read_dataset(spark, job2, "/entry/instrument/chopper/delay", "log")
    assert log.count() == 2
    assert job2.state.metrics["messages_received"] == 2


def test_real_streaming_query_from_file_source(spark, tmp_path):
    """End-to-end StructuredStreaming lifecycle without a broker: JSON
    fixture dir → readStream → foreachBatch → finalize → pack-ready
    staging that matches the batch runner's values."""
    from kafka_to_nexus_spark.streaming.job import run_streaming_job_from_files

    tpl = json.loads((DOMAIN_TEMPLATES / "buffered_template.json").read_text())
    start = StartMessage(job_id="fstream", filename="f", nexus_structure=tpl,
                         start_time_ms=10_000, stop_time_ms=15_000)
    fixture_dir = tmp_path / "in"
    fixture_dir.mkdir()
    rows = [f144(9_000, 3.0, offset=0), f144(11_000, 7.0, offset=1),
            f144(12_000, 9.0, offset=2)]
    from kafka_to_nexus_spark.sources.fixtures import _normalize_row
    offsets: dict = {}
    (fixture_dir / "part1.json").write_text(
        "\n".join(json.dumps(_normalize_row(r, offsets)) for r in rows))

    query, job = run_streaming_job_from_files(
        spark, start, str(fixture_dir), str(tmp_path / "out"),
        str(tmp_path / "ckpt"))
    query.awaitTermination(120)
    job.finalize()

    log = read_dataset(spark, job, "/entry/instrument/chopper/delay", "log")
    got = [(r.time, r.value) for r in log.orderBy("time").collect()]
    assert got == [(9_000_000_000, 3.0), (11_000_000_000, 7.0),
                   (12_000_000_000, 9.0)]
    assert job.state.metrics["messages_received"] == 3


def test_streaming_ev44_cue_matches_batch_recurrence(spark, tmp_path):
    """K4 across micro-batches: the ev44 cue recurrence carries
    (EventsWritten, LastCueIndex) in StreamingJobState, so slicing the
    stream into batches yields the same cue table as one batch pass."""
    tpl = json.loads(
        (DOMAIN_TEMPLATES / "messages_before_and_after_template.json").read_text()
    )
    # give the ev44 binding a small cue interval
    def set_cue(node):
        if isinstance(node, dict):
            if node.get("module") == "ev44":
                node.setdefault("config", {})["cue_interval"] = 4
            for v in node.values():
                set_cue(v)
        elif isinstance(node, list):
            for v in node:
                set_cue(v)
    set_cue(tpl)
    start = StartMessage(
        job_id="stream-ev44-cue", filename="f", nexus_structure=tpl,
        start_time_ms=10_000, stop_time_ms=15_000,
    )
    job = StreamingJob(spark, start, str(tmp_path / "out"))
    ev_binding = [s for s in job.plan.streams if s.module == "ev44"][0]
    ev_src = ev_binding.source
    batches = [
        [ev44(11_000, [1, 2, 3], [1, 2, 3], source=ev_src, offset=0)],
        [ev44(12_000, [4, 5], [4, 5], source=ev_src, offset=1)],
        [ev44(13_000, [6, 7, 8], [6, 7, 8], source=ev_src, offset=2)],
        [ev44(14_000, [9, 10, 11], [9, 10, 11], source=ev_src, offset=3)],
    ]
    for i, rows in enumerate(batches):
        job.process_batch(messages_from_json(spark, rows), i)
    got = [
        (r.cue_index, r.cue_timestamp_zero)
        for r in read_dataset(spark, job, ev_binding.path, "cue")
        .orderBy("cue_index").collect()
    ]
    # one-shot batch recurrence over the concatenated stream
    from kafka_to_nexus_spark.modules import ev44 as ev44_mod

    all_rows = [r for b in batches for r in b]
    want = [
        (r.cue_index, r.cue_timestamp_zero)
        for r in ev44_mod.cue(
            messages_from_json(spark, all_rows), {"cue_interval": 4}
        ).orderBy("cue_index").collect()
    ]
    assert got == want and len(want) >= 2
    assert job.state.cue_last[("ev44", ev_src)] == want[-1][0]


def _file_stream(spark, fixture_dir):
    from kafka_to_nexus_spark.schemas import MESSAGE_SCHEMA

    return (
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one file = one micro-batch
        .json(str(fixture_dir))
    )


def _write_fixture(fixture_dir, name, rows, seq=0):
    """One JSON-lines file per micro-batch. The file source orders files
    by modification time, so stamp strictly increasing mtimes to pin the
    batch sequence."""
    import os
    import time

    from kafka_to_nexus_spark.sources.fixtures import _normalize_row

    offsets: dict = {}
    path = fixture_dir / name
    path.write_text(
        "\n".join(json.dumps(_normalize_row(r, offsets)) for r in rows))
    base = time.time() - 1000
    os.utime(path, (base + seq * 10, base + seq * 10))


def test_watermarked_window_drops_late_and_finalizes(spark, tmp_path):
    """Watermark + tumbling window in append mode: a window is emitted
    exactly once, when the watermark passes its end; data arriving after
    that finalization is discarded and the window is never re-emitted
    (Spark's one-directional late-data guarantee — rows late-but-within
    still-live state may aggregate, rows after eviction cannot)."""
    from kafka_to_nexus_spark.streaming import stateful

    fixture_dir = tmp_path / "in"
    fixture_dir.mkdir()
    # batch 1: two rows in window [0,60s) — watermark ends at 20s-10s
    _write_fixture(fixture_dir, "f1.json", [
        f144(10_000, 1.0, offset=0), f144(20_000, 2.0, offset=1)], seq=0)
    # batch 2: far-ahead row pushes the watermark to 190s
    _write_fixture(fixture_dir, "f2.json", [f144(200_000, 5.0, offset=2)], seq=1)
    # batch 3: another on-time row; during this batch the 190s watermark
    # evicts + emits window [0,60) with exactly the two on-time rows
    _write_fixture(fixture_dir, "f3.json", [f144(210_000, 6.0, offset=3)], seq=2)
    # batch 4: late row at 30s — its window is already finalized → dropped,
    # and append mode guarantees no re-emission
    _write_fixture(fixture_dir, "f4.json", [f144(30_000, 9.0, offset=4)], seq=3)

    out = stateful.windowed_counts(
        _file_stream(spark, fixture_dir), window="1 minute",
        watermark="10 seconds")
    q = (out.writeStream.format("memory").queryName("wm_windows")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # compare epoch seconds, not isoformat(): collect() renders timestamps
    # in the HOST OS timezone (the hazard test_event_time_encoding documents)
    rows = [
        (int(r.window_start.timestamp()), r.n_messages, r.sum_value)
        for r in spark.table("wm_windows").collect()
    ]
    # the [0,60) window finalized with exactly the two on-time rows,
    # emitted exactly once; the late 9.0 row appears nowhere
    assert rows.count((0, 2, 3.0)) == 1, rows
    assert not any(s == 9.0 or n == 3 for _, n, s in rows)


def test_stateful_session_windows_close_by_gap_and_timeout(spark, tmp_path):
    """Custom sessionization via applyInPandasWithState with an
    event-time timeout: an intra-batch gap closes a session eagerly; an
    idle session closes when the watermark passes its gap horizon."""
    from kafka_to_nexus_spark.streaming import stateful

    fixture_dir = tmp_path / "in"
    fixture_dir.mkdir()
    # batch 1: session A = rows at 10s,20s (within 60s gap)
    _write_fixture(fixture_dir, "f1.json", [
        f144(10_000, 1.0, offset=0), f144(20_000, 1.0, offset=1)], seq=0)
    # batch 2: row at 300s — gap > 60s closes session A in-batch and
    # opens session B
    _write_fixture(fixture_dir, "f2.json", [f144(300_000, 1.0, offset=2)], seq=1)
    # batch 3: row at 900s advances the watermark past B's horizon
    # (300s + 60s gap) → B closes via EventTimeTimeout
    _write_fixture(fixture_dir, "f3.json", [f144(900_000, 1.0, offset=3)], seq=2)

    out = stateful.session_windows(
        _file_stream(spark, fixture_dir), gap="1 minute",
        watermark="10 seconds")
    q = (out.writeStream.format("memory").queryName("sess_windows")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.session_start_ns, r.session_end_ns, r.n_events)
        for r in spark.table("sess_windows").collect()
    }
    assert (10_000_000_000, 20_000_000_000, 2) in got, got   # closed by gap
    assert (300_000_000_000, 300_000_000_000, 1) in got, got  # closed by timeout


# --------------------------------------------------------------------------
# K5 SWMR analog: live snapshots of the output file mid-run
# --------------------------------------------------------------------------


def test_live_snapshot_mid_run(spark, buffered_job, tmp_path):
    """The reference reopens its output SWMR so readers can follow the
    write live (HDFFile.cpp:183-281); the Spark analog republishes an
    atomic, complete HDF5 snapshot at the output path after each batch.
    Every read mid-run must see a valid file with the data staged so far,
    and finalize+pack supersedes it at the same path."""
    from kafka_to_nexus_spark.sinks import hdf5, hdf5lib

    job = buffered_job
    target = tmp_path / "live.nxs"
    job.enable_snapshots(target, every_n_batches=1)

    job.process_batch(messages_from_json(spark, [f144(11_000, 7, offset=0)]), 0)
    with hdf5lib.File(str(target), "r") as f:
        assert list(f["/entry/instrument/chopper/delay/value"][:]) == [7.0]
        # file_name names the published path, not the temp write target
        assert f.attrs["file_name"] == str(target)

    # state untouched by the snapshot: nothing emitted/flushed early
    assert not job.state.finished

    job.process_batch(messages_from_json(spark, [f144(12_000, 9, offset=1)]), 1)
    with hdf5lib.File(str(target), "r") as f:
        assert list(f["/entry/instrument/chopper/delay/value"][:]) == [7.0, 9.0]

    job.finalize()
    hdf5.pack(job.out_dir, str(target))
    with hdf5lib.File(str(target), "r") as f:
        assert list(f["/entry/instrument/chopper/delay/value"][:]) == [7.0, 9.0]
        # finalize-only surface present in the final file
        assert "average_value" in f["/entry/instrument/chopper/delay"].keys()


def test_snapshot_interval_and_republish_over_readonly(spark, buffered_job, tmp_path):
    """every_n_batches gates publication; re-snapshot atomically replaces
    the previous (chmod 0o444) file via rename."""
    from kafka_to_nexus_spark.sinks import hdf5lib

    job = buffered_job
    target = tmp_path / "live.nxs"
    job.enable_snapshots(target, every_n_batches=2)

    job.process_batch(messages_from_json(spark, [f144(11_000, 7, offset=0)]), 0)
    assert not target.exists()  # batch 1 of 2: not yet published
    job.process_batch(messages_from_json(spark, [f144(12_000, 9, offset=1)]), 1)
    assert target.exists()
    first_stat = target.stat()
    assert first_stat.st_mode & 0o222 == 0  # published files are immutable

    job.process_batch(messages_from_json(spark, [f144(13_000, 4, offset=2)]), 2)
    job.process_batch(messages_from_json(spark, [f144(14_000, 5, offset=3)]), 3)
    assert target.stat().st_ino != first_stat.st_ino  # atomically replaced
    with hdf5lib.File(str(target), "r") as f:
        assert list(f["/entry/instrument/chopper/delay/value"][:]) == [
            7.0, 9.0, 4.0, 5.0]


def test_live_snapshot_ev44_statics_and_counts(spark, tmp_path):
    """Snapshot with a multi-module plan: the mid-run file carries the ev44
    pulse/event datasets staged so far, the cumulative events counter
    (ev44_Writer EventsWritten), plan statics, and mdat values — while cue
    derivation stays finalize-only."""
    from kafka_to_nexus_spark.sinks import hdf5lib

    structure = {
        "children": [{
            "name": "entry", "type": "group",
            "children": [
                {"module": "dataset",
                 "config": {"name": "title", "values": "snap run",
                            "dtype": "string"}},
                {"module": "mdat", "config": {"items": ["start_time"]}},
                {"name": "events", "type": "group",
                 "children": [{"module": "ev44",
                               "config": {"topic": "t", "source": "det"}}]},
            ],
        }]
    }
    start = StartMessage(
        job_id="snap-ev44", filename="live.nxs", nexus_structure=structure,
        start_time_ms=10_000, stop_time_ms=60_000,
    )
    job = StreamingJob(spark, start, str(tmp_path / "out"))
    target = tmp_path / "live.nxs"
    job.enable_snapshots(target)

    job.process_batch(messages_from_json(spark, [
        ev44(11_000, [1, 2, 3], [1, 2, 3], source="det", offset=0)]), 0)
    with hdf5lib.File(str(target), "r") as f:
        assert list(f["/entry/events/event_index"][:]) == [0]
        assert int(f["/entry/events/events"][()]) == 3  # cumulative counter
        assert f["/entry/title"][()] in ("snap run", b"snap run")
        start_iso = f["/entry/start_time"][()]
        if isinstance(start_iso, bytes):
            start_iso = start_iso.decode()
        assert start_iso == "1970-01-01T00:00:10.000Z"

    job.process_batch(messages_from_json(spark, [
        ev44(12_000, [4, 5], [4, 5], source="det", offset=1)]), 1)
    with hdf5lib.File(str(target), "r") as f:
        assert list(f["/entry/events/event_index"][:]) == [0, 3]
        assert int(f["/entry/events/events"][()]) == 5


def test_snapshot_failure_does_not_fail_the_batch(spark, buffered_job, tmp_path, monkeypatch):
    """A snapshot publish error is counted and retried at the next cadence
    point — the staged write and state save already succeeded, so the
    micro-batch must not fail."""
    from kafka_to_nexus_spark.sinks import hdf5, hdf5lib

    job = buffered_job
    target = tmp_path / "live.nxs"
    job.enable_snapshots(target)

    real_pack = hdf5.pack
    calls = {"n": 0}

    def flaky_pack(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("disk pressure")
        return real_pack(*args, **kwargs)

    monkeypatch.setattr(hdf5, "pack", flaky_pack)
    job.process_batch(messages_from_json(spark, [f144(11_000, 7, offset=0)]), 0)
    assert job.state.metrics.get("snapshot_errors") == 1
    assert not target.exists()
    assert job.state.batches_processed == 1  # batch completed despite it

    job.process_batch(messages_from_json(spark, [f144(12_000, 9, offset=1)]), 1)
    assert job.state.metrics.get("snapshot_errors") == 1  # no new error
    with hdf5lib.File(str(target), "r") as f:
        assert list(f["/entry/instrument/chopper/delay/value"][:]) == [7.0, 9.0]


def test_snapshot_skipped_on_empty_batch_and_after_finish(spark, buffered_job, tmp_path):
    """An empty batch changes nothing readers can see, so no snapshot is
    published; and the batch that trips the stop watchdog must not publish
    either — the worker is about to stop/finalize/pack the same path, and
    an in-flight snapshot racing that sequence could replace the finished
    file with a mid-run image."""
    job = buffered_job
    target = tmp_path / "live.nxs"
    job.enable_snapshots(target)

    job.process_batch(messages_from_json(spark, []), 0)
    assert not target.exists()  # nothing staged, nothing published

    # in-window data AND past-stop data in one batch: staged writes happen,
    # the watchdog latches finished, and the snapshot is suppressed
    job.process_batch(messages_from_json(spark, [
        f144(11_000, 7, offset=0), f144(26_000, 2, offset=1)]), 1)
    assert job.state.finished
    assert not target.exists()


def test_dedup_stream_first_occurrence_across_batches(spark, tmp_path):
    """Streaming dedup (watermarked dropDuplicates): the first arrival of
    each fingerprint passes through, duplicates are suppressed within AND
    across micro-batches while the fingerprint is inside the watermark
    horizon."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.streaming import stateful

    fixture_dir = tmp_path / "in"
    fixture_dir.mkdir()
    _write_fixture(fixture_dir, "b1.json", [
        f144(10_000, 1.0, offset=0), f144(11_000, 2.0, offset=1),
        f144(12_000, 1.0, offset=2),  # intra-batch dup
    ])
    _write_fixture(fixture_dir, "b2.json", [
        f144(13_000, 1.0, offset=3),  # cross-batch dup
        f144(14_000, 3.0, offset=4),
    ], seq=1)

    stream = _file_stream(spark, fixture_dir).withColumn(
        "fingerprint", F.md5(F.col("value").cast("string")))
    out = stateful.dedup_stream(stream, watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("dedup_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted((r.timestamp, r.value)
                 for r in spark.table("dedup_stream").collect())
    # exactly one copy per fingerprint; which intra-batch copy of 1.0
    # survives is arrival-order-dependent (Spark dropDuplicates), but a
    # batch-2 copy can never win — the state store suppresses it
    assert sorted(v for _, v in got) == [1.0, 2.0, 3.0], got
    by_value = dict((v, t) for t, v in got)
    assert by_value[1.0] in (10_000_000_000, 12_000_000_000)  # batch 1 only
    assert by_value[2.0] == 11_000_000_000
    assert by_value[3.0] == 14_000_000_000


def test_dedup_census_emits_counts_at_horizon(spark, tmp_path):
    """Streaming exact-dedup census: when the watermark passes a
    fingerprint's last copy, one (fingerprint, first_seen_ns, n_copies)
    row is emitted and the state evicted — the streaming analog of the
    batch dedup_exact groupBy."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.streaming import stateful

    fixture_dir = tmp_path / "in"
    fixture_dir.mkdir()
    _write_fixture(fixture_dir, "b1.json", [
        f144(10_000, 1.0, offset=0), f144(11_000, 2.0, offset=1),
        f144(12_000, 1.0, offset=2),
    ])
    # watermark pusher: drives the horizon past both fingerprints
    _write_fixture(fixture_dir, "b2.json", [f144(400_000, 9.0, offset=3)], seq=1)

    stream = _file_stream(spark, fixture_dir).withColumn(
        "fingerprint", F.md5(F.col("value").cast("string")))
    out = stateful.dedup_census(stream, watermark="10 seconds")
    q = (out.writeStream.format("memory").queryName("dedup_census")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.first_seen_ns, r.n_copies)
           for r in spark.table("dedup_census").collect()}
    assert (10_000_000_000, 2) in got, got  # value 1.0: two copies
    assert (11_000_000_000, 1) in got, got  # value 2.0: singleton
    # the pusher's own fingerprint is still open (horizon not passed)
    assert not any(f == 400_000_000_000 for f, _ in got), got


@pytest.mark.parametrize(
    "shards", [{}, {"shards": 4}], ids=["default", "4"]
)
def test_streaming_near_dup_candidates_across_batches(spark, tmp_path, shards):
    """Streaming LSH candidates: a new doc pairs with every in-horizon
    member of its buckets the moment it arrives — intra-batch pairs in
    batch 1, cross-batch pairs in batch 2 — and the distinct (id_a, id_b)
    set equals the batch pipeline's bucket-join candidates. Runs the
    default shard count and a small one."""
    import json as _json
    import os
    import time as _time

    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import dedup as llm_dedup
    from kafka_to_nexus_spark.streaming import stateful

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_c = "completely different content with no shingles shared at all?!"
    rows1 = [(1, 10_000_000_000, text_a), (2, 11_000_000_000, text_a),
             (9, 11_500_000_000, text_c)]
    rows2 = [(3, 13_000_000_000, text_a)]

    fixture_dir = tmp_path / "in"
    fixture_dir.mkdir()
    for seq, (name, rows) in enumerate((("b1.json", rows1), ("b2.json", rows2))):
        p = fixture_dir / name
        p.write_text("\n".join(
            _json.dumps({"doc_id": d, "timestamp": t, "text": x})
            for d, t, x in rows))
        base = _time.time() - 1000
        os.utime(p, (base + seq * 10, base + seq * 10))

    raw = (spark.readStream.schema("doc_id long, timestamp long, text string")
           .option("maxFilesPerTrigger", 1).json(str(fixture_dir)))
    # minhash_signatures is a narrow map, so it composes with readStream;
    # keep_cols carries the timestamp through (a join back to the source
    # would be a stream-stream join). Custom id/ts column names on
    # purpose: the operator must remap them to its canonical names.
    sig = (llm_dedup.minhash_signatures(raw, text_col="text",
                                        keep_cols=("timestamp",))
           .withColumnRenamed("doc_id", "document")
           .withColumnRenamed("timestamp", "event_ns"))
    out = stateful.near_dup_candidates(
        sig, id_col="document", ts_col="event_ns", horizon="10 minutes",
        **shards)
    q = (out.writeStream.format("memory").queryName("near_dup")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    pairs = {(r.id_a, r.id_b) for r in spark.table("near_dup").collect()}
    assert pairs == {(1, 2), (1, 3), (2, 3)}, pairs


def test_dedup_stream_state_survives_query_restart(spark, tmp_path):
    """The dedup state store is checkpointed: stop the query after batch 1,
    start a NEW query on the same checkpoint, and a batch-2 duplicate of a
    batch-1 fingerprint must still be suppressed."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.streaming import stateful

    fixture_dir = tmp_path / "in"
    fixture_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def start_query():
        # file sink, not memory: the memory sink cannot recover from a
        # checkpoint, and recovery is exactly what this test exercises
        stream = _file_stream(spark, fixture_dir).withColumn(
            "fingerprint", F.md5(F.col("value").cast("string")))
        out = stateful.dedup_stream(stream, watermark="10 minutes")
        return (out.writeStream.format("parquet").outputMode("append")
                .option("path", sink).option("checkpointLocation", ckpt)
                .start())

    _write_fixture(fixture_dir, "b1.json", [
        f144(10_000, 1.0, offset=0), f144(11_000, 2.0, offset=1)])
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    _write_fixture(fixture_dir, "b2.json", [
        f144(12_000, 1.0, offset=2),  # duplicate from before the restart
        f144(13_000, 3.0, offset=3),
    ], seq=1)
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r.value for r in spark.read.parquet(sink).collect())
    assert got == [1.0, 2.0, 3.0], got  # 1.0 emitted once, pre-restart


class _FakeGroupState:
    """Just enough of GroupState for pure-Python state-function tests."""

    def __init__(self):
        self._value = None
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        if self._value is None:  # real GroupState raises when no state set
            raise ValueError("state is either not defined or has already been removed")
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self._value = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms

    def getCurrentWatermarkMs(self):
        return 0


# Reference models: one state entry per LSH bucket and one per source,
# the per-key layouts the sharded state functions pack. The
# twin-equivalence tests pin _make_shard_fn and _make_quota_shard_fn to
# them, and the upgrade test writes a per-source checkpoint with one.

# state per (band, band_key) bucket: member doc ids + last event time (ns)
_BUCKET_STATE = "docs array<long>, last long"


def _make_bucket_fn(max_bucket: int, horizon_ms: int):
    def update(
        key: tuple[int, str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # idle bucket past its horizon: evict
            state.remove()
            return
        docs, last = (state.get if state.exists else ([], 0))
        docs = list(docs)
        prev_last, changed = last, False
        rows: list[tuple[int, int]] = []  # (timestamp, doc_id)
        for pdf in pdfs:
            rows.extend(
                (int(t), int(d))
                for t, d in zip(pdf["timestamp"], pdf["doc_id"])
                if not (pd.isna(t) or pd.isna(d))
            )
        if not rows and not state.exists:
            # nothing valid ever seen for this bucket: creating state here
            # would leave an entry with no armed timeout — never evictable
            return
        rows.sort()
        pairs: list[tuple[int, int]] = []
        seen = set(docs)
        for t, d in rows:
            last = max(last, t)
            if d in seen:  # duplicate arrival of the same doc in the bucket
                continue
            # each arrival pairs against at most max_bucket members and
            # membership is trimmed INSIDE the loop — a burst delivering a
            # hot bucket in one micro-batch emits O(max_bucket * batch)
            # pairs, never batch² (the cap exists exactly for that burst).
            pairs.extend((min(d, o), max(d, o)) for o in docs)
            docs.append(d)
            seen.add(d)
            changed = True
            if len(docs) > max_bucket:
                # keep the most recent members (the batch pipeline's
                # analog is the lsh_candidate_pairs star cap)
                del docs[0]
        # skip the state-store write for batches that changed nothing
        # (every arrival was a duplicate of an in-state member and the
        # horizon clock didn't move): an unchanged bucket re-committed
        # per batch is pure state-store churn
        if changed or last != prev_last or not state.exists:
            state.update((docs, last))
            if last:
                _set_clamped_timeout(state, last // 1_000_000 + horizon_ms)
        if pairs:
            yield pd.DataFrame(
                {
                    "id_a": [a for a, _ in pairs],
                    "id_b": [b for _, b in pairs],
                    "band": [int(key[0])] * len(pairs),
                }
            )

    return update


# state per source: rows admitted so far (one long — O(sources) state,
# like session_windows)
_QUOTA_STATE = "admitted long"


def _make_quota_fn(quota: int, cols: list, ts_col: str):
    """Per-source quota state function (one long per source)."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        before = state.get[0] if state.exists else 0
        budget = quota - before
        # applyInPandasWithState splits one group across multiple Arrow
        # chunks (spark.sql.execution.arrow.maxRecordsPerBatch rows
        # each), so event-time order must be decided across the WHOLE
        # iterator, not per chunk: emit ONCE after it drains.
        cand = None
        for pdf in pdfs:
            if budget <= 0 or not len(pdf):
                continue  # keep draining; budget exhausted or empty chunk
            cand = _nsmallest_chunks(cand, pdf, ts_col, budget)
        if cand is not None and len(cand):
            out = cand[cols].copy()
            out["quota_rank"] = range(before + 1, before + 1 + len(cand))
            # exhausted sources keep receiving rows every batch; skipping
            # the no-op commit keeps the state-store delta at O(sources
            # that admitted) instead of O(sources with data) (same lesson
            # as the near-dup sharded state: unchanged entries must not
            # rewrite)
            state.update((before + len(cand),))
            yield out

    return update


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_bucket_pairing_matches_brute_force(seed):
    """Property: feeding one bucket's rows through _make_shard_fn in any
    batch split emits exactly the brute-force pair set of its distinct
    docs (uncapped), each pair once, regardless of arrival order or
    duplicate re-deliveries."""
    import itertools
    import random

    import pandas as pd

    from kafka_to_nexus_spark.streaming.stateful import _make_shard_fn

    rng = random.Random(seed)
    docs = rng.sample(range(100), rng.randint(2, 12))
    rows = [(rng.randint(1, 10**12), d) for d in docs]
    rows += [rng.choice(rows) for _ in range(rng.randint(0, 4))]  # dup deliveries
    rng.shuffle(rows)
    n_batches = rng.randint(1, 4)
    batches = [rows[i::n_batches] for i in range(n_batches)]

    fn = _make_shard_fn(max_bucket=1000, horizon_ms=60_000)
    state = _FakeGroupState()
    emitted = set()
    for batch in batches:
        if not batch:
            continue
        pdf = pd.DataFrame({"timestamp": [t for t, _ in batch],
                            "band_key": ["k"] * len(batch),
                            "doc_id": [d for _, d in batch]})
        for out in fn((0, 0), iter([pdf]), state):
            emitted.update(zip(out["id_a"], out["id_b"]))
    expect = {(min(a, b), max(a, b)) for a, b in itertools.combinations(set(docs), 2)}
    assert emitted == expect
    assert state.timeout_ms is not None  # horizon armed


def test_bucket_cap_bounds_state_and_pairs():
    """max_bucket keeps state bounded: membership never exceeds the cap,
    and a new arrival emits at most max_bucket pairs."""
    import pandas as pd

    from kafka_to_nexus_spark.streaming.stateful import _make_shard_fn

    fn = _make_shard_fn(max_bucket=5, horizon_ms=60_000)
    state = _FakeGroupState()
    for i in range(30):
        pdf = pd.DataFrame({"timestamp": [1_000_000_000 * (i + 1)],
                            "band_key": ["k"], "doc_id": [i]})
        outs = list(fn((0, 0), iter([pdf]), state))
        n_pairs = sum(len(o) for o in outs)
        assert n_pairs <= 5
    assert len(state.get[1][0]) <= 5


def test_bucket_cap_bounds_single_batch_burst():
    """The cap must hold INSIDE one micro-batch too: a burst delivering a
    hot bucket in a single state-function call emits O(max_bucket * n)
    pairs, not n² — and membership is trimmed as the loop runs."""
    import pandas as pd

    from kafka_to_nexus_spark.streaming.stateful import _make_shard_fn

    n, cap = 200, 5
    fn = _make_shard_fn(max_bucket=cap, horizon_ms=60_000)
    state = _FakeGroupState()
    pdf = pd.DataFrame({"timestamp": [1_000_000_000 * (i + 1) for i in range(n)],
                        "band_key": ["k"] * n,
                        "doc_id": list(range(n))})
    outs = list(fn((0, 0), iter([pdf]), state))
    n_pairs = sum(len(o) for o in outs)
    assert n_pairs <= cap * n
    assert n_pairs < n * (n - 1) // 2  # strictly below the quadratic clique
    assert len(state.get[1][0]) <= cap


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_shard_fn_matches_per_bucket_fn(seed):
    """Property: routing several buckets' rows through ONE _make_shard_fn
    state entry emits exactly the union of what per-bucket _make_bucket_fn
    states emit for the same rows and batch splits — the sharded form is
    a pure state-layout change, not a semantics change."""
    import random

    import pandas as pd

    from kafka_to_nexus_spark.streaming.stateful import _make_shard_fn

    rng = random.Random(seed)
    bucket_keys = [f"bk{i}" for i in range(rng.randint(1, 5))]
    rows = []  # (timestamp, band_key, doc_id)
    for bk in bucket_keys:
        for d in rng.sample(range(100), rng.randint(1, 8)):
            rows.append((rng.randint(1, 10**12), bk, d))
    rows += [rng.choice(rows) for _ in range(rng.randint(0, 4))]  # dups
    # fresh-timestamp duplicates: same (bucket, doc) but a NEW timestamp,
    # so after sorting they can land AFTER a cap eviction of the original
    # — exercising the post-eviction re-arrival corner in both layouts
    rows += [
        (rng.randint(1, 10**12), bk, d)
        for _, bk, d in (rng.choice(rows) for _ in range(rng.randint(0, 4)))
    ]
    rng.shuffle(rows)
    n_batches = rng.randint(1, 4)
    batches = [rows[i::n_batches] for i in range(n_batches)]
    cap = rng.choice([3, 1000])

    shard_fn = _make_shard_fn(max_bucket=cap, horizon_ms=60_000)
    shard_state = _FakeGroupState()
    sharded = set()
    for batch in batches:
        if not batch:
            continue
        pdf = pd.DataFrame({"timestamp": [t for t, _, _ in batch],
                            "band_key": [bk for _, bk, _ in batch],
                            "doc_id": [d for _, _, d in batch]})
        for out in shard_fn((0, 7), iter([pdf]), shard_state):
            sharded.update(zip(out["id_a"], out["id_b"]))

    bucket_fn = _make_bucket_fn(max_bucket=cap, horizon_ms=60_000)
    per_bucket = set()
    states = {bk: _FakeGroupState() for bk in bucket_keys}
    for batch in batches:
        for bk in bucket_keys:
            sub = [(t, d) for t, k, d in batch if k == bk]
            if not sub:
                continue
            pdf = pd.DataFrame({"timestamp": [t for t, _ in sub],
                                "doc_id": [d for _, d in sub]})
            for out in bucket_fn((0, bk), iter([pdf]), states[bk]):
                per_bucket.update(zip(out["id_a"], out["id_b"]))
    assert sharded == per_bucket
    # state is bounded per bucket and the shard timeout is armed
    if shard_state.exists:
        assert all(len(m) <= cap for m in shard_state.get[1])
        assert shard_state.timeout_ms is not None


def test_shard_fn_post_eviction_rearrival_is_duplicate():
    """A doc evicted by the max_bucket cap that RE-ARRIVES later in the
    SAME micro-batch (with a fresh timestamp) is still a duplicate — the
    per-bucket form's batch-scoped seen set ignores it, so the sharded
    form must too (a membership scan over the capped docs list would
    re-pair and re-append it)."""
    import pandas as pd

    from kafka_to_nexus_spark.streaming.stateful import _make_shard_fn

    # cap=2: docs 1,2,3 arrive (3 evicts 1), then doc 1 re-arrives with a
    # NEWER timestamp inside the same batch
    ts = [1, 2, 3, 4]
    docs = [1, 2, 3, 1]
    shard_fn = _make_shard_fn(max_bucket=2, horizon_ms=60_000)
    sstate = _FakeGroupState()
    pdf = pd.DataFrame({"timestamp": [t * 1_000_000_000 for t in ts],
                        "band_key": ["bk"] * 4, "doc_id": docs})
    sharded = set()
    for out in shard_fn((0, 0), iter([pdf]), sstate):
        sharded.update(zip(out["id_a"], out["id_b"]))

    bucket_fn = _make_bucket_fn(max_bucket=2, horizon_ms=60_000)
    bstate = _FakeGroupState()
    pdf2 = pd.DataFrame({"timestamp": [t * 1_000_000_000 for t in ts],
                         "doc_id": docs})
    per_bucket = set()
    for out in bucket_fn((0, "bk"), iter([pdf2]), bstate):
        per_bucket.update(zip(out["id_a"], out["id_b"]))

    assert per_bucket == {(1, 2), (1, 3), (2, 3)}
    assert sharded == per_bucket              # no re-pairing of doc 1
    assert sorted(sstate.get[1][0]) == [2, 3]  # and no re-append either


def test_shard_fn_sweeps_expired_buckets():
    """The sharded form's sweep-on-call eviction: buckets whose horizon
    passed the watermark are dropped when the shard is next invoked, and
    an all-expired shard removes its state entirely on timeout."""
    import pandas as pd

    from kafka_to_nexus_spark.streaming.stateful import _make_shard_fn

    fn = _make_shard_fn(max_bucket=64, horizon_ms=1_000)

    class _WmState(_FakeGroupState):
        wm = 0

        def getCurrentWatermarkMs(self):
            return self.wm

    state = _WmState()
    pdf = pd.DataFrame({"timestamp": [1_000_000_000, 2_000_000_000],
                        "band_key": ["old", "new"],
                        "doc_id": [1, 2]})
    list(fn((0, 0), iter([pdf]), state))
    assert sorted(state.get[0]) == ["new", "old"]
    # watermark passes bucket "old"'s horizon (1 s event + 1 s horizon)
    state.wm = 2_500
    pdf2 = pd.DataFrame({"timestamp": [3_000_000_000],
                         "band_key": ["new"], "doc_id": [3]})
    list(fn((0, 0), iter([pdf2]), state))
    assert state.get[0] == ["new"]          # "old" swept
    assert sorted(state.get[1][0]) == [2, 3]
    # idle-shard timeout with everything expired: state removed
    state.wm = 10_000
    state.hasTimedOut = True
    list(fn((0, 0), iter([]), state))
    assert not state.exists


def test_da00_first_message_constants_in_streaming(spark, tmp_path):
    """W5 parity with batch mode: a da00 constant with no configured data
    is refined from the source's FIRST message (da00_Writer.cpp:92-130) —
    captured on the first present micro-batch, carried in job state, and
    present in the finalize metadata (previously streaming wrote nothing
    for such constants)."""
    structure = {"children": [{
        "name": "entry", "type": "group",
        "children": [{
            "name": "hist", "type": "group",
            "children": [{
                "module": "da00",
                "config": {
                    "topic": "t", "source": "h",
                    "variables": [{"name": "signal"}],
                    "constants": [{"name": "edges"}],  # no data: refine
                },
            }],
        }],
    }]}
    start = StartMessage(
        job_id="da00-statics", filename="f", nexus_structure=structure,
        start_time_ms=10_000, stop_time_ms=60_000,
    )
    job = StreamingJob(spark, start, str(tmp_path / "out"))

    def da00_msg(ts, offset, edges):
        return {
            "schema": "da00", "topic": "t", "source_name": "h",
            "partition": 0, "kafka_timestamp": ts, "timestamp": ts,
            "offset": offset,
            "variables": [
                {"name": "signal", "unit": "counts", "axes": ["x"],
                 "shape": [2], "data": [1.0, 2.0]},
                {"name": "edges", "unit": "mm", "axes": ["x"], "shape": [3],
                 "data": edges},
            ],
        }

    job.process_batch(messages_from_json(spark, []), 0)  # empty first batch
    job.process_batch(messages_from_json(
        spark, [da00_msg(11_000, 0, [9.0, 9.5, 10.0])]), 1)
    # a later message with different edges must NOT override the first
    job.process_batch(messages_from_json(
        spark, [da00_msg(12_000, 1, [7.0, 7.5, 8.0])]), 2)
    job.finalize()
    meta = staging.read_meta(job.out_dir)
    assert meta["metadata_values"]["/entry/hist/edges"] == [9.0, 9.5, 10.0]


def test_da00_constant_resolves_from_a_later_batch(spark, tmp_path):
    """A data-less first message must not latch a constant as permanently
    missing: the capture retries on later present batches until every
    declared constant has resolved (first resolved value wins)."""
    structure = {"children": [{
        "name": "entry", "type": "group",
        "children": [{
            "name": "hist", "type": "group",
            "children": [{
                "module": "da00",
                "config": {"topic": "t", "source": "h",
                           "variables": [{"name": "signal"}],
                           "constants": [{"name": "edges"}]},
            }],
        }],
    }]}
    start = StartMessage(
        job_id="da00-late-const", filename="f", nexus_structure=structure,
        start_time_ms=10_000, stop_time_ms=60_000,
    )
    job = StreamingJob(spark, start, str(tmp_path / "out"))

    def msg(ts, offset, variables):
        return {"schema": "da00", "topic": "t", "source_name": "h",
                "partition": 0, "kafka_timestamp": ts, "timestamp": ts,
                "offset": offset, "variables": variables}

    sig = {"name": "signal", "unit": "counts", "axes": ["x"], "shape": [2],
           "data": [1.0, 2.0]}
    # batch 0: signal only — edges unresolved
    job.process_batch(messages_from_json(spark, [msg(11_000, 0, [sig])]), 0)
    # batch 1: edges arrives
    job.process_batch(messages_from_json(spark, [msg(12_000, 1, [
        sig, {"name": "edges", "unit": "mm", "axes": ["x"], "shape": [3],
              "data": [9.0, 9.5, 10.0]}])]), 1)
    # batch 2: different edges — must not override the first resolution
    job.process_batch(messages_from_json(spark, [msg(13_000, 2, [
        sig, {"name": "edges", "unit": "mm", "axes": ["x"], "shape": [3],
              "data": [7.0, 7.5, 8.0]}])]), 2)
    job.finalize()
    meta = staging.read_meta(job.out_dir)
    assert meta["metadata_values"]["/entry/hist/edges"] == [9.0, 9.5, 10.0]


def test_stop_retarget_rearms_partition_filter_and_latches_finished(spark, buffered_job):
    """retarget_stop must (a) propagate the new stop into the F6 machine
    (Partition::setStopTime -> partition filter, Partition.cpp:117-123) so
    a quiet run-forever job can take the TIMED_OUT exit, and (b) never
    un-finish a job the error path already declared done."""
    job = buffered_job
    job.stop_ns = None  # run-forever job
    job.partition_filter.stop_time_s = None
    job.retarget_stop(12_000)
    assert job.partition_filter.stop_time_s == 12.0  # (a) re-armed

    # (b) finished latches across a later retarget to a far-future stop
    job.state.finished = True
    job.retarget_stop(10_000_000)
    assert job.state.finished


# partition counts of the restart test: a shard count derived from them
# (4 x partitions, the removed automatic count) would move keys
_PARTS_BEFORE, _PARTS_AFTER = 2, 4


def _moved_keys(spark, keys: list) -> list:
    """The keys whose shard under 4 x _PARTS_BEFORE differs from their
    shard under 4 x _PARTS_AFTER."""
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    shard = [
        F.pmod(F.xxhash64("k"), F.lit(4 * n)).alias(f"s{n}")
        for n in (_PARTS_BEFORE, _PARTS_AFTER)
    ]
    return [
        r.k for r in df.select("k", *shard).collect()
        if r[f"s{_PARTS_BEFORE}"] != r[f"s{_PARTS_AFTER}"]
    ]


def _quota_restart_case(spark):
    """Quota 2, sources whose shard would move: batch 1 exhausts every
    source, so batch 2 admits nothing."""
    from kafka_to_nexus_spark.streaming import stateful

    sources = _moved_keys(spark, [f"src{i}" for i in range(40)])[:3]
    assert len(sources) == 3
    b1 = [f144(10_000 + i, float(i), source=s, offset=i)
          for i, s in enumerate(sources * 2)]
    b2 = [f144(20_000 + i, 100.0 + i, source=s, offset=10 + i)
          for i, s in enumerate(sources * 2)]

    def query(fixture_dir):
        return stateful.source_quota_stream(
            _file_stream(spark, fixture_dir), quota=2)

    def write(fixture_dir, name, rows, seq):
        _write_fixture(fixture_dir, name, rows, seq=seq)

    return query, write, b1, b2


def _near_dup_restart_case(spark):
    """Four texts seen in batch 1 and again in batch 2; at least one of
    their band keys would move shard."""
    from kafka_to_nexus_spark.llm import dedup as llm_dedup
    from kafka_to_nexus_spark.streaming import stateful

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "a stitch in time saves nine but only when the needle is sharp",
        "streaming state must survive a restart from its checkpoint",
        "every bucket of the banded signature keeps its standing members",
    ]
    b1 = [{"doc_id": i, "timestamp": (i + 1) * 1_000_000_000, "text": t}
          for i, t in enumerate(texts)]
    b2 = [{"doc_id": 10 + i, "timestamp": (20 + i) * 1_000_000_000, "text": t}
          for i, t in enumerate(texts)]
    keys = llm_dedup.banded_signatures(
        llm_dedup.minhash_signatures(
            spark.createDataFrame(
                [(r["doc_id"], r["text"]) for r in b1],
                "doc_id long, text string")),
        "doc_id", 4, 2,
    ).collect()
    assert _moved_keys(spark, sorted({r.band_key for r in keys}))

    def query(fixture_dir):
        raw = (spark.readStream
               .schema("doc_id long, timestamp long, text string")
               .option("maxFilesPerTrigger", 1).json(str(fixture_dir)))
        sig = llm_dedup.minhash_signatures(raw, keep_cols=("timestamp",))
        return stateful.near_dup_candidates(
            sig, horizon="1 hour", watermark="1 hour")

    return query, _write_fixture_raw, b1, b2


@pytest.mark.parametrize("case", ["source_quota_stream", "near_dup_candidates"])
def test_keyed_state_survives_restart_at_other_partition_count(
    spark, tmp_path, case
):
    """A keyed streaming operator restarted from its checkpoint under a
    different spark.sql.shuffle.partitions continues its state exactly:
    batch 1 at one partition count, a new query on the same checkpoint
    runs batch 2 at another, and the output equals an uninterrupted
    run's. The keys are chosen so that a shard count derived from the
    partition count would move them to other state entries (quota:
    re-admitted sources; near-dup: batch-2 docs missing their pairs)."""
    query, write, b1, b2 = {
        "source_quota_stream": _quota_restart_case,
        "near_dup_candidates": _near_dup_restart_case,
    }[case](spark)
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def run(fixture_dir, out, ckpt, parts):
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        # file sink: the memory sink cannot recover from a checkpoint
        q = (query(fixture_dir).writeStream.format("parquet")
             .outputMode("append").option("path", str(out))
             .option("checkpointLocation", str(ckpt)).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def rows(out):
        return sorted(map(tuple, spark.read.parquet(str(out)).collect()),
                      key=repr)

    try:
        whole = tmp_path / "whole_in"
        whole.mkdir()
        write(whole, "b1.json", b1, 0)
        write(whole, "b2.json", b2, 1)
        run(whole, tmp_path / "whole_out", tmp_path / "whole_ckpt",
            _PARTS_BEFORE)

        split = tmp_path / "split_in"
        split.mkdir()
        write(split, "b1.json", b1, 0)
        run(split, tmp_path / "split_out", tmp_path / "split_ckpt",
            _PARTS_BEFORE)
        write(split, "b2.json", b2, 1)
        run(split, tmp_path / "split_out", tmp_path / "split_ckpt",
            _PARTS_AFTER)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    want = rows(tmp_path / "whole_out")
    assert want  # batch 1 admits / batch 2 pairs in the uninterrupted run
    assert rows(tmp_path / "split_out") == want


def test_per_source_quota_checkpoint_fails_loudly_on_sharded_restart(
    spark, tmp_path
):
    """Upgrade path from the older per-source quota state layout: a
    checkpoint written with one state entry per source (the reference
    model, grouped by the source column) restarted with
    source_quota_stream must fail with Spark's key-schema check, not
    silently re-admit every source."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    from kafka_to_nexus_spark.streaming import stateful

    fixture_dir = tmp_path / "in"
    fixture_dir.mkdir()
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    _write_fixture(fixture_dir, "b1.json", [
        f144(10_000, 1.0, source="A", offset=0),
        f144(11_000, 2.0, source="B", offset=1)])

    def start(frame):
        return (frame.writeStream.format("parquet").outputMode("append")
                .option("path", out).option("checkpointLocation", ckpt)
                .start())

    stream = _file_stream(spark, fixture_dir)
    fields = list(stream.schema.fields)
    per_source = stream.groupBy("source_name").applyInPandasWithState(
        _make_quota_fn(2, [f.name for f in fields], "timestamp"),
        StructType(fields + [StructField("quota_rank", LongType())]),
        _QUOTA_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    q = start(per_source)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(spark.read.parquet(out).collect()) == 2

    _write_fixture(fixture_dir, "b2.json", [
        f144(12_000, 3.0, source="A", offset=2)], seq=1)
    q = start(stateful.source_quota_stream(
        _file_stream(spark, fixture_dir), quota=2))
    try:
        with pytest.raises(Exception,
                           match="STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"):
            q.processAllAvailable()
    finally:
        q.stop()


# ---------------------------------------------------------------------------
# L44 streaming twin: per-source admission quota
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "shards", [{}, {"shards": 2}], ids=["default", "2"]
)
def test_source_quota_stream_admits_first_n_per_source(spark, tmp_path, shards):
    """Quota of 2 per source across 2 micro-batches: batch-1 rows fill the
    budget in event-time order; batch-2 rows are admitted only with
    leftover budget (cross-batch monotone admission), and quota_rank
    numbers admissions 1..k per source. Identical under the default
    shard count and a small one."""
    from kafka_to_nexus_spark.streaming import stateful

    fixture_dir = tmp_path / "in"
    fixture_dir.mkdir()
    # source A: 3 rows in batch 1 (out of event-time order), 1 in batch 2
    # source B: 1 row in batch 1, 2 in batch 2
    _write_fixture(fixture_dir, "b1.json", [
        f144(12_000, 3.0, source="A", offset=2),
        f144(10_000, 1.0, source="A", offset=0),
        f144(11_000, 2.0, source="A", offset=1),
        f144(10_500, 10.0, source="B", offset=0),
    ])
    _write_fixture(fixture_dir, "b2.json", [
        f144(13_000, 4.0, source="A", offset=3),
        f144(13_500, 11.0, source="B", offset=1),
        f144(14_000, 12.0, source="B", offset=2),
    ], seq=1)

    out = stateful.source_quota_stream(
        _file_stream(spark, fixture_dir), quota=2, **shards)
    name = f"source_quota_{shards.get('shards', 0)}"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert "__quota_shard" not in spark.table(name).columns
    got = {
        (r.source_name, r.quota_rank): r.value
        for r in spark.table(name).collect()
    }
    # A: batch 1 alone exhausts the quota in EVENT-TIME order (1.0, 2.0);
    # 3.0 (later event time, same batch) and the batch-2 row are dropped.
    # B: batch 1 admits 1 row, batch 2 the second; 12.0 is over budget.
    assert got == {
        ("A", 1): 1.0,
        ("A", 2): 2.0,
        ("B", 1): 10.0,
        ("B", 2): 11.0,
    }, got


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_quota_shard_fn_matches_per_source_fn(seed):
    """Property: routing several sources' rows through ONE
    _make_quota_shard_fn state entry admits exactly the union of what
    per-source _make_quota_fn states admit — same rows, same quota_rank —
    for any batch split, Arrow-chunk split, and arrival order (the
    sharded form is a pure state-layout change, not a semantics change).
    Equal timestamps are included: both layouts break ties by arrival
    order, and the chunk splits differ between them, so tie handling
    must be chunk-split-invariant for this to hold."""
    import random

    import pandas as pd

    from kafka_to_nexus_spark.streaming.stateful import _make_quota_shard_fn

    rng = random.Random(seed)
    sources = [f"s{i}" for i in range(rng.randint(1, 5))]
    rows = []  # (timestamp, source, value) — value is a unique row id
    vid = 0
    for s in sources:
        for _ in range(rng.randint(1, 12)):
            # small ts range → plenty of ties
            rows.append((rng.randint(1, 6), s, vid))
            vid += 1
    rng.shuffle(rows)
    n_batches = rng.randint(1, 4)
    batches = [rows[i::n_batches] for i in range(n_batches)]
    quota = rng.choice([1, 4, 100])
    cols = ["timestamp", "source_name", "value"]

    def frame(sub):
        return pd.DataFrame(
            {"timestamp": [t for t, _, _ in sub],
             "source_name": [s for _, s, _ in sub],
             "value": [v for _, _, v in sub]}
        )

    def chunked(sub):
        """Random Arrow-chunk split of one group's batch rows."""
        if not sub:
            return []
        k = rng.randint(1, 3)
        cuts = sorted(rng.randint(0, len(sub)) for _ in range(k - 1))
        pieces, lo = [], 0
        for c in cuts + [len(sub)]:
            pieces.append(frame(sub[lo:c]))
            lo = c
        return pieces

    shard_fn = _make_quota_shard_fn(quota, cols, "timestamp", "source_name")
    sstate = _FakeGroupState()
    sharded = set()
    for batch in batches:
        if not batch:
            continue
        for out in shard_fn((0,), iter(chunked(batch)), sstate):
            sharded.update(zip(out["source_name"], out["value"],
                               out["quota_rank"]))

    per_source = set()
    fn = _make_quota_fn(quota, cols, "timestamp")
    states = {s: _FakeGroupState() for s in sources}
    for batch in batches:
        for s in sources:
            sub = [r for r in batch if r[1] == s]
            if not sub:
                continue
            for out in fn((s,), iter(chunked(sub)), states[s]):
                per_source.update(zip(out["source_name"], out["value"],
                                      out["quota_rank"]))
    assert sharded == per_source
    # sharded state = one entry of parallel arrays, counts bounded by quota
    if sstate.exists:
        srcs, adm = sstate.get
        assert len(srcs) == len(adm) <= len(sources)
        assert all(a <= quota for a in adm)


def test_source_quota_stream_event_time_order_across_arrow_chunks(spark, tmp_path):
    """applyInPandasWithState splits one group across multiple Arrow
    chunks (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows each);
    admission must be decided by event time across the WHOLE micro-batch,
    not per chunk. 9 rows for one source arrive in DESCENDING event-time
    order with the chunk size forced to 3: the globally-earliest 3 rows
    (which arrive in the LAST chunk) must win — the per-chunk form would
    admit the first chunk's rows (the 3 LATEST event times) instead."""
    from kafka_to_nexus_spark.streaming import stateful

    fixture_dir = tmp_path / "in"
    fixture_dir.mkdir()
    # descending ts: arrival order is the exact inverse of event-time order
    _write_fixture(fixture_dir, "b1.json", [
        f144(10_000 + 1_000 * i, float(i), source="A", offset=8 - i)
        for i in range(8, -1, -1)
    ])
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        out = stateful.source_quota_stream(
            _file_stream(spark, fixture_dir), quota=3)
        q = (out.writeStream.format("memory").queryName("quota_chunks")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    got = {
        (r.quota_rank): r.value
        for r in spark.table("quota_chunks").collect()
    }
    assert got == {1: 0.0, 2: 1.0, 3: 2.0}, got


def test_near_dup_candidates_rejects_bad_shards_string(spark):
    """A typo like shards="Auto" must fail fast with a clear error, not
    flow into the sharded path as a shard count and die later with an
    obscure analysis/modulo error."""
    import pytest as _pytest

    from kafka_to_nexus_spark.schemas import MESSAGE_SCHEMA
    from kafka_to_nexus_spark.streaming import stateful

    sigs = spark.createDataFrame(
        [(0, 1_000, 1, 2)], "doc_id long, timestamp long, m0 long, m1 long"
    )
    with _pytest.raises(ValueError, match="shards"):
        stateful.near_dup_candidates(
            sigs, bands=2, rows_per_band=1, shards="Auto")


def test_source_quota_stream_rejects_bad_args(spark):
    import pytest as _pytest

    from kafka_to_nexus_spark.schemas import MESSAGE_SCHEMA
    from kafka_to_nexus_spark.streaming import stateful

    df = spark.createDataFrame([], MESSAGE_SCHEMA)
    with _pytest.raises(ValueError, match="quota"):
        stateful.source_quota_stream(df, quota=0)
    from pyspark.sql import functions as F

    with _pytest.raises(ValueError, match="quota_rank"):
        stateful.source_quota_stream(
            df.withColumn("quota_rank", F.col("offset")), quota=1
        )


def test_resolve_shards_rejects_nonpositive_ints(spark):
    """ADVICE r7: shards=0 flows into pmod(xxhash64(src), 0) — null shard
    keys collapse every source into one state entry (or hard-fail under
    ANSI). Non-positive ints, bools, None and any string must fail
    fast: the shard count is an int, fixed for the query's lifetime."""
    import pytest as _pytest

    from kafka_to_nexus_spark.schemas import MESSAGE_SCHEMA
    from kafka_to_nexus_spark.streaming import stateful

    df = spark.createDataFrame([], MESSAGE_SCHEMA)
    for bad in (0, -3, True, 2.5, None, "auto"):
        with _pytest.raises(ValueError, match="shards"):
            stateful.source_quota_stream(df, quota=2, shards=bad)
    assert stateful._check_shards(8) == 8


def test_quota_state_key_null_vs_none_string():
    """The sharded quota state keys sources by string; a NULL source must
    not collide with a literal "None"/"nan" source (ADVICE r7 #3)."""
    from kafka_to_nexus_spark.streaming.stateful import _quota_state_key

    keys = {
        _quota_state_key(None),
        _quota_state_key(float("nan")),
        _quota_state_key("None"),
        _quota_state_key("nan"),
    }
    assert _quota_state_key(None) == _quota_state_key(float("nan"))
    assert len(keys) == 3  # null-class, "=None", "=nan" all distinct
    assert _quota_state_key("src_a") == "=src_a"


def test_bloom_admission_stream_constant_state(spark, tmp_path):
    """Streaming Bloom admission (L78): exact duplicates are never
    admitted twice — within a batch, across batches, and regardless of
    which sub-filter shard they route to — while state stays a FIXED
    bitmap. Admissions must equal a python reference that inserts
    fingerprints into the same partitioned filter in the same pinned
    (timestamp, fingerprint) order."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.streaming import stateful

    fixture_dir = tmp_path / "in"
    fixture_dir.mkdir()
    _write_fixture(fixture_dir, "b1.json", [
        f144(10_000, 1.0, offset=0), f144(11_000, 2.0, offset=1),
        f144(12_000, 1.0, offset=2),  # intra-batch dup
    ])
    _write_fixture(fixture_dir, "b2.json", [
        f144(13_000, 1.0, offset=3),  # cross-batch dup
        f144(14_000, 3.0, offset=4),
        f144(15_000, 2.0, offset=5),  # cross-batch dup
    ], seq=1)

    m_bits, k, shards = 63 * 8 * 4, 4, 4
    stream = _file_stream(spark, fixture_dir).withColumn(
        "fingerprint", F.md5(F.col("value").cast("string")))
    out = stateful.bloom_admission_stream(
        stream, m_bits=m_bits, k=k, shards=shards)
    q = (out.writeStream.format("memory").queryName("bloom_admit")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.fingerprint, r.timestamp): r.bloom_admitted
           for r in spark.table("bloom_admit").collect()}
    assert len(got) == 6

    # python reference: same sub-filter routing (xxhash64 replay via
    # Spark), same positions, same per-batch (ts, fp) order
    m_sub = ((m_bits // shards + 62) // 63) * 63
    fps = {r.fingerprint: r.shard for r in spark.createDataFrame(
        [(fp,) for fp, _ in got], ["fingerprint"]
    ).select(
        "fingerprint",
        F.pmod(F.xxhash64("fingerprint"), F.lit(shards)).alias("shard"),
    ).collect()}
    filters = {s: set() for s in range(shards)}
    want = {}
    b1 = sorted((ts, fp) for (fp, ts) in got if ts <= 12_000_000_000)
    b2 = sorted((ts, fp) for (fp, ts) in got if ts > 12_000_000_000)
    for batch in (b1, b2):
        for ts, fp in batch:
            shard = fps[fp]
            pos = stateful._bloom_positions_py(fp, k, m_sub)
            seen = all(p in filters[shard] for p in pos)
            filters[shard].update(pos)
            want[(fp, ts)] = not seen
    assert got == want
    # the admission pattern itself: three distinct values admitted once
    admitted = [key for key, a in got.items() if a]
    assert len(admitted) == 3
    assert len({fp for fp, _ in admitted}) == 3


def test_bloom_admission_state_pins_its_geometry():
    """ADVICE-r10: the admission state carries (m_sub, k); resuming a
    checkpoint under different constructor args must fail loudly instead
    of reinterpreting the stored bitmap (silent duplicate admissions)."""
    import pandas as pd
    import pytest

    from kafka_to_nexus_spark.streaming import stateful

    def batch(*fps):
        return iter([pd.DataFrame(
            {"fingerprint": list(fps),
             "timestamp": list(range(len(fps)))})])

    state = _FakeGroupState()
    fn_a = stateful._make_bloom_admit_fn(m_sub=63 * 8, k=4)
    out1 = pd.concat(list(fn_a((0,), batch("x", "y"), state)))
    assert list(out1["bloom_admitted"]) == [True, True]
    assert state.get[1:] == (63 * 8, 4)

    # same geometry resumes fine and still remembers x
    out2 = pd.concat(list(fn_a((0,), batch("x", "z"), state)))
    assert dict(zip(out2["fingerprint"], out2["bloom_admitted"])) == {
        "x": False, "z": True}
    bits, m_sub, k = state.get

    # resized width or changed k: loud failure, bitmap untouched
    for bad_m, bad_k in ((63 * 16, 4), (63 * 8, 5)):
        fn_b = stateful._make_bloom_admit_fn(m_sub=bad_m, k=bad_k)
        with pytest.raises(ValueError, match="rotate to a fresh checkpoint"):
            list(fn_b((0,), batch("w"), state))
    assert state.get == (bits, m_sub, k)


def test_bloom_positions_python_twin_matches_spark(spark):
    """The streaming gate's python position derivation must equal the
    batch gate's Spark expression (llm.dedup.bloom_positions) — the pin
    that keeps the two admission paths from drifting."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import dedup
    from kafka_to_nexus_spark.streaming import stateful

    m_bits, k = 63 * 43, 7
    fps = [("alpha",), ("beta",), ("some longer fingerprint 123",), ("",)]
    rows = spark.createDataFrame(fps, ["fp"]).select(
        "fp", dedup.bloom_positions(F.col("fp"), k, F.lit(m_bits)).alias("pos")
    ).collect()
    for r in rows:
        assert list(r.pos) == stateful._bloom_positions_py(
            r.fp, k, m_bits
        ), r.fp


def test_bloom_literal_probe_decontaminates_a_stream(spark, tmp_path):
    """The decontamination probe is stateless narrow expressions, so the
    SAME closure that serves the batch query runs on a readStream
    unchanged — per-doc bloom hit counts from the stream must equal the
    batch computation over identical documents."""
    import json as _json

    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import dedup

    docs = [(i, f"document body number {i} with shared prefix text")
            for i in range(40)]
    bench_docs = [t for _, t in docs[:3]]

    def sh(col):
        return F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(col) - 19, F.lit(1))),
            lambda i: F.substring(col, i, 20)))

    bench = (spark.createDataFrame([(t,) for t in bench_docs], ["text"])
             .select(F.explode(sh(F.col("text"))).alias("g")).distinct())
    params, words = dedup.bloom_build(bench, "g", k=6, bits_per_key=8)
    m_bits = int(params.collect()[0]["m_bits"])
    wrows = [(int(r["word_idx"]), int(r["word"])) for r in words.collect()]
    hit = dedup.bloom_literal_probe(wrows, m_bits, 6)

    def probe(df):
        return df.select(
            "doc_id",
            F.size(F.filter(sh(F.col("text")), hit)).alias("n_hits"))

    batch = {r.doc_id: r.n_hits for r in probe(
        spark.createDataFrame(docs, ["doc_id", "text"])).collect()}

    fixture_dir = tmp_path / "in"
    fixture_dir.mkdir()
    for b, chunk in enumerate((docs[:20], docs[20:])):
        _write_fixture_raw(fixture_dir, f"b{b}.json",
                           [{"doc_id": d, "text": t} for d, t in chunk], b)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).json(str(fixture_dir)))
    q = (probe(stream).writeStream.format("memory").queryName("decon_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.doc_id: r.n_hits for r in spark.table("decon_stream").collect()}
    assert got == batch
    # and the probe finds the contamination: the three benchmark docs hit
    assert all(batch[i] > 0 for i in range(3))


def _write_fixture_raw(fixture_dir, name, rows, seq=0):
    import json as _json
    import os
    import time

    path = fixture_dir / name
    path.write_text("\n".join(_json.dumps(r) for r in rows))
    base = time.time() - 1000
    os.utime(path, (base + seq * 10, base + seq * 10))


def test_url_canonical_dedup_streaming_composition(spark, tmp_path):
    """L98 x L25: canonicalize_url is a pure codegen expression, so it
    composes with the watermarked streaming dedup unchanged — two
    spellings of one resource arriving in DIFFERENT micro-batches pass
    exactly one copy (crawl-frontier dedup, the streaming form of
    url_canonical_dedup)."""
    import json as _json

    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import text as llm_text
    from kafka_to_nexus_spark.streaming import stateful

    fixture_dir = tmp_path / "urls"
    fixture_dir.mkdir()
    (fixture_dir / "b1.json").write_text("\n".join(_json.dumps(r) for r in [
        {"ts": 10_000, "url": "https://ex.com/a?utm_source=x"},
        {"ts": 11_000, "url": "https://ex.com/b"},
    ]))
    (fixture_dir / "b2.json").write_text("\n".join(_json.dumps(r) for r in [
        {"ts": 12_000, "url": "HTTPS://EX.COM:443/a#frag"},  # same as b1[0]
        {"ts": 13_000, "url": "https://ex.com/c"},
    ]))
    stream = (
        spark.readStream.schema("ts long, url string")
        .option("maxFilesPerTrigger", 1)
        .json(str(fixture_dir))
        .withColumn("timestamp", F.col("ts") * 1_000_000)
        .withColumn(
            "fingerprint", llm_text.canonicalize_url(F.col("url")))
    )
    out = stateful.dedup_stream(stream, watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("url_dedup_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_url"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r.fingerprint
                 for r in spark.table("url_dedup_stream").collect())
    assert got == [
        "https://ex.com/a", "https://ex.com/b", "https://ex.com/c"], got


def test_span_rewrite_admission_streaming_composition(spark, tmp_path):
    """L99 x streaming: the stored gram bank is static state, so
    arrival micro-batches rewrite via foreachBatch with NO cross-batch
    coupling — each batch's output equals the batch twin's (admission
    is order-independent because batch-local duplicates never mark;
    the pytest drives two batches that SHARE a non-bank gram to prove
    the boundary does not leak)."""
    import json as _json

    from kafka_to_nexus_spark.llm import text as llm_text

    A = " ".join(f"a{j}" for j in range(12))
    Z = " ".join(f"z{j}" for j in range(12))  # shared across batches, NOT in bank

    def u(i, p, n):
        return " ".join(f"{p}{i}w{j}" for j in range(n))

    standing = spark.createDataFrame(
        [(2, f"{u(2,'u',10)} {A} {u(2,'v',10)}"),
         (4, f"{u(4,'u',10)} {A} {u(4,'v',10)}")],
        "doc_id long, text string")
    layout = str(tmp_path / "bank")
    llm_text.write_dupgram_layout(standing, layout, k=8, min_docs=2)

    fixture_dir = tmp_path / "arrivals"
    fixture_dir.mkdir()
    (fixture_dir / "b1.json").write_text(_json.dumps(
        {"doc_id": 1, "text": f"{u(1,'u',10)} {A} {Z} {u(1,'v',10)}"}))
    (fixture_dir / "b2.json").write_text(_json.dumps(
        {"doc_id": 3, "text": f"{u(3,'u',10)} {Z} {u(3,'v',10)}"}))

    results = {}

    def handle(batch_df, batch_id):
        for r in llm_text.span_rewrite_admission(
                spark, layout, batch_df, min_run=10).collect():
            results[r.doc_id] = r

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).json(str(fixture_dir)))
    q = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation", str(tmp_path / "ckpt_span"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # doc 1: bank block A excised; Z (cross-batch dup, not in bank) kept
    assert results[1].n_removed == 12
    assert results[1].kept_text == f"{u(1,'u',10)} {Z} {u(1,'v',10)}"
    # doc 3 in the LATER batch: Z still kept — no cross-batch marking
    assert results[3].n_removed == 0
    assert results[3].kept_text == f"{u(3,'u',10)} {Z} {u(3,'v',10)}"
