"""Writer-module transform tests — goldens from the reference domain tests
(domain-tests/test_writer_modules.py) using the reference's own JSON data
fixture read as data from /root/reference."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import DOMAIN_DATA
from kafka_to_nexus_spark.modules import (
    accepts_repeated_timestamps,
    ad00,
    al00,
    da00,
    ep01,
    ev44,
    f144,
    mdat,
    se00,
    tdct,
)
from kafka_to_nexus_spark.operators import filters
from kafka_to_nexus_spark.runner import Summary
from kafka_to_nexus_spark.sources.fixtures import messages_from_file, messages_from_json

NS = 1_000_000
START, STOP = 10_000 * NS, 15_000 * NS


@pytest.fixture(scope="module")
def writer_modules_df(spark):
    df = messages_from_file(spark, DOMAIN_DATA / "writer_modules_data.json")
    return filters.with_asof_buffer(df, START, STOP).cache()


def pipeline(df, schema, source):
    return filters.source_filter(df, schema, source)


def test_f144_golden(spark, writer_modules_df):
    # golden: value [10, 15], time [10100000000, 10110000000], min 10 max 15 mean 12.5
    src = pipeline(writer_modules_df, "f144", "local:choppers:rotation_speed")
    src = filters.drop_repeated_timestamps(src)
    out = f144.transform(src)["log"]
    rows = sorted(out.collect(), key=lambda r: r.time)
    assert [r.value for r in rows] == [10.0, 15.0]
    assert [r.time for r in rows] == [10_100_000_000, 10_110_000_000]
    agg = Summary(*f144.aggregates(out).collect()[0]).finish("pv")
    assert agg["pv/minimum_value"] == 10.0
    assert agg["pv/maximum_value"] == 15.0
    assert agg["pv/average_value"] == 12.5


def test_f144_dtype_cast(spark):
    df = messages_from_json(spark, [{"schema": "f144", "topic": "t", "source_name": "s",
                                     "timestamp": 10_100, "kafka_timestamp": 10_100, "value": 10.7}])
    out = f144.transform(df, {"dtype": "int32"})["log"].collect()
    assert out[0].value == 10 and isinstance(out[0].value, int)


def test_ep01_golden(spark, writer_modules_df):
    # golden: connection_status [2, 2], times [10101000000, 10111000000]
    src = pipeline(writer_modules_df, "ep01", "local:choppers:rotation_speed")
    out = ep01.transform(src)["status"]
    rows = sorted(out.collect(), key=lambda r: r.connection_status_time)
    assert [r.connection_status for r in rows] == [2, 2]
    assert [r.connection_status_time for r in rows] == [10_101_000_000, 10_111_000_000]


def test_al00_golden(spark, writer_modules_df):
    # golden: severity [1, 0], messages about chopper speed
    src = pipeline(writer_modules_df, "al00", "local:choppers:rotation_speed")
    out = al00.transform(src)["alarms"]
    rows = sorted(out.collect(), key=lambda r: r.alarm_time)
    assert [r.alarm_severity for r in rows] == [1, 0]
    assert rows[0].alarm_message == "Chopper speed is too low"
    assert rows[1].alarm_message == "Chopper speed is perfect"
    assert [r.alarm_time for r in rows] == [10_102_000_000, 10_112_000_000]


def test_al00_empty_message_default(spark):
    df = messages_from_json(spark, [{"schema": "al00", "topic": "t", "source_name": "s",
                                     "timestamp": 10_100, "kafka_timestamp": 10_100,
                                     "severity": "Severity::OK", "message": ""}])
    out = al00.transform(df)["alarms"].collect()
    assert out[0].alarm_message == "NO ALARM MESSAGE"


def test_ep01_al00_unknown_codes_stay_null(spark):
    """A status or severity name outside the schema's code table writes
    null, not a code: only the known names map to numbers."""
    def msg(schema, offset, **payload):
        return {"schema": schema, "topic": "t", "source_name": "s", "offset": offset,
                "timestamp": 10_100 + offset, "kafka_timestamp": 10_100 + offset,
                **payload}

    df = messages_from_json(spark, [
        msg("ep01", 0, connection_status="ConnectionInfo::CONNECTED"),
        msg("ep01", 1, connection_status="ConnectionInfo::HALF_OPEN"),
        msg("al00", 2, severity="Severity::MAJOR", message="m"),
        msg("al00", 3, severity="Severity::CATASTROPHIC", message="m"),
    ])
    status = ep01.transform(df.filter("schema = 'ep01'"))["status"]
    alarms = al00.transform(df.filter("schema = 'al00'"))["alarms"]
    assert [r.connection_status for r in status.orderBy("connection_status_time").collect()] == [2, None]
    assert [r.alarm_severity for r in alarms.orderBy("alarm_time").collect()] == [2, None]
    assert dict(status.dtypes)["connection_status"] == "smallint"
    assert dict(alarms.dtypes)["alarm_severity"] == "smallint"


def test_ev44_explode_and_index(spark):
    rows = [
        {"schema": "ev44", "topic": "t", "source_name": "d", "kafka_timestamp": 11_000,
         "timestamp": 11_000, "message_id": 0, "reference_time": 11_000,
         "time_of_flight": [100, 200, 300], "pixel_ids": [1, 2, 3], "offset": 0},
        {"schema": "ev44", "topic": "t", "source_name": "d", "kafka_timestamp": 12_000,
         "timestamp": 12_000, "message_id": 1, "reference_time": 12_000,
         "time_of_flight": [400, 500], "pixel_ids": [4, 5], "offset": 1},
    ]
    out = ev44.transform(messages_from_json(spark, rows))
    events = sorted(out["events"].collect(), key=lambda r: r._global_index)
    assert [e.event_time_offset for e in events] == [100, 200, 300, 400, 500]
    assert [e.event_id for e in events] == [1, 2, 3, 4, 5]
    pulses = sorted(out["pulses"].collect(), key=lambda r: r.event_time_zero)
    # monotone event_index: 0 then 0+3
    assert [p.event_index for p in pulses] == [0, 3]
    assert [p.event_time_zero for p in pulses] == [11_000_000_000, 12_000_000_000]
    agg = ev44.aggregates(messages_from_json(spark, rows)).collect()[0]
    assert agg.events == 5


def test_ev44_skips_buffered(spark):
    rows = [{"schema": "ev44", "topic": "t", "source_name": "d", "kafka_timestamp": 9_000,
             "timestamp": 9_000, "message_id": 0, "reference_time": 9_000,
             "time_of_flight": [1], "pixel_ids": [1], "offset": 0}]
    df = filters.with_asof_buffer(messages_from_json(spark, rows), START, STOP)
    out = ev44.transform(df)
    assert out["events"].count() == 0  # ev44 pre-start NOT written


def test_accepts_repeated_flags():
    assert accepts_repeated_timestamps("ev44") is True
    assert accepts_repeated_timestamps("f144") is False


def test_se00_explicit_timestamps(spark):
    rows = [{"schema": "se00", "topic": "t", "source_name": "s", "kafka_timestamp": 11_000,
             "timestamp": 11_000, "packet_timestamp": 11_000_000_000, "time_delta": 0.0,
             "timestamps": [11_000_000_000, 11_000_000_100], "values": [1.5, 2.5], "offset": 0}]
    out = se00.transform(messages_from_json(spark, rows))["log"].collect()
    assert [(r.time, r.value) for r in sorted(out, key=lambda r: r.time)] == [
        (11_000_000_000, 1.5), (11_000_000_100, 2.5)]


def test_se00_synthesized_timestamps(spark):
    # t_i = packet_ts + round(i * time_delta)  (se00_Writer.cpp:82-90)
    rows = [{"schema": "se00", "topic": "t", "source_name": "s", "kafka_timestamp": 11_000,
             "timestamp": 11_000, "packet_timestamp": 1_000, "time_delta": 2.5,
             "timestamps": None, "values": [1.0, 2.0, 3.0], "offset": 0}]
    out = se00.transform(messages_from_json(spark, rows))["log"].collect()
    times = [r.time for r in sorted(out, key=lambda r: r.value)]
    assert times == [1_000, 1_003, 1_005]  # round(2.5)=3 (half-up), round(5.0)=5


def test_se00_cue(spark):
    rows = [
        {"schema": "se00", "topic": "t", "source_name": "s", "kafka_timestamp": 11_000,
         "timestamp": 11_000, "packet_timestamp": 100, "time_delta": 1.0,
         "values": [1.0, 2.0, 3.0], "offset": 0},
        {"schema": "se00", "topic": "t", "source_name": "s", "kafka_timestamp": 12_000,
         "timestamp": 12_000, "packet_timestamp": 200, "time_delta": 1.0,
         "values": [4.0], "offset": 1},
    ]
    cues = sorted(se00.cue(messages_from_json(spark, rows)).collect(), key=lambda r: r.cue_index)
    assert [(c.cue_index, c.cue_timestamp_zero) for c in cues] == [(0, 100), (3, 200)]


def test_ad00_frames(spark):
    rows = [{"schema": "ad00", "topic": "t", "source_name": "cam", "kafka_timestamp": 11_000,
             "timestamp": 11_000, "data": [[1, 2, 3], [4, 5, 6]], "offset": 0}]
    out = ad00.transform(messages_from_json(spark, rows), {"dtype": "uint16"})["frames"].collect()
    assert out[0].shape == [2, 3]
    assert out[0].data == [1, 2, 3, 4, 5, 6]
    assert out[0].time == 11_000_000_000


def test_ad00_max_shape(spark):
    rows = [
        {"schema": "ad00", "topic": "t", "source_name": "cam", "kafka_timestamp": 11_000,
         "timestamp": 11_000, "data": [[1, 2], [3, 4]], "offset": 0},
        {"schema": "ad00", "topic": "t", "source_name": "cam", "kafka_timestamp": 12_000,
         "timestamp": 12_000, "data": [[1, 2, 3]], "offset": 1},
    ]
    shapes = {r.dim: r.max_extent for r in ad00.max_shape(messages_from_json(spark, rows)).collect()}
    assert shapes == {0: 2, 1: 3}


def test_tdct_explode_and_reject_empty(spark):
    rows = [
        {"schema": "tdct", "topic": "t", "source_name": "c", "kafka_timestamp": 11_000,
         "timestamp": 11_000, "timestamps": [5, 6, 7], "offset": 0},
        {"schema": "tdct", "topic": "t", "source_name": "c", "kafka_timestamp": 12_000,
         "timestamp": 12_000, "timestamps": [], "offset": 1},
    ]
    out = tdct.transform(messages_from_json(spark, rows))["tdc"].collect()
    assert sorted(r.time for r in out) == [5, 6, 7]


def test_da00_fixture_form(spark):
    rows = [{"schema": "da00", "topic": "t", "source_name": "h", "kafka_timestamp": 11_000,
             "timestamp": 11_000, "name": "histogram", "axis_name": "x",
             "data": [1, 2, 3], "offset": 0}]
    out = da00.transform(messages_from_json(spark, rows))["frames"].collect()
    assert out[0].variable == "histogram" and out[0].data == [1.0, 2.0, 3.0]


def test_da00_config_refinement():
    cfg = da00.VariableConfig.from_json({"name": "v", "unit": "m"})
    observed = da00.VariableConfig.from_json(
        {"name": "v", "unit": "mm", "data_type": "int32", "shape": [10]})
    warnings = cfg.refine_from(observed)
    assert cfg.data_type == "int32" and cfg.shape == [10]  # unset fields filled
    assert any("unit" in w for w in warnings)  # mismatch reported, not overwritten
    assert cfg.unit == "m"


def test_da00_refinement_records_changed_fields():
    cfg = da00.VariableConfig.from_json({"name": "v", "unit": "m"})
    cfg.refine_from(da00.VariableConfig(name="v", data_type="int32", shape=[10]))
    # the reference's "changed" signal (drives its dataset update)
    assert cfg.refined_fields == ["data_type", "shape"]


def test_da00_constant_data_consistency_warns_keeps_configured(spark, caplog):
    """da00_Writer.cpp:101-107: a configured constant whose data disagrees
    with the first message warns and keeps the configured value."""
    import logging

    rows = [{
        "schema": "da00", "topic": "t", "source_name": "h", "partition": 0,
        "kafka_timestamp": 11_000, "timestamp": 11_000, "offset": 0,
        "variables": [
            {"name": "edges", "unit": "mm", "axes": ["x"], "shape": [3],
             "data": [9.0, 9.5, 10.0]},
        ],
    }]
    df = messages_from_json(spark, rows)
    config = {"constants": [{"name": "edges", "data": [1.0, 2.0, 3.0]}]}
    with caplog.at_level(logging.INFO, logger="kafka_to_nexus_spark.modules.da00"):
        out = da00.statics(df, config, check_consistency=True)
    assert out["edges"] == [1.0, 2.0, 3.0]  # configured wins
    assert any("not consistent" in r.message for r in caplog.records)
    # default (auto) mode skips the scan when everything is configured
    assert da00.statics(df, config) == {"edges": [1.0, 2.0, 3.0]}


def test_da00_edge_linspace():
    assert da00.expand_edge([1.0, 2.0, 3.0]) == [1.0, 2.0, 3.0]
    assert da00.expand_edge({"first": 0, "last": 10, "size": 5}) == [0.0, 2.5, 5.0, 7.5, 10.0]


def test_mdat_values():
    out = mdat.values({"items": ["start_time", "end_time", "bogus"]}, 10_000, 15_000)
    assert out == {"start_time": "1970-01-01T00:00:10.000Z", "end_time": "1970-01-01T00:00:15.000Z"}
    out2 = mdat.values({"items": ["start_time", "end_time"]}, 10_000, None)
    assert "end_time" not in out2


def test_ev44_cue_matches_reference_recurrence(spark):
    """ev44_Writer.cpp:127-134: cue emitted when EventsWritten passes
    LastCueIndex (init -1) + CueInterval; cue_index = EventsWritten-1,
    cue_timestamp_zero = last reference_time + last time_of_flight."""
    import random

    rng = random.Random(42)
    rows, counts = [], []
    for i in range(40):
        n = rng.choice([0, 1, 2, 3, 5, 8])
        counts.append(n)
        rows.append({
            "schema": "ev44", "topic": "t", "source_name": "d",
            "kafka_timestamp": 10_000 + i, "timestamp": 10_000 + i,
            "message_id": i, "reference_time": 10_000 + i,
            "time_of_flight": list(range(100, 100 + n)),
            "pixel_ids": list(range(n)), "offset": i,
        })
    interval = 7
    got = [
        (r.cue_index, r.cue_timestamp_zero)
        for r in ev44.cue(
            messages_from_json(spark, rows), {"cue_interval": interval}
        ).orderBy("cue_index").collect()
    ]
    # straight single-writer simulation
    want, written, last = [], 0, -1
    for i, n in enumerate(counts):
        if n == 0:
            continue
        written += n
        if written > last + interval:
            ts = (10_000 + i) * 1_000_000 + (100 + n - 1)
            want.append((written - 1, ts))
            last = written - 1
    assert got == want and len(want) >= 3


def test_ev44_cue_blocked_matches_single_group_property(spark):
    """Chunked-carry property (VERDICT r3 #7): the blocked recurrence —
    bounded summary blocks with LastCueIndex carried between them — must
    emit exactly what the single applyInPandas group emits, for randomized
    multi-partition summaries, intervals, block sizes, and carried state."""
    import random

    for seed in range(6):
        rng = random.Random(seed)
        rows = []
        off = {0: 0, 1: 0}
        for i in range(rng.randint(10, 60)):
            part = rng.choice([0, 1])
            n = rng.choice([0, 1, 2, 3, 5, 8, 13])
            rows.append({
                "schema": "ev44", "topic": "t", "source_name": "d",
                "kafka_timestamp": 10_000 + i, "timestamp": 10_000 + i,
                "message_id": i, "reference_time": 10_000 + i,
                "time_of_flight": list(range(100, 100 + n)),
                "pixel_ids": list(range(n)),
                "offset": off[part], "partition": part,
            })
            off[part] += 1
        cfg = {"cue_interval": rng.choice([1, 3, 7, 11])}
        events_base = rng.choice([0, 5, 100])
        last_cue = rng.choice([-1, 2, 50])
        block_size = rng.choice([1, 2, 3, 7])
        df = messages_from_json(spark, rows)
        single = [
            (r.cue_index, r.cue_timestamp_zero)
            for r in ev44.cue(df, cfg, events_base, last_cue)
            .orderBy("cue_index").collect()
        ]
        blocked = [
            (r.cue_index, r.cue_timestamp_zero)
            for r in ev44.cue_blocked(
                df, cfg, events_base, last_cue, block_size=block_size
            ).orderBy("cue_index").collect()
        ]
        assert blocked == single, f"seed={seed}"
        assert single or events_base <= last_cue + cfg["cue_interval"]


def test_ev44_transform_emits_cue_when_configured(spark):
    rows = [
        {"schema": "ev44", "topic": "t", "source_name": "d",
         "kafka_timestamp": 10_000 + i, "timestamp": 10_000 + i,
         "message_id": i, "reference_time": 10_000 + i,
         "time_of_flight": [1, 2, 3], "pixel_ids": [1, 2, 3], "offset": i}
        for i in range(4)
    ]
    out = ev44.transform(messages_from_json(spark, rows), {"cue_interval": 5})
    assert "cue" in out
    cues = out["cue"].orderBy("cue_index").collect()
    # events_after: 3,6,9,12 → cues at 6-1=5 and 12-1=11
    assert [c.cue_index for c in cues] == [5, 11]


def test_example_noop_writer_module(spark, tmp_path):
    """W10: the reference ships its module-author skeleton as a REAL
    registered writer under id "test" (TemplateWriter.cpp:17-18) that
    accepts messages and writes nothing. A plan binding {"module":
    "test"} must run end-to-end with no datasets staged."""
    import json as _json

    from kafka_to_nexus_spark.modules import get_module
    from kafka_to_nexus_spark.plan import StartMessage
    from kafka_to_nexus_spark.runner import run_job
    from kafka_to_nexus_spark.sinks import staging
    from kafka_to_nexus_spark.sources.fixtures import messages_from_json

    assert get_module("test").transform(None, {}) == {}
    tpl = {"children": [{
        "name": "entry", "type": "group",
        "children": [{"module": "test",
                      "config": {"topic": "t", "source": "s"}}],
    }]}
    start = StartMessage(job_id="noop", filename="f", nexus_structure=tpl,
                         start_time_ms=10_000, stop_time_ms=15_000)
    rows = [{"schema": "f144", "topic": "t", "source_name": "s",
             "timestamp": 11_000, "kafka_timestamp": 11_000, "value": 1.0,
             "offset": 0}]
    out = tmp_path / "staged"
    res = run_job(spark, start, messages_from_json(spark, rows), str(out))
    meta = _json.loads((out / "_nexus_meta.json").read_text())
    s = [x for x in meta["streams"] if x["module"] == "test"][0]
    assert s["datasets"] == []
