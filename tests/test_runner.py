"""End-to-end batch-runner tests — Spark equivalent of the reference domain
tests (domain-tests/test_*.py), asserting against the staged parquet output
instead of HDF5 (h5py unavailable; sinks.hdf5 packs the same staging)."""

from __future__ import annotations

import json

import pytest

from conftest import DOMAIN_DATA, DOMAIN_TEMPLATES, count_py4j
from kafka_to_nexus_spark.plan import StartMessage
from kafka_to_nexus_spark.runner import run_job
from kafka_to_nexus_spark.sinks import staging
from kafka_to_nexus_spark.sources.fixtures import messages_from_file


def run(spark, tmp_path, template, data, start_ms=10_000, stop_ms=15_000):
    structure = json.loads((DOMAIN_TEMPLATES / template).read_text())
    messages = messages_from_file(spark, DOMAIN_DATA / data)
    job = StartMessage(
        job_id="test-job",
        filename="out",
        nexus_structure=structure,
        start_time_ms=start_ms,
        stop_time_ms=stop_ms,
    )
    out_dir = str(tmp_path / "staged")
    return run_job(spark, job, messages, out_dir)


def read_col(spark, out_dir, group, dataset, col, order_col=None):
    df = spark.read.parquet(str(staging.dataset_dir(out_dir, group, dataset)))
    rows = df.orderBy(order_col or col).collect()
    return [getattr(r, col) for r in rows]


@pytest.fixture(scope="module")
def writer_modules_result(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("writer_modules")
    return run(spark, tmp, "writer_modules_template.json", "writer_modules_data.json")


def test_f144_staged_golden(spark, writer_modules_result):
    out = writer_modules_result.out_dir
    g = "/entry/instrument/chopper/rotation_speed"
    assert read_col(spark, out, g, "log", "value", "time") == [10.0, 15.0]
    assert read_col(spark, out, g, "log", "time") == [10_100_000_000, 10_110_000_000]
    # T6 aggregates published as metadata values
    mv = writer_modules_result.metadata_values
    assert mv[f"{g}/minimum_value"] == 10.0
    assert mv[f"{g}/maximum_value"] == 15.0
    assert mv[f"{g}/average_value"] == 12.5


def test_ep01_al00_extra_modules_staged(spark, writer_modules_result):
    out = writer_modules_result.out_dir
    g = "/entry/instrument/chopper/rotation_speed"
    assert read_col(spark, out, g, "status", "connection_status", "connection_status_time") == [2, 2]
    assert read_col(spark, out, g, "alarms", "alarm_severity", "alarm_time") == [1, 0]


def test_ev44_staged(spark, writer_modules_result):
    out = writer_modules_result.out_dir
    g = "/entry/instrument/event_detector/events"
    zeros = read_col(spark, out, g, "pulses", "event_time_zero")
    assert all(10_000_000_000 <= z <= 15_000_000_000 for z in zeros)
    idx = read_col(spark, out, g, "pulses", "event_index", "event_time_zero")
    assert idx == sorted(idx)  # monotone cumulative index


def test_mdat_values(writer_modules_result):
    mv = writer_modules_result.metadata_values
    assert mv["/entry/start_time"] == "1970-01-01T00:00:10.000Z"
    assert mv["/entry/end_time"] == "1970-01-01T00:00:15.000Z"


def test_meta_file_structure(writer_modules_result):
    meta = staging.read_meta(writer_modules_result.out_dir)
    assert "/entry" in meta["groups"]
    assert any(d["path"] == "/entry/title" for d in meta["static_datasets"])
    assert meta["job"]["job_id"] == "test-job"
    assert "metrics" not in meta  # metrics live on the result, not the file
    assert writer_modules_result.metrics["messages_received"] > 0
    assert writer_modules_result.metrics["flatbuffer_errors"] == 0


def test_before_and_after_semantics(spark, tmp_path):
    # domain-tests/test_messages_before_and_after.py:17-37
    res = run(
        spark, tmp_path, "messages_before_and_after_template.json",
        "messages_before_and_after_data.json",
    )
    g = "/entry/instrument/chopper/delay"
    values = read_col(spark, res.out_dir, g, "log", "value", "time")
    times = read_col(spark, res.out_dir, g, "log", "time")
    # last f144 before start written (5 @ 9999ms), earlier ignored
    assert values[0] == 5.0 and times[0] == 9_999_000_000
    # after stop not written: last is 16 @ 15000ms
    assert values[-1] == 16.0 and times[-1] == 15_000_000_000
    # ev44 pre-start NOT written; post-stop dropped
    zeros = read_col(spark, res.out_dir, "/entry/instrument/event_detector/events",
                     "pulses", "event_time_zero")
    assert zeros[0] == 10_000_000_000 and zeros[-1] == 15_000_000_000


def test_buffered_semantics(spark, tmp_path):
    # domain-tests/test_buffered.py:17 — pre-start value written even when
    # nothing arrives inside the window
    res = run(spark, tmp_path, "buffered_template.json", "buffered_data.json")
    g = "/entry/instrument/chopper/delay"
    values = read_col(spark, res.out_dir, g, "log", "value", "time")
    times = read_col(spark, res.out_dir, g, "log", "time")
    assert values[0] == 3.0 and times[0] == 9_000_000_000


def test_repeated_messages_skipped(spark, tmp_path):
    # domain-tests/test_repeated_messages.py:18
    res = run(spark, tmp_path, "repeated_messages_template.json",
              "repeated_messages_data.json")
    g = "/entry/instrument/chopper/delay"
    assert read_col(spark, res.out_dir, g, "log", "value", "time") == [10.0, 12.0, 15.0]
    assert read_col(spark, res.out_dir, g, "log", "time") == [
        10_100_000_000, 10_150_000_000, 10_200_000_000]


def test_static_information(spark, tmp_path):
    # domain-tests/test_static_information.py:18-32 — statics + links land in meta
    res = run(spark, tmp_path, "static_information_template.json",
              "static_information_data.json")
    meta = staging.read_meta(res.out_dir)
    assert meta["static_datasets"], "static datasets present"
    assert meta["links"], "links present"
    for link in meta["links"]:
        assert link["path"] and link["target"]


def test_ad00_staged_golden(spark, writer_modules_result):
    # domain-tests/test_writer_modules.py:112-127 — two 2×2 frames
    out = writer_modules_result.out_dir
    g = "/entry/instrument/image_detector/data"
    df = spark.read.parquet(str(staging.dataset_dir(out, g, "frames")))
    rows = df.orderBy("time").collect()
    assert [r.time for r in rows] == [10_300_000_000, 10_310_000_000]
    assert [r.shape for r in rows] == [[2, 2], [2, 2]]
    assert [r.data for r in rows] == [
        [10.0, 11.0, 12.0, 13.0],
        [13.0, 12.0, 11.0, 10.0],
    ]


def test_da00_staged_golden(spark, writer_modules_result):
    # domain-tests/test_writer_modules.py:138-160 — signal variable frames
    out = writer_modules_result.out_dir
    g = "/entry/instrument/beam_monitor"
    df = spark.read.parquet(str(staging.dataset_dir(out, g, "frames")))
    # template declares the signal variable → multi-var pivoted staging
    rows = df.orderBy("time").collect()
    assert [r.time for r in rows] == [10_500_000_000, 10_600_000_000]
    assert [r.data_signal for r in rows] == [
        [1.0, 2.0, 3.0, 4.0, 3.0, 2.0, 1.0],
        [4.0, 3.0, 2.0, 1.0, 2.0, 3.0, 4.0],
    ]


def test_unknown_module_rejected_at_plan_time(spark, tmp_path):
    # reference: JobCreator throws before any writing starts → answ rejected
    structure = {
        "children": [{
            "type": "group", "name": "entry",
            "children": [{"module": "zz99", "config": {"topic": "t", "source": "s"}}],
        }]
    }
    job = StartMessage(job_id="bad", filename="f", nexus_structure=structure,
                       start_time_ms=0, stop_time_ms=1)
    from kafka_to_nexus_spark.sources.fixtures import messages_from_json
    with pytest.raises(ValueError, match="zz99"):
        run_job(spark, job, messages_from_json(spark, []), str(tmp_path / "o"))


def test_error_taxonomy_counters(spark, tmp_path):
    """C6: one fixture per error class → per-type counters + size gauge."""
    from kafka_to_nexus_spark.sources.fixtures import messages_from_json

    tpl = {
        "children": [{
            "type": "group", "name": "entry",
            "children": [{
                "name": "g", "type": "group", "attributes": [],
                "children": [{"module": "f144",
                              "config": {"topic": "t", "source": "s"}}],
            }],
        }]
    }
    msgs = [
        {"schema": "f144", "topic": "t", "source_name": "s",
         "kafka_timestamp": 11_000, "timestamp": 11_000, "value": 1.0, "offset": 0},
        {"schema": "zz99", "topic": "t", "source_name": "s",
         "kafka_timestamp": 11_001, "timestamp": 11_001, "offset": 1},
        {"schema": "f144", "topic": "t", "source_name": "",
         "kafka_timestamp": 11_002, "timestamp": 11_002, "value": 2.0, "offset": 2},
        {"schema": "f144", "topic": "t", "source_name": "s",
         "kafka_timestamp": 11_003, "timestamp": 0, "value": 3.0, "offset": 3},
    ]
    start = StartMessage(job_id="m", filename="f", nexus_structure=tpl,
                         start_time_ms=10_000, stop_time_ms=15_000)
    res = run_job(spark, start, messages_from_json(spark, msgs), str(tmp_path / "o"))
    assert res.metrics["messages_received"] == 4
    assert res.metrics["flatbuffer_errors"] == 3
    assert res.metrics["unknown_schema"] == 1
    assert res.metrics["not_valid_flatbuffer"] == 1
    assert res.metrics["invalid_timestamp"] == 1
    assert res.metrics["approx_file_size_mb"] >= 0


def test_grouped_same_module_sources_match_per_source_semantics(spark, tmp_path):
    """The 1000-source fast path: same-config f144 bindings run as ONE
    partitioned write + one grouped aggregate. Each source's staged log and
    job-summary aggregates must be exactly what the per-source path would
    produce (content, per-source isolation, time order, empty sources)."""
    from kafka_to_nexus_spark.sources.fixtures import messages_from_json

    n_src = 5
    rows = []
    for m in range(20):
        src = f"pv_{m % 4}"  # pv_4 stays empty
        rows.append({
            "schema": "f144", "topic": "t", "source_name": src,
            "kafka_timestamp": 10_000 + m * 100, "offset": m,
            "value": float(m),
        })
    structure = {
        "children": [{
            "type": "group", "name": "entry",
            "children": [
                {
                    "type": "group", "name": f"pv_{i}",
                    "children": [{
                        "module": "f144",
                        "config": {"topic": "t", "source": f"pv_{i}",
                                   "dtype": "double"},
                    }],
                }
                for i in range(n_src)
            ],
        }]
    }
    start = StartMessage(job_id="grp", filename="g", nexus_structure=structure,
                         start_time_ms=10_000, stop_time_ms=15_000)
    out = tmp_path / "staged"
    res = run_job(spark, start, messages_from_json(spark, rows), str(out))

    for i in range(n_src):
        df = spark.read.parquet(
            str(staging.dataset_dir(out, f"entry/pv_{i}", "log"))
        ).orderBy("time")
        got = [(r["time"], r["value"]) for r in df.collect()]
        expect = sorted(
            ((10_000 + m * 100) * 1_000_000, float(m))
            for m in range(20) if m % 4 == i
        )
        assert got == expect, f"pv_{i}"
        assert "__source" not in df.columns
    # grouped aggregates land per source, exactly as per-source aggs would
    for i in range(4):
        vals = [float(m) for m in range(20) if m % 4 == i]
        assert res.metadata_values[f"/entry/pv_{i}/minimum_value"] == min(vals)
        assert res.metadata_values[f"/entry/pv_{i}/maximum_value"] == max(vals)
        assert res.metadata_values[f"/entry/pv_{i}/average_value"] == sum(vals) / len(vals)
    # the empty source has a schema-complete empty dataset and the same
    # null-valued aggregate row the per-binding global aggregate emits
    assert res.metadata_values["/entry/pv_4/minimum_value"] is None
    assert res.metadata_values["/entry/pv_4/maximum_value"] is None
    assert res.metadata_values["/entry/pv_4/average_value"] is None


def test_duplicate_source_bindings_each_get_full_data(spark, tmp_path):
    """One PV bound into two different groups (same module, same source,
    two paths) is a legal plan: both datasets must receive the full stream.
    The grouped write keys renames/aggregates by source name, so each
    binding of a duplicated source must run in a source group of its own —
    a collapsed duplicate would leave one path's dataset silently empty."""
    from kafka_to_nexus_spark.modules import group_streams
    from kafka_to_nexus_spark.sources.fixtures import messages_from_json

    rows = [
        {"schema": "f144", "topic": "t", "source_name": "pv_a",
         "kafka_timestamp": 10_000 + m * 100, "offset": m, "value": float(m)}
        for m in range(6)
    ] + [
        {"schema": "f144", "topic": "t", "source_name": "pv_b",
         "kafka_timestamp": 10_000 + m * 100, "offset": 10 + m,
         "value": float(100 + m)}
        for m in range(6)
    ]
    structure = {"children": [{
        "type": "group", "name": "entry",
        "children": [
            {"type": "group", "name": name,
             "children": [{"module": "f144",
                           "config": {"topic": "t", "source": src}}]}
            for name, src in (("first", "pv_a"), ("second", "pv_a"),
                              ("other", "pv_b"), ("other2", "pv_b"),
                              ("solo", "pv_b"))
        ],
    }]}
    start = StartMessage(job_id="dup", filename="d", nexus_structure=structure,
                         start_time_ms=10_000, stop_time_ms=15_000)
    out = tmp_path / "staged"
    res = run_job(spark, start, messages_from_json(spark, rows), str(out))

    expect_a = [((10_000 + m * 100) * 1_000_000, float(m)) for m in range(6)]
    expect_b = [((10_000 + m * 100) * 1_000_000, float(100 + m)) for m in range(6)]
    for name, expect in (("first", expect_a), ("second", expect_a),
                         ("other", expect_b), ("other2", expect_b),
                         ("solo", expect_b)):
        df = spark.read.parquet(
            str(staging.dataset_dir(out, f"entry/{name}", "log"))
        ).orderBy("time")
        got = [(r["time"], r["value"]) for r in df.collect()]
        assert got == expect, name
        # every duplicated binding carries its own T6 aggregates
        assert res.metadata_values[f"/entry/{name}/minimum_value"] == expect[0][1]

    # unit check: group_streams refuses to group duplicated sources
    class B:
        def __init__(self, module, source, path):
            self.module, self.source, self.path = module, source, path
            self.config = {"topic": "t", "source": source}

    streams = [B("f144", "s1", "p1"), B("f144", "s1", "p2"),
               B("f144", "s2", "p3"), B("f144", "s3", "p4")]
    groups = group_streams(streams)
    group_of = {b.path: i for i, g in enumerate(groups) for b in g}
    assert sorted(group_of) == ["p1", "p2", "p3", "p4"]
    assert group_of["p1"] != group_of["p2"]
    # the non-duplicated sources still group together, and only they do
    assert {b.path for b in groups[group_of["p3"]]} == {"p3", "p4"}


@pytest.mark.parametrize("modules_mix", [
    ["f144"], ["f144", "al00"], ["ep01", "f144", "se00"], ["ev44", "f144"],
])
def test_grouped_path_equivalent_to_per_source(spark, tmp_path, modules_mix, monkeypatch):
    """Equivalence guard for the 1000-source fast path: for mixed
    multi-source jobs, shared source groups and one group per binding
    must produce identical staged datasets (row multisets per stream) and
    identical job metadata."""
    import kafka_to_nexus_spark.modules as M
    import kafka_to_nexus_spark.runner as R
    from kafka_to_nexus_spark.sources.fixtures import messages_from_json

    n_src = 3
    rows = []
    m = 0
    for mod in modules_mix:
        for k in range(12):
            src = f"{mod}_src_{k % n_src}"
            base = {
                "schema": mod, "topic": "t", "source_name": src,
                "kafka_timestamp": 10_000 + m * 37, "offset": m,
            }
            if mod == "f144":
                base["value"] = float(m)
            elif mod == "al00":
                base.update(severity=["OK", "MINOR", "MAJOR"][m % 3],
                            message=f"msg{m}" if m % 2 else "")
            elif mod == "ep01":
                base["connection_status"] = ["CONNECTED", "DISCONNECTED"][m % 2]
            elif mod == "se00":
                base.update(values=[float(m), float(m + 1)],
                            packet_timestamp=(10_000 + m * 37) * 1_000_000,
                            time_delta=1000.0)
            elif mod == "ev44":
                base.update(partition=k % 2, time_of_flight=list(range(m % 4)),
                            pixel_ids=[m * 10 + j for j in range(m % 4)])
            rows.append(base)
            m += 1
    children = [
        {
            "type": "group", "name": f"{mod}_{i}",
            "children": [{"module": mod,
                          "config": {"topic": "t", "source": f"{mod}_src_{i}"}}],
        }
        for mod in modules_mix for i in range(n_src)
    ]
    structure = {"children": [{"type": "group", "name": "entry",
                               "children": children}]}

    def run_with(path_name, force_per_source):
        if force_per_source:
            monkeypatch.setattr(M, "group_streams",
                                lambda streams: [[b] for b in streams])
            monkeypatch.setattr(R, "group_streams", M.group_streams)
        else:
            monkeypatch.undo()
        start = StartMessage(job_id=path_name, filename=path_name,
                             nexus_structure=structure,
                             start_time_ms=10_000, stop_time_ms=15_000)
        out = tmp_path / path_name
        res = run_job(spark, start, messages_from_json(spark, rows), str(out))
        staged = {}
        for mod in modules_mix:
            for i in range(n_src):
                group = f"entry/{mod}_{i}"
                ds_root = (out / "data" / staging.escape_path(group))
                for ds_dir in sorted(p for p in ds_root.iterdir() if p.is_dir()):
                    df = spark.read.parquet(str(ds_dir))
                    key = (group, ds_dir.name)
                    staged[key] = sorted(
                        tuple(r) for r in df.select(sorted(df.columns)).collect()
                    )
        return staged, dict(res.metadata_values)

    grouped_data, grouped_meta = run_with("grouped", force_per_source=False)
    plain_data, plain_meta = run_with("plain", force_per_source=True)
    assert grouped_data.keys() == plain_data.keys()
    for key in grouped_data:
        assert grouped_data[key] == plain_data[key], key
    assert grouped_meta == plain_meta


def test_meta_data_false_suppresses_summary(spark, tmp_path):
    """f144's "meta_data": false suppresses the minimum/maximum/average
    job-summary values (f144_Writer.cpp:264,282); the default (true)
    keeps them — covered across the grouped/per-binding split, since the
    differing configs land the two bindings in different shapes."""
    from kafka_to_nexus_spark.sources.fixtures import messages_from_json

    def f144_stream(name, source, **extra):
        return {
            "name": name, "type": "group",
            "children": [{"module": "f144",
                          "config": {"topic": "t", "source": source,
                                     "dtype": "double", **extra}}],
        }

    structure = {"children": [{
        "name": "entry", "type": "group",
        "children": [
            f144_stream("quiet", "pv:quiet", meta_data=False),
            f144_stream("loud", "pv:loud"),
        ],
    }]}
    msgs = [
        {"schema": "f144", "topic": "t", "source_name": src,
         "kafka_timestamp": ts, "timestamp": ts, "value": v, "offset": i}
        for i, (src, ts, v) in enumerate([
            ("pv:quiet", 11_000, 1.0), ("pv:quiet", 12_000, 3.0),
            ("pv:loud", 11_500, 5.0), ("pv:loud", 12_500, 7.0),
        ])
    ]
    start = StartMessage(job_id="md-false", filename="f",
                         nexus_structure=structure,
                         start_time_ms=10_000, stop_time_ms=15_000)
    result = run_job(spark, start, messages_from_json(spark, msgs),
                     str(tmp_path / "staged"))
    mv = result.metadata_values
    assert "/entry/loud/minimum_value" in mv and mv["/entry/loud/average_value"] == 6.0
    assert not any(k.startswith("/entry/quiet/") for k in mv), mv
    # data itself still staged for the suppressed stream
    assert read_col(spark, result.out_dir, "/entry/quiet", "log", "value", "time") == [1.0, 3.0]


def test_meta_data_false_streaming_finalize(spark, tmp_path):
    """The streaming finalize honors the same flag."""
    from kafka_to_nexus_spark.sources.fixtures import messages_from_json
    from kafka_to_nexus_spark.streaming.job import StreamingJob

    structure = {"children": [{
        "name": "entry", "type": "group",
        "children": [{
            "name": "quiet", "type": "group",
            "children": [{"module": "f144",
                          "config": {"topic": "t", "source": "pv:q",
                                     "dtype": "double", "meta_data": False}}],
        }],
    }]}
    start = StartMessage(job_id="md-false-stream", filename="f",
                         nexus_structure=structure,
                         start_time_ms=10_000, stop_time_ms=15_000)
    job = StreamingJob(spark, start, str(tmp_path / "out"))
    job.process_batch(messages_from_json(spark, [
        {"schema": "f144", "topic": "t", "source_name": "pv:q",
         "kafka_timestamp": 11_000, "timestamp": 11_000, "value": 2.0,
         "offset": 0}]), 0)
    job.finalize()
    meta = staging.read_meta(job.out_dir)
    assert not any("minimum_value" in k for k in meta["metadata_values"]), meta[
        "metadata_values"]


def test_f144_array_pv_staged_and_aggregated(spark, tmp_path):
    """Array f144 PVs (config array_size > 1, f144_Writer.h:81): each
    message's array lands as one row of the {rows, array_size} value
    dataset, and the T6 min/max/mean run over every element written
    (f144_Writer.cpp:265-276)."""
    from kafka_to_nexus_spark.sinks import hdf5, hdf5lib
    from kafka_to_nexus_spark.sources.fixtures import messages_from_json

    structure = {"children": [{
        "name": "entry", "type": "group",
        "children": [{
            "name": "wave", "type": "group",
            "children": [{"module": "f144",
                          "config": {"topic": "t", "source": "pv:wave",
                                     "dtype": "double", "array_size": 3}}],
        }],
    }]}
    msgs = [
        {"schema": "f144", "topic": "t", "source_name": "pv:wave",
         "kafka_timestamp": ts, "timestamp": ts, "values": vals, "offset": i}
        for i, (ts, vals) in enumerate([
            (11_000, [1.0, 2.0, 3.0]), (12_000, [4.0, 5.0, 9.0]),
        ])
    ]
    start = StartMessage(job_id="arr-f144", filename="f",
                         nexus_structure=structure,
                         start_time_ms=10_000, stop_time_ms=15_000)
    result = run_job(spark, start, messages_from_json(spark, msgs),
                     str(tmp_path / "staged"))
    rows = spark.read.parquet(
        str(staging.dataset_dir(result.out_dir, "/entry/wave", "log"))
    ).orderBy("time").collect()
    assert [list(r.value) for r in rows] == [[1.0, 2.0, 3.0], [4.0, 5.0, 9.0]]
    mv = result.metadata_values
    assert mv["/entry/wave/minimum_value"] == 1.0
    assert mv["/entry/wave/maximum_value"] == 9.0
    assert mv["/entry/wave/average_value"] == 4.0
    # pack stacks per-row arrays into a 2-D dataset
    hdf = tmp_path / "arr.nxs"
    hdf5.pack(result.out_dir, str(hdf))
    with hdf5lib.File(str(hdf), "r") as f:
        arr = f["/entry/wave/value"][:]
        assert arr.shape == (2, 3) and arr[1][2] == 9.0


def test_grouped_path_packs_monotone_time_across_partitions(spark, tmp_path):
    """A grouped source whose messages interleave across Kafka partitions
    must stage a per-source time-ordered log like the per-binding path
    (repartition-by-source before the sorted grouped write): without it,
    part files concatenate in task order and the packed time axis is not
    monotone."""
    import pyarrow.parquet as pq

    from kafka_to_nexus_spark.sources.fixtures import messages_from_json

    tpl = {"children": [{
        "name": "entry", "type": "group",
        "children": [
            {"name": f"g{i}", "type": "group",
             "children": [{"module": "f144",
                           "config": {"topic": "t", "source": f"s{i}",
                                      "dtype": "double",
                                      "enable_alarm_info": False,
                                      "enable_epics_con_info": False}}]}
            for i in range(2)
        ],
    }]}
    rows = []
    off = {0: 0, 1: 0}
    for ms in range(11_000, 14_000, 100):  # interleave partitions by time
        p = (ms // 100) % 2
        for i in range(2):
            rows.append({"schema": "f144", "topic": "t",
                         "source_name": f"s{i}", "timestamp": ms + i,
                         "kafka_timestamp": ms, "value": float(ms),
                         "partition": p, "offset": off[p]})
            off[p] += 1
    start = StartMessage(job_id="ord", filename="f", nexus_structure=tpl,
                         start_time_ms=10_000, stop_time_ms=15_000)
    out = tmp_path / "staged"
    run_job(spark, start, messages_from_json(spark, rows), str(out))
    for i in range(2):
        from kafka_to_nexus_spark.sinks import staging as stg

        t = pq.read_table(stg.dataset_dir(out, f"/entry/g{i}", "log"))
        times = t.column("time").to_pylist()
        assert times == sorted(times) and len(times) == 30


# ---------------------------------------------------------------------------
# One-pass job shape: binary input over several Kafka partitions
# ---------------------------------------------------------------------------

def _binary_kafka_df(spark, items: list[dict]):
    """Kafka-shaped rows (``topic``/``partition`` per item, offsets assigned
    per topic-partition in list order) carrying ``fbs.encode_fixture``
    FlatBuffers, as a batch Kafka read would return them."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark import fbs

    offsets: dict = {}
    rows = []
    for it in items:
        key = (it["topic"], it["partition"])
        off = offsets.get(key, 0)
        offsets[key] = off + 1
        rows.append((*key, off, int(it["timestamp"]), bytearray(fbs.encode_fixture(it))))
    df = spark.createDataFrame(
        rows, "topic string, partition int, offset long, kafka_ms long, value binary"
    )
    return df.select(
        "topic", "partition", "offset",
        F.timestamp_millis("kafka_ms").alias("timestamp"), "value",
    )


def _structure(pvs: list[str], banks: list[str]) -> dict:
    return {"children": [{"type": "group", "name": "entry", "children": [
        *({"type": "group", "name": pv, "children": [
            {"module": "f144", "config": {"topic": "motion", "source": pv}}]}
          for pv in pvs),
        *({"type": "group", "name": bank, "children": [
            {"module": "ev44", "config": {"topic": "events", "source": bank}}]}
          for bank in banks),
    ]}]}


def _ev44_item(bank: str, partition: int, ms: int, n_events: int, tag: int) -> dict:
    """One ev44 message; every third carries two pulses."""
    two = tag % 3 == 0
    return {
        "schema": "ev44", "topic": "events", "partition": partition,
        "source_name": bank, "timestamp": ms,
        "reference_time": [ms, ms + 1] if two else [ms],
        "reference_time_index": [0, n_events // 2] if two else [0],
        "time_of_flight": [100 + j for j in range(n_events)],
        "pixel_ids": [1000 * tag + j for j in range(n_events)],
    }


def test_ev44_index_bases_match_global_window(spark, tmp_path):
    """Two ev44 sources interleaved over three Kafka partitions, whose
    partition order disagrees with time order. The runner takes each
    partition's index base from its stats action instead of a broadcast
    subplan; the packed event_id order, event_index and ``events``
    metadata must equal a single global window over (partition, offset)
    per source. Includes messages with no events, a pre-start (buffered,
    never written) message per source and a post-stop message."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark import fbs
    from kafka_to_nexus_spark.sinks import hdf5, hdf5lib

    banks = ["bankA", "bankB"]
    items = [_ev44_item(b, 1, 9_000 + i, 3, 90 + i) for i, b in enumerate(banks)]
    for k in range(24):
        bank = banks[k % 2]
        items.append(_ev44_item(bank, [2, 0, 1][k % 3], 10_100 + 37 * k, (7 * k) % 5, k))
    items += [_ev44_item(b, 0, 30_000, 2, 80 + i) for i, b in enumerate(banks)]
    start = StartMessage(job_id="ev", filename="f", nexus_structure=_structure([], banks),
                         start_time_ms=10_000, stop_time_ms=20_000)
    envelope = fbs.decode_kafka_flatbuffers(_binary_kafka_df(spark, items))
    res = run_job(spark, start, envelope, str(tmp_path / "staged"))
    assert res.metrics["messages_received"] == len(items)

    # oracle: one global (no shard split) window per source over the
    # in-window messages in (partition, offset) arrival order
    w = (Window.partitionBy("source_name").orderBy("partition", "offset")
         .rowsBetween(Window.unboundedPreceding, -1))
    oracle = (
        envelope.filter(F.col("timestamp").between(10_000 * 10**6, 20_000 * 10**6))
        .withColumn("before", F.coalesce(F.sum(F.size("time_of_flight")).over(w), F.lit(0)))
        .orderBy("partition", "offset")
        .collect()
    )
    hdf = tmp_path / "ev.nxs"
    hdf5.pack(res.out_dir, str(hdf))
    with hdf5lib.File(str(hdf), "r") as f:
        for bank in banks:
            msgs = [r for r in oracle if r.source_name == bank]
            want_ids = [p for r in msgs for p in r.pixel_ids]
            want_pulses = sorted(
                (t, i + r.before)
                for r in msgs if r.time_of_flight
                for t, i in zip(r.reference_time, r.reference_time_index)
            )
            g = f[f"/entry/{bank}"]
            assert list(g["event_id"][()]) == want_ids
            assert list(zip(g["event_time_zero"][()], g["event_index"][()])) == want_pulses
            assert res.metadata_values[f"/entry/{bank}/events"] == len(want_ids)
            assert any(not r.time_of_flight for r in msgs)  # empty-events case held


def test_zero_message_job_reports_zero_metrics(spark, tmp_path):
    """No messages: the stats action returns no rows and the D2 counters
    still come back as ``quality.ZERO_METRICS``."""
    from kafka_to_nexus_spark.operators import quality
    from kafka_to_nexus_spark.sources.fixtures import messages_from_json

    start = StartMessage(job_id="z", filename="f",
                         nexus_structure=_structure(["pv0"], ["bank0"]),
                         start_time_ms=10_000, stop_time_ms=20_000)
    res = run_job(spark, start, messages_from_json(spark, []), str(tmp_path / "o"))
    got = {k: v for k, v in res.metrics.items() if k != "approx_file_size_mb"}
    assert got == quality.ZERO_METRICS
    assert res.metadata_values["/entry/bank0/events"] == 0


# Spark jobs one 2-bank + 3-PV run_job issues (local[4], 4 shuffle
# partitions, AQE on): the stats collect, the grouped ev44 events and
# pulses writes, the grouped f144 log write and its grouped aggregate,
# each with its AQE stage jobs. Per-bank ev44 writes with a global
# ``orderBy`` range sort issued 29; raise this only with a reason.
MAX_JOBS_2_BANKS_3_PVS = 19
# py4j calls the driver makes for the same job (1382 measured; object
# deletes, which follow the garbage collector, are not counted). With
# PySpark's per-expression origin capture on and one ev44 pipeline per
# bank it made 4050; with ep01/al00 code maps built from F.lit pairs, 1462.
MAX_PY4J_2_BANKS_3_PVS = 1382


def _guard_job(spark, tmp_path, banks: list[str], group: str):
    """Run one ``run_job`` over ``banks`` and 3 PVs in job group
    ``group``; return the physical plans of its SQL executions, its Spark
    job ids and its py4j round-trip count."""
    from kafka_to_nexus_spark import fbs

    pvs = ["pv0", "pv1", "pv2"]
    items = []
    for k in range(40):
        ms = 10_050 + 20 * k
        items += [_ev44_item(b, (k + i) % 3, ms, k % 4, k) for i, b in enumerate(banks)]
        items += [{"schema": "f144", "topic": "motion", "partition": 0,
                   "source_name": pv, "timestamp": ms, "value": float(k)} for pv in pvs]
    start = StartMessage(job_id="guard", filename="f",
                         nexus_structure=_structure(pvs, banks),
                         start_time_ms=10_100, stop_time_ms=11_000)
    envelope = fbs.decode_kafka_flatbuffers(_binary_kafka_df(spark, items))

    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    bus = sc._jsc.sc().listenerBus()

    def executions() -> dict:
        bus.waitUntilEmpty()
        listed = store.executionsList()
        return {e.executionId(): e for e in (listed.apply(i) for i in range(listed.size()))}

    before = set(executions())
    sc.setJobGroup(group, "one-pass guard")
    try:
        with count_py4j() as py4j:
            run_job(spark, start, envelope, str(tmp_path / group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    plans = [e.physicalPlanDescription() for k, e in executions().items() if k not in before]
    return plans, sc.statusTracker().getJobIdsForGroup(group), py4j.n


def test_run_job_decodes_once_and_bounds_spark_jobs(spark, tmp_path):
    """Regression guard for the one-pass job: every SQL execution of a
    2-bank + 3-PV job holds exactly one MapInPandas (the FlatBuffers
    decode, read through the one cache) and no ``_shard_bases`` aggregate,
    the job group holds at most MAX_JOBS_2_BANKS_3_PVS Spark jobs, and
    the driver makes at most MAX_PY4J_2_BANKS_3_PVS py4j round trips."""
    import re

    plans, jobs, py4j = _guard_job(
        spark, tmp_path, ["bank0", "bank1"], "test-run-job-one-pass"
    )
    assert plans
    for plan in plans:
        # formatted plans list each operator once under its numeric id
        assert len(set(re.findall(r"^\((\d+)\) MapInPandas", plan, re.M))) == 1, plan
        assert "_shard_total" not in plan, plan
    assert 0 < len(jobs) <= MAX_JOBS_2_BANKS_3_PVS, len(jobs)
    assert 0 < py4j <= MAX_PY4J_2_BANKS_3_PVS, py4j


def test_run_job_driver_work_independent_of_bank_count(spark, tmp_path):
    """ev44 banks without a cue run as one grouped pass per dataset, and
    their source list and index bases ride as one SQL literal each, so a
    1-bank and a 16-bank job issue exactly as many Spark jobs and py4j
    round trips as a 2-bank one."""
    _, jobs1, py4j1 = _guard_job(spark, tmp_path, ["bank0"], "test-banks-1")
    _, jobs2, py4j2 = _guard_job(spark, tmp_path, ["bank0", "bank1"], "test-banks-2")
    _, jobs16, py4j16 = _guard_job(
        spark, tmp_path, [f"bank{i}" for i in range(16)], "test-banks-16"
    )
    assert 0 < len(jobs1) == len(jobs2) == len(jobs16), (len(jobs1), len(jobs2), len(jobs16))
    assert 0 < py4j1 == py4j2 == py4j16, (py4j1, py4j2, py4j16)


# ---------------------------------------------------------------------------
# One job-output surface: batch and live jobs
# ---------------------------------------------------------------------------

# Spark jobs one process_batch of a 1-bank + 3-PV live job runs (local[4],
# 4 shuffle partitions, AQE on): the stats collect, the grouped f144 log
# write and the 2 ev44 writes, each with its AQE stage jobs. Raise this
# only with a reason.
MAX_JOBS_LIVE_BATCH_1_BANK_3_PVS = 9


def _live_batch_jobs(spark, tmp_path, banks: list[str], group: str):
    """Run one ``process_batch`` of a live job over ``banks`` and 3 PVs in
    job group ``group``; return the job and the group's Spark job ids
    after checking no job of the batch ran outside a group."""
    from kafka_to_nexus_spark import fbs
    from kafka_to_nexus_spark.streaming.job import StreamingJob

    pvs = ["pv0", "pv1", "pv2"]
    items = []
    for k in range(20):
        ms = 10_050 + 20 * k
        items += [_ev44_item(b, (k + i) % 2, ms, k % 4, k) for i, b in enumerate(banks)]
        items += [{"schema": "f144", "topic": "motion", "partition": 0,
                   "source_name": pv, "timestamp": ms, "value": float(k)} for pv in pvs]
    start = StartMessage(job_id=group, filename="f",
                         nexus_structure=_structure(pvs, banks),
                         start_time_ms=10_100, stop_time_ms=11_000)
    envelope = fbs.decode_kafka_flatbuffers(_binary_kafka_df(spark, items))
    job = StreamingJob(spark, start, str(tmp_path / group))

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "live batch job-group guard")
    try:
        job.process_batch(envelope, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    return job, tracker.getJobIdsForGroup(group)


def test_process_batch_jobs_join_callers_job_group(spark, tmp_path):
    """Every Spark job of one micro-batch, the concurrent dataset writes
    included, runs in the caller's job group, so cancelling the group
    reaches all of them; none runs outside a group."""
    job, jobs = _live_batch_jobs(spark, tmp_path, ["bank0"], "test-live-batch-group")
    assert job.state.events_written[("ev44", "bank0")] > 0
    assert 0 < len(jobs) <= MAX_JOBS_LIVE_BATCH_1_BANK_3_PVS, len(jobs)


def test_process_batch_jobs_independent_of_bank_count(spark, tmp_path):
    """The live twin of the batch bank-count check: a micro-batch of a
    1-bank job runs as many Spark jobs as one of a 2-bank job, since
    both write their banks as one group per dataset."""
    _, jobs1 = _live_batch_jobs(spark, tmp_path, ["bank0"], "test-live-banks-1")
    _, jobs2 = _live_batch_jobs(spark, tmp_path, ["bank0", "bank1"], "test-live-banks-2")
    assert 0 < len(jobs1) == len(jobs2), (len(jobs1), len(jobs2))


def test_live_grouped_ev44_matches_batch_job(spark, tmp_path):
    """Two ev44 banks (no cue, so one grouped pass per dataset) through a
    live job of two micro-batches: per bank, the packed ``event_id``,
    ``event_time_zero`` and ``event_index`` equal a batch ``run_job``
    over the same messages. The second batch's indices continue from the
    events each bank wrote in the first; messages without events, two-
    pulse messages, a pre-start (never written) message and a bank with
    no messages in the first batch are included."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark import fbs
    from kafka_to_nexus_spark.sinks import hdf5, hdf5lib
    from kafka_to_nexus_spark.streaming.job import StreamingJob

    banks = ["bankA", "bankB"]
    # one Kafka partition per bank: arrival order is then the same in one
    # batch scan and across micro-batches
    items = [_ev44_item(b, i, 9_000, 3, 90 + i) for i, b in enumerate(banks)]
    for k in range(24):
        i = k % 2 if k >= 12 else 0  # bankB starts in the second batch
        items.append(_ev44_item(banks[i], i, 10_100 + 37 * k, (5 * k) % 4, k))
    start = StartMessage(job_id="ev-live", filename="f",
                         nexus_structure=_structure([], banks),
                         start_time_ms=10_000, stop_time_ms=20_000)
    envelope = fbs.decode_kafka_flatbuffers(_binary_kafka_df(spark, items))
    split = (10_100 + 37 * 12) * 10**6

    batch = run_job(spark, start, envelope, str(tmp_path / "batch"))
    live = StreamingJob(spark, start, str(tmp_path / "live"))
    live.process_batch(envelope.filter(F.col("timestamp") < split), 0)
    live.process_batch(envelope.filter(F.col("timestamp") >= split), 1)
    live.finalize()

    def packed(out_dir, name) -> dict:
        hdf = tmp_path / f"{name}.nxs"
        hdf5.pack(out_dir, str(hdf))
        with hdf5lib.File(str(hdf), "r") as f:
            return {
                bank: {ds: list(f[f"/entry/{bank}/{ds}"][()])
                       for ds in ("event_id", "event_time_zero", "event_index")}
                for bank in banks
            }

    want, got = packed(batch.out_dir, "batch"), packed(live.out_dir, "live")
    for bank in banks:
        assert got[bank] == want[bank], bank
        assert len(want[bank]["event_id"]) > 0
        assert live.state.events_written[("ev44", bank)] == len(want[bank]["event_id"])


def test_run_tasks_keeps_each_task_in_its_own_sql_execution(spark, tmp_path):
    """Concurrent fan-out tasks each keep their own copy of the caller's
    local properties: every write's jobs belong to its own SQL execution
    (a shared copy lets the writes overwrite each other's execution id)
    and to the caller's job group."""
    from functools import partial

    from kafka_to_nexus_spark.runner import run_tasks

    def write(i: int) -> dict:
        (spark.range(0, 2000, numPartitions=4).selectExpr("id % 7 AS k")
         .groupBy("k").count().write.parquet(str(tmp_path / str(i))))
        return {f"task{i}": i}

    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    bus = sc._jsc.sc().listenerBus()

    def executions() -> dict:
        bus.waitUntilEmpty()
        listed = store.executionsList()
        return {e.executionId(): e for e in (listed.apply(i) for i in range(listed.size()))}

    before = set(executions())
    group = "test-run-tasks-properties"
    sc.setJobGroup(group, "fan-out local properties")
    try:
        got = run_tasks(spark, [partial(write, i) for i in range(6)])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == {f"task{i}": i for i in range(6)}
    new = [e for k, e in executions().items() if k not in before]
    assert len(new) == 6
    assert all(e.jobs().size() > 0 for e in new), [e.jobs().size() for e in new]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == sum(e.jobs().size() for e in new)


def test_batch_and_live_job_metadata_match(spark, tmp_path):
    """run_job and a live job (one process_batch, then finalize) over the
    same messages publish the same job metadata: the ``job`` info, the
    module group attributes and every metadata value — the grouped f144
    T6 aggregates with the empty-row parity of a PV that has no in-window
    message, ev44 ``events`` of a bank configured ``"meta_data": false``
    (the flag is documented for f144 only) and the mdat values."""
    from kafka_to_nexus_spark.sources.fixtures import messages_from_json
    from kafka_to_nexus_spark.streaming.job import StreamingJob

    pvs = ["pv0", "pv1", "pv2"]
    structure = _structure(pvs, [])
    structure["children"][0]["children"] += [
        {"type": "group", "name": "bank0", "children": [
            {"module": "ev44", "config": {"topic": "events", "source": "bank0",
                                          "meta_data": False}}]},
        {"module": "mdat", "config": {"items": ["start_time", "end_time"]}},
    ]
    msgs = []
    for k in range(8):
        ms = 10_100 + 100 * k
        msgs.append(_ev44_item("bank0", k % 2, ms, k % 3, k))
        msgs += [{"schema": "f144", "topic": "motion", "partition": 0,
                  "source_name": pv, "timestamp": ms, "value": float(k + i)}
                 for i, pv in enumerate(pvs[:2])]
    # pv2's only message is past stop: no in-window row
    msgs.append({"schema": "f144", "topic": "motion", "partition": 0,
                 "source_name": "pv2", "timestamp": 12_000, "value": 1.0})
    for off, m in enumerate(msgs):
        m["offset"] = off
    start = StartMessage(job_id="parity", filename="f", nexus_structure=structure,
                         start_time_ms=10_000, stop_time_ms=11_000)

    res = run_job(spark, start, messages_from_json(spark, msgs), str(tmp_path / "batch"))
    live = StreamingJob(spark, start, str(tmp_path / "live"))
    live.process_batch(messages_from_json(spark, msgs), 0)
    live.finalize()

    batch_meta = staging.read_meta(res.out_dir)
    live_meta = staging.read_meta(live.out_dir)
    n_events = sum(len(m.get("time_of_flight", [])) for m in msgs if m["schema"] == "ev44")
    mv = res.metadata_values
    assert n_events and mv["/entry/bank0/events"] == n_events
    assert mv["/entry/pv2/minimum_value"] is None
    assert mv["/entry/pv1/maximum_value"] == 8.0
    assert mv["/entry/start_time"] == "1970-01-01T00:00:10.000Z"
    assert json.loads(json.dumps(mv, default=str)) == batch_meta["metadata_values"]
    for key in ("metadata_values", "group_attributes", "job"):
        assert batch_meta[key] == live_meta[key], key


def test_unshareable_bindings_stage_alike_batch_and_live(spark, tmp_path):
    """Bindings that never share a source group (a cue interval, da00
    statics, ad00, the ``test`` no-op module and one f144 source bound at
    two paths) stage the same rows per dataset and publish the same
    metadata values from ``run_job`` and from a live job of two
    micro-batches plus ``finalize``. The f144 cue equals ``cue_table``
    over the time-indexed staged log, and the ev44 cue equals the
    reference threshold loop (``ev44._emit_cues``) over the input."""
    import pandas as pd
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.functions import cue_table, with_row_index
    from kafka_to_nexus_spark.modules import ev44 as ev44_mod
    from kafka_to_nexus_spark.sources.fixtures import messages_from_json
    from kafka_to_nexus_spark.streaming.job import StreamingJob

    def binding(name, module, source, **cfg):
        return {"type": "group", "name": name, "children": [
            {"module": module, "config": {"topic": "t", "source": source, **cfg}}]}

    structure = {"children": [{"type": "group", "name": "entry", "children": [
        binding("pv_cue", "f144", "pv_cue", cue_interval=3),
        binding("bank_cue", "ev44", "bank_cue", cue_interval=7),
        binding("cam", "ad00", "cam"),
        binding("hist", "da00", "hist", variables=[{"name": "signal"}],
                constants=[{"name": "edges"}]),
        binding("tpl", "test", "tpl"),
        binding("dup1", "f144", "pv_dup"),
        binding("dup2", "f144", "pv_dup"),
    ]}]}
    msgs = []
    for k in range(12):
        ms = 10_100 + 100 * k
        msgs.append({"schema": "f144", "source_name": "pv_cue", "timestamp": ms,
                     "value": float(k)})
        msgs.append({"schema": "f144", "source_name": "pv_dup", "timestamp": ms,
                     "value": float(100 + k)})
        n = (k * 5) % 4 + 1 if k % 5 else 0  # some messages carry no events
        msgs.append({"schema": "ev44", "source_name": "bank_cue", "timestamp": ms,
                     "reference_time": [ms], "reference_time_index": [0],
                     "time_of_flight": [10 * k + j for j in range(n)],
                     "pixel_ids": [100 * k + j for j in range(n)]})
        if k % 3 == 0:
            msgs.append({"schema": "ad00", "source_name": "cam", "timestamp": ms,
                         "data": [[k, k + 1], [k + 2, k + 3]]})
            msgs.append({"schema": "da00", "source_name": "hist", "timestamp": ms,
                         "variables": [
                             {"name": "signal", "unit": "counts", "axes": ["x"],
                              "shape": [2], "data": [float(k), float(k + 1)]},
                             {"name": "edges", "unit": "mm", "axes": ["x"],
                              "shape": [3], "data": [float(k), k + 0.5, k + 1.0]},
                         ]})
    for off, m in enumerate(msgs):
        m.update(topic="t", partition=0, offset=off, kafka_timestamp=m["timestamp"])
    start = StartMessage(job_id="one-member", filename="f", nexus_structure=structure,
                         start_time_ms=10_000, stop_time_ms=20_000)

    envelope = messages_from_json(spark, msgs)
    res = run_job(spark, start, envelope, str(tmp_path / "batch"))
    split = 10_700 * 10**6
    live = StreamingJob(spark, start, str(tmp_path / "live"))
    live.process_batch(envelope.filter(F.col("timestamp") < split), 0)
    live.process_batch(envelope.filter(F.col("timestamp") >= split), 1)
    live.finalize()

    def staged(out_dir) -> dict:
        got = {}
        for ds in sorted((tmp_path / out_dir / "data").glob("*/*")):
            df = spark.read.parquet(str(ds)).drop(*staging.BATCH_ORDER_COLS)
            got[f"{ds.parent.name}/{ds.name}"] = sorted(
                tuple(r) for r in df.select(sorted(df.columns)).collect()
            )
        return got

    want, got = staged("batch"), staged("live")
    assert want.keys() == got.keys()
    assert not any(k.startswith("entry__tpl/") for k in want)
    for key in want:
        assert got[key] == want[key], key
    assert {"entry__dup1/log", "entry__dup2/log", "entry__cam/frames",
            "entry__hist/frames", "entry__pv_cue/cue", "entry__bank_cue/cue"} <= want.keys()
    assert want["entry__dup1/log"] == want["entry__dup2/log"]
    assert len(want["entry__dup1/log"]) == 12
    live_values = staging.read_meta(live.out_dir)["metadata_values"]
    assert json.loads(json.dumps(res.metadata_values, default=str)) == live_values
    assert res.metadata_values["/entry/hist/edges"] == [0.0, 0.5, 1.0]
    assert res.metadata_values["/entry/dup2/minimum_value"] == 100.0

    log = spark.read.parquet(str(staging.dataset_dir(res.out_dir, "entry/pv_cue", "log")))
    f144_cue = cue_table(with_row_index(log, order_cols=("time",)), 3)
    assert want["entry__pv_cue/cue"] == sorted(tuple(r) for r in f144_cue.collect())
    assert len(want["entry__pv_cue/cue"]) == 4

    ev = [m for m in msgs if m["schema"] == "ev44" and m["time_of_flight"]]
    after = pd.Series([len(m["time_of_flight"]) for m in ev]).cumsum()
    last_ts = [m["timestamp"] * 10**6 + m["time_of_flight"][-1] for m in ev]
    ev44_cue = ev44_mod._emit_cues(
        pd.DataFrame({"_events_after": after, "_last_event_ts": last_ts}), 7, -1
    )
    assert want["entry__bank_cue/cue"] == sorted(
        (int(i), int(t)) for i, t in ev44_cue.itertuples(index=False)
    )
    assert len(want["entry__bank_cue/cue"]) >= 2
