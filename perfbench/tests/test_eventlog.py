"""Pins ``perfbench.trace`` on a tiny Spark run with the event log on.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each action runs under its own job group, so the parsed jobs can be
checked group by group: a count, a parquet write, a pandas map that
sleeps in the Python worker, and a shuffle.
"""

from __future__ import annotations

import shutil
import time

import pytest

from perfbench import env
from perfbench.trace import (
    Tracer,
    covered,
    event_log_file,
    jobs_in,
    parse_event_log,
    spark_counters,
)

PY_SLEEP_S = 0.3


@pytest.fixture(scope="module")
def parsed():
    run_dir = env.WORK / "test-eventlog"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    env.pin(run_dir)
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.session import get_spark

    def sleepy(batches):  # nested: pickled by value for the Python worker
        for b in batches:
            time.sleep(PY_SLEEP_S)
            yield b

    spark = get_spark(
        app_name="perfbench-eventlog-test", master="local[2]", shuffle_partitions=2,
        extra_conf=env.spark_conf(run_dir, run_dir / "eventlog"),
    )
    sc = spark.sparkContext
    windows = {}
    try:
        for group, action in (
            ("count", lambda: spark.range(1000, numPartitions=3).count()),
            ("write", lambda: spark.range(100, numPartitions=2).write.parquet(str(run_dir / "out"))),
            ("python", lambda: spark.range(10, numPartitions=1)
                .mapInPandas(sleepy, "id long").collect()),
            ("shuffle", lambda: spark.range(1000, numPartitions=3)
                .groupBy((F.col("id") % 7).alias("k")).count().collect()),
        ):
            sc.setJobGroup(group, group)
            t0 = time.time()
            action()
            windows[group] = (t0, time.time())
    finally:
        spark.stop()
    jobs = parse_event_log(event_log_file(run_dir / "eventlog"))
    yield jobs, windows
    shutil.rmtree(run_dir, ignore_errors=True)


def _group(jobs, name):
    mine = [j for j in jobs if j.group == name]
    assert mine, f"no jobs in group {name}"
    return mine


def test_jobs_have_times_and_tasks(parsed):
    jobs, windows = parsed
    lo = min(w[0] for w in windows.values())
    hi = max(w[1] for w in windows.values())
    for j in jobs:
        assert lo - 1 <= j.submit <= j.end <= hi + 1
    count = _group(jobs, "count")
    assert sum(j.tasks for j in count) >= 3  # one task per input partition
    assert all(j.stages >= 1 for j in count)


def test_write_jobs_are_the_ones_with_output(parsed):
    jobs, _ = parsed
    assert all(j.is_write for j in _group(jobs, "write"))
    assert not any(j.is_write for j in jobs if j.group != "write")


def test_python_worker_time(parsed):
    jobs, _ = parsed
    assert sum(j.python_s for j in _group(jobs, "python")) >= PY_SLEEP_S * 0.8
    assert sum(j.python_s for j in _group(jobs, "count")) == 0


def test_shuffle_bytes(parsed):
    jobs, _ = parsed
    assert sum(j.shuffle_write_b for j in _group(jobs, "shuffle")) > 0


def test_time_window_attribution_matches_groups(parsed):
    jobs, windows = parsed
    for group, (t0, t1) in windows.items():
        # event-log times are whole milliseconds
        inside = jobs_in(jobs, t0 - 0.001, t1 + 0.001)
        assert {j.job_id for j in inside} == {j.job_id for j in _group(jobs, group)}
    c = spark_counters(jobs, wall_s=1.0, cores=2)
    assert c["spark.jobs"] == len(jobs)
    assert c["spark.tasks"] == sum(j.tasks for j in jobs)
    w0, w1 = windows["write"]
    assert 0 < c["spark.write_s"] <= w1 - w0 + 0.002
    assert c["spark.write_mb"] > 0


def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == 3.0


def test_tracer_spans_and_wraps():
    class Owner:
        @staticmethod
        def work(x):
            return x + 1

    off = Tracer(False)
    off.wrap(Owner, "work", "w")
    with off.span("s"):
        assert Owner.work(1) == 2
    assert off.spans == []

    on = Tracer(True)
    on.wrap(Owner, "work", "w")
    with on.span("outer"):
        assert Owner.work(1) == 2
    on.unwrap()
    assert [(s.name, s.parent) for s in on.spans] == [("w", "outer"), ("outer", None)]
    assert Owner.work.__name__ == "work" and Owner.work(1) == 2
