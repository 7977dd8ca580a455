"""The run loop shared by every workload: set up, warm up, time, check."""

from __future__ import annotations

import shutil
import statistics
import subprocess
import sys
import time
import traceback

from . import env
from .trace import Tracer, event_log_file, jobs_in, parse_event_log, spark_counters

WARMUP = 1  # untimed units on the measured context before timing starts

WORKLOAD_NAMES = ("filemaker_events", "live_pvs", "corpus_admission")


def _workloads():
    from . import workloads

    return {w.name: w for w in (workloads.FilemakerEvents, workloads.LivePvs,
                                workloads.CorpusAdmission)}


def _stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: it exits when its
    stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _median(xs: list[float]) -> float | None:
    """None when no unit produced a sample (every unit failed)."""
    return statistics.median(xs) if xs else None


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    run_dir = env.WORK / "runs" / f"{workload}-s{seed}-t{int(trace)}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    env.pin(run_dir)
    cls = _workloads()[workload]
    # inputs come from a child process, so generating them (on a seed's
    # first run) shows in no metric of this one, peak RSS included
    subprocess.run([sys.executable, "-m", "perfbench.gen", "--workload", workload,
                    "--seed", str(seed), "--slices", str(cls.SLICES)],
                   cwd=env.ROOT, check=True)
    host = env.HostShares()
    from . import gen

    inputs, expects = gen.load(env.WORK, workload, seed, cls.SLICES)
    tracer = Tracer(trace)
    wl = cls(run_dir, inputs, expects, tracer)

    from kafka_to_nexus_spark.session import get_spark

    # set-up: the first launches the JVM; setup_s is the median of the
    # cls.SETUPS that follow, each on a fresh SparkContext in the same JVM
    setup_times, session_times, spark = [], [], None
    for k in range(cls.SETUPS + 1):
        if spark is not None:
            wl.teardown()
            spark.stop()
        log_dir = run_dir / "eventlog" if trace and k == cls.SETUPS else None
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{workload}",
                          extra_conf=env.spark_conf(run_dir, log_dir))
        session_times.append(time.perf_counter() - t0)
        wl.setup(spark)
        setup_times.append(time.perf_counter() - t0)
    wl.instrument()

    attempted = failed = 0
    errors: list[str] = []
    units: list[dict] = []
    slice_i = 0

    def one_unit(timed: bool) -> None:
        nonlocal attempted, failed, slice_i
        i, slice_i = slice_i, slice_i + 1
        attempted += 1
        rec = {"slice": i, "t0": time.time()}
        cpu0 = time.process_time()
        try:
            spark.sparkContext.setJobGroup(f"unit-{i}", f"{workload} unit {i}")
            rec.update(wl.unit(i))
            rec["t1"] = time.time()
            rec["py_cpu_s"] = time.process_time() - cpu0
            errs = wl.check(i)
        except Exception:  # a failed unit is counted, the run goes on
            rec["t1"] = time.time()
            errs = [traceback.format_exc(limit=5)]
        if errs:
            failed += 1
            errors.extend(f"unit {i}: {e}" for e in errs[:5])
        if timed:
            units.append(rec)

    # untimed units pay the first-use costs of the fresh context
    # (Python workers, code generation, most of the JIT warm-up)
    warm0 = time.perf_counter()
    for _ in range(WARMUP):
        one_unit(timed=False)
    warmup_s = time.perf_counter() - warm0
    t_start = time.perf_counter()
    while slice_i < cls.SLICES and (
        time.perf_counter() - t_start < seconds or len(units) < cls.MIN_UNITS
    ):
        one_unit(timed=True)
    measured_s = time.perf_counter() - t_start
    wl.teardown()
    spark.stop()
    _stop_jvm()
    tracer.unwrap()

    ok = [u for u in units if "unit_s" in u]
    unit_s = [x for u in ok for x in u["unit_s"]]
    finish_s = [x for u in ok for x in u["finish_s"]]
    end_to_end = {
        "setup_s": (_median(setup_times[1:]), "s"),
        "unit_s": (_median(unit_s), "s"),
        "finish_s": (_median(finish_s), "s"),
        "py_peak_rss_mb": (env.peak_rss_mb(), "MB"),
    }
    artifact = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "nproc": env.nproc(), "driver_mem": env.driver_mem(),
        **host.read(),
        "jvm_launch_s": setup_times[0], "setup_s_all": setup_times,
        "session_start_s_all": session_times,
        "warmup_s": warmup_s, "measured_s": measured_s,
        "units": units, "unit_s_samples": unit_s, "finish_s_samples": finish_s,
        "attempted": attempted, "failed": failed, "errors": errors[:20],
        "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
        **wl.describe(),
    }
    metrics = end_to_end
    if trace:
        layers = _layers(wl, tracer, ok, run_dir, session_times)
        artifact["layers"] = layers
        metrics = {k: layers.get(k, (None, _unit_of(k))) for k in PER_LAYER}
    shutil.rmtree(run_dir, ignore_errors=True)
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, artifact


# per-layer metrics printed by a traced run: the ones every workload
# has. The layers of one workload only are in the artifact's "layers".
PER_LAYER = (
    "session.start_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_s",
    "spark.cpu_share", "spark.shuffle_write_mb", "spark.gc_s", "spark.write_s",
    "spark.write_mb", "driver.py_cpu_s",
)
_UNITS = {"fbs.decode_us_per_msg": "us", "spark.cpu_share": "ratio",
          "staging.files_per_source_batch": "ratio", "admission.admitted_share": "ratio"}
# set-up spans: each run's median over its warm set-ups
_SETUP_SPANS = {"plan.build_s": "plan.build", "admission.layout_build_s": "admission.layout_build"}


def _layers(wl, tracer: Tracer, units: list[dict], run_dir, session_times) -> dict:
    """Per-unit medians of the Spark counters (event log) and of every
    layer metric the workload derives from its spans."""
    jobs = parse_event_log(event_log_file(run_dir / "eventlog"))
    per_unit: list[dict[str, float]] = []
    for u in units:
        mine = jobs_in(jobs, u["t0"], u["t1"])
        row = spark_counters(mine, u["t1"] - u["t0"], env.nproc())
        row["driver.py_cpu_s"] = u["py_cpu_s"]
        row.update(wl.layers(tracer, u, mine))
        per_unit.append(row)
    names = sorted({k for r in per_unit for k in r})
    out = {
        k: (_median([r[k] for r in per_unit if k in r]), _unit_of(k)) for k in names
    }
    out["session.start_s"] = (_median(session_times[1:]), "s")
    for name, span in _SETUP_SPANS.items():
        durs = [s.dur for s in tracer.spans if s.name == span][1:]  # the first is cold
        if durs:
            out[name] = (_median(durs), "s")
    return out


def _unit_of(name: str) -> str:
    if name in _UNITS:
        return _UNITS[name]
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), (".mb_out", "MB"), (".mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "count"
