"""The workloads, each a set-up plus a repeatable timed unit.

A workload object is made once per run. ``setup(spark)`` registers the
input (one read of the generated dataset) and builds the job plan; it
runs several times per run, each time on a fresh SparkContext.
``unit(i)`` runs one unit on input slice ``i`` and returns its samples
of the two timed end-to-end quantities:

- ``filemaker_events``: a unit is one file-maker job. ``unit_s`` is
  decode + ``runner.run_job`` + ``sinks.hdf5.pack`` until the file is
  closed; ``finish_s`` is each of ``PACKS`` packs of the job's staging.
- ``live_pvs``: a unit is one live job. ``unit_s`` is each
  ``StreamingJob.process_batch``; ``finish_s`` is stop-to-file, from the
  last batch's return until ``finalize`` and ``pack`` have published
  the file.
- ``corpus_admission``: a unit is one trigger of the admission query,
  draining one arrival file. ``unit_s`` is the trigger's
  ``durationMs.triggerExecution``; ``finish_s`` is its fold, from the
  decision commit until the admitted documents are appended to the
  standing layouts.

``teardown()`` runs before each SparkContext stops. ``check(i)``
verifies the unit's outputs against the generator's expected values,
outside the timed region. ``layers(...)`` derives a traced run's
per-layer numbers for one unit from its spans and its Spark jobs.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
from pathlib import Path

import numpy as np

from . import gen
from .trace import Tracer, covered


def _clean(path: Path) -> None:
    if path.exists():
        for p in path.rglob("*"):  # packed files are r--r--r--
            if p.is_file():
                os.chmod(p, 0o644)
        shutil.rmtree(path)


def _parquet_files(root: Path) -> list[Path]:
    return list(root.rglob("*.parquet"))


def _rows(metrics: dict) -> dict:
    """Rows into the engine's validation operator, and rows it passed."""
    return {
        "operators.rows_in": metrics["messages_received"],
        "operators.rows_valid": metrics["messages_received"] - metrics["flatbuffer_errors"],
    }


def _hdf5_datasets(group) -> int:
    from kafka_to_nexus_spark.sinks import hdf5lib

    return sum(
        _hdf5_datasets(child) if isinstance(child, hdf5lib.Group) else 1
        for _, child in group.items()
    )


def _check_nexus(path: Path, e: dict, banks: list[str]) -> list[str]:
    """Dataset lengths and f144 aggregates of a packed file against the
    generator's numbers."""
    from kafka_to_nexus_spark.sinks import hdf5lib

    errors = []
    with hdf5lib.File(path, "r") as f:
        for bank in banks:
            g = f[f"entry/{bank}"]
            n_ev = len(g["event_id"][()])
            idx = np.asarray(g["event_index"][()])
            if n_ev != e["events"][bank]:
                errors.append(f"{bank}: {n_ev} events != {e['events'][bank]}")
            if len(idx) != e["pulses"][bank]:
                errors.append(f"{bank}: {len(idx)} pulses != {e['pulses'][bank]}")
            if np.any(np.diff(idx) < 0) or (len(idx) and idx[-1] > n_ev):
                errors.append(f"{bank}: event_index not monotone within {n_ev} events")
        for pv, s in e["f144"].items():
            g = f[f"entry/{pv}"]
            n = len(g["value"][()])
            if n != s["n"] or len(g["time"][()]) != s["n"]:
                errors.append(f"{pv}: {n} values != {s['n']}")
            for ds, want in (("minimum_value", s["min"]), ("maximum_value", s["max"]),
                             ("average_value", s["mean"])):
                got = float(np.asarray(g[ds][()]))
                if not np.isclose(got, want, rtol=1e-9, atol=1e-9):
                    errors.append(f"{pv}/{ds}: {got} != {want}")
        for pv, n_alarms in e.get("alarms", {}).items():
            got = len(f[f"entry/{pv}/alarm_severity"][()])
            if got != n_alarms:
                errors.append(f"{pv}: {got} alarms != {n_alarms}")
        for pv, n_status in e.get("status", {}).items():
            got = len(f[f"entry/{pv}/connection_status"][()])
            if got != n_status:
                errors.append(f"{pv}: {got} connection statuses != {n_status}")
    return errors


def _nexus_summary(path: Path) -> dict[str, object]:
    """Every dataset's length, and its value for scalars."""
    from kafka_to_nexus_spark.sinks import hdf5lib

    out: dict[str, object] = {}

    def walk(group, prefix: str) -> None:
        for name, child in group.items():
            p = f"{prefix}/{name}"
            if isinstance(child, hdf5lib.Group):
                walk(child, p)
            elif child.shape == ():
                out[p] = child[()].item() if hasattr(child[()], "item") else child[()]
            else:
                out[p] = child.shape[0]

    with hdf5lib.File(path, "r") as f:
        walk(f, "")
    return out


class _FileWriter:
    """Shared set-up and layer accounting of the file-writer workloads."""

    name = ""
    SLICES = 0
    SETUPS = 3  # warm set-ups per run, after the one that launches the JVM
    MIN_UNITS = 2  # timed units per run, however long they take
    EXTRAS = False  # f144 spawns ep01/al00 writers

    def __init__(self, work: Path, inputs: Path, expects: list[dict], tracer: Tracer):
        self.work, self.inputs, self.expects, self.tracer = work, inputs, expects, tracer
        self.banks = list(expects[0]["events"])
        self.pvs = list(expects[0]["f144"])
        self.structure = gen.f144_structure(self.pvs, self.banks, extras=self.EXTRAS)

    def teardown(self) -> None:
        pass

    def setup(self, spark) -> None:
        from kafka_to_nexus_spark.plan import StartMessage, build_plan

        self.spark = spark
        self.raw = spark.read.parquet(str(self.inputs / "kafka"))
        with self.tracer.span("plan.build"):
            self.n_bindings = len(build_plan(self.structure).streams)
        self.starts = [
            StartMessage(
                job_id=f"{self.name}-{i}", filename=f"{self.name}-{i}.nxs",
                nexus_structure=self.structure,
                start_time_ms=e["start_ms"], stop_time_ms=e["stop_ms"],
            )
            for i, e in enumerate(self.expects)
        ]

    def frame(self, i: int, batch: int | None = None):
        """Envelope rows of slice ``i`` (one ``batch`` of it, if given),
        decoded from FlatBuffers by the engine."""
        from pyspark.sql import functions as F

        from kafka_to_nexus_spark.fbs import decode_kafka_flatbuffers

        cond = F.col("slice") == i
        if batch is not None:
            cond &= F.col("batch") == batch
        return decode_kafka_flatbuffers(self.raw.filter(cond))

    def instrument(self) -> None:
        """Span the HDF5 packs and snapshots the engine makes (traced
        runs only: ``Tracer.wrap`` is a no-op otherwise)."""
        from kafka_to_nexus_spark.sinks import hdf5
        from kafka_to_nexus_spark.streaming.job import StreamingJob

        self.tracer.wrap(hdf5, "pack", "hdf5.pack")
        self.tracer.wrap(StreamingJob, "snapshot", "hdf5.snapshot")

    def out(self, i: int) -> Path:
        return self.work / "out" / f"unit{i}"

    def _decode_us_per_msg(self, i: int) -> float:
        """``fbs.ess.decode`` called directly on the slice's own buffers."""
        import pyarrow.parquet as pq

        from kafka_to_nexus_spark.fbs import ess

        bufs = [
            v for p in sorted((self.inputs / "kafka" / f"slice={i}").rglob("*.parquet"))
            for v in pq.read_table(p, columns=["value"]).column("value").to_pylist()
        ]
        t0 = time.perf_counter()
        for b in bufs:
            ess.decode(b)
        return (time.perf_counter() - t0) / len(bufs) * 1e6

    def layers(self, tracer: Tracer, u: dict, jobs) -> dict:
        """Per-layer numbers of one unit, common to both workloads."""
        from kafka_to_nexus_spark.sinks import hdf5lib

        lo, hi = u["t0"], u["t1"]
        out = self.out(u["slice"])
        files = _parquet_files(out / "staged")
        snaps = tracer.within("hdf5.snapshot", lo, hi)
        final_packs = [s for s in tracer.within("hdf5.pack", lo, hi)
                       if not any(n.start <= s.start <= n.end for n in snaps)]
        with hdf5lib.File(out / "file.nxs", "r") as f:
            n_ds = _hdf5_datasets(f)
        return {
            "fbs.python_s": sum(j.python_s for j in jobs),
            "operators.rows_in": u["operators.rows_in"],
            "operators.rows_valid": u["operators.rows_valid"],
            "fbs.decode_us_per_msg": self._decode_us_per_msg(u["slice"]),
            "plan.bindings": self.n_bindings,
            "staging.files": len(files),
            "staging.mb": sum(p.stat().st_size for p in files) / 2**20,
            "staging.files_per_source_batch": len(files) / (self.n_bindings * self.batches_per_unit),
            "hdf5.pack_s": statistics.median(s.dur for s in final_packs),
            "hdf5.snapshot_s": sum(s.dur for s in snaps),
            "hdf5.mb_out": (out / "file.nxs").stat().st_size / 2**20,
            "hdf5.datasets": n_ds,
        }


class FilemakerEvents(_FileWriter):
    """Closed loop of batch file-maker jobs over ev44 banks and f144 PVs."""

    name = "filemaker_events"
    SLICES = 10
    PACKS = 5
    batches_per_unit = 1

    def unit(self, i: int) -> dict:
        from kafka_to_nexus_spark import runner
        from kafka_to_nexus_spark.sinks import hdf5

        out = self.out(i)
        _clean(out)
        out.mkdir(parents=True)
        t0 = time.perf_counter()
        with self.tracer.span("runner.run_job"):
            self.result = runner.run_job(self.spark, self.starts[i], self.frame(i), str(out / "staged"))
        t1 = time.perf_counter()
        hdf5.pack(out / "staged", out / "file.nxs")
        t2 = time.perf_counter()
        # a pack takes ~50 ms: time PACKS of them for a steady median. The
        # writer's in-memory tree holds reference cycles; collecting them
        # after each pack keeps peak RSS from depending on when the
        # collector happens to run.
        packs = [t2 - t1]
        gc.collect()
        for k in range(1, self.PACKS):
            t = time.perf_counter()
            hdf5.pack(out / "staged", out / f"repack{k}.nxs")
            packs.append(time.perf_counter() - t)
            gc.collect()
        return {"unit_s": [t2 - t0], "finish_s": packs, **_rows(self.result.metrics)}

    def check(self, i: int) -> list[str]:
        e, got = self.expects[i], self.result.metrics
        errors = []
        if got.get("messages_received") != e["messages"] or got.get("flatbuffer_errors"):
            errors.append(f"job metrics {got} for {e['messages']} messages")
        return errors + _check_nexus(self.out(i) / "file.nxs", e, self.banks)

    def layers(self, tracer: Tracer, u: dict, jobs) -> dict:
        # the shared windowed scan is the only action run_job takes on the
        # calling thread, so its jobs are the only ones in the unit's job
        # group; the T6 aggregate collects carry their runner.py call site
        group = f"unit-{u['slice']}"
        return {
            **super().layers(tracer, u, jobs),
            "runner.run_job_s": sum(s.dur for s in tracer.within("runner.run_job", u["t0"], u["t1"])),
            "runner.scan_s": covered([(j.submit, j.end) for j in jobs if j.group == group]),
            "runner.aggregate_s": covered([(j.submit, j.end) for j in jobs
                                           if j.call_site.startswith("collect at")
                                           and "runner.py" in j.call_site]),
        }

    def describe(self) -> dict:
        e = self.expects[0]
        return {"input": {
            "banks": len(self.banks), "pvs": len(self.pvs), "messages_per_job": e["messages"],
            "events_per_job": sum(e["events"].values()), "bindings": self.n_bindings,
            "instrument_seconds_per_job": gen.FM_SECONDS,
        }}


class LivePvs(_FileWriter):
    """Slow PVs through ``StreamingJob.process_batch`` with live
    snapshots, then stop-to-file: a short live job per unit, so a run
    gets several stop-to-file samples."""

    name = "live_pvs"
    SLICES = 6
    MIN_UNITS = 3  # a unit gives one stop-to-file sample
    EXTRAS = True
    batches_per_unit = gen.LIVE_BATCHES

    def unit(self, i: int) -> dict:
        from kafka_to_nexus_spark.sinks import hdf5
        from kafka_to_nexus_spark.streaming.job import StreamingJob

        out = self.out(i)
        _clean(out)
        out.mkdir(parents=True)
        job = StreamingJob(self.spark, self.starts[i], str(out / "staged"))
        job.enable_snapshots(out / "file.nxs", every_n_batches=1)
        frames = [self.frame(i, b) for b in range(gen.LIVE_BATCHES)]
        batch_s = []
        for b, df in enumerate(frames):
            t0 = time.perf_counter()
            with self.tracer.span("streaming.batch"):
                job.process_batch(df, b)
            batch_s.append(time.perf_counter() - t0)
        t_last = time.perf_counter()
        with self.tracer.span("streaming.finalize"):
            job.finalize()
        hdf5.pack(out / "staged", out / "file.nxs")
        stop_to_file = time.perf_counter() - t_last
        self.job = job
        return {"unit_s": batch_s, "finish_s": [stop_to_file], **_rows(job.state.metrics)}

    def check(self, i: int) -> list[str]:
        e, m = self.expects[i], self.job.state.metrics
        errors = []
        if m.get("messages_received") != sum(e["batch_msgs"]) or m.get("flatbuffer_errors"):
            errors.append(f"job metrics {dict(m)} for {sum(e['batch_msgs'])} messages")
        if m.get("snapshot_errors"):
            errors.append(f"{m['snapshot_errors']} snapshot errors")
        errors += _check_nexus(self.out(i) / "file.nxs", e, self.banks)
        if i == 0 and self.tracer.enabled:  # costs a run_job: traced runs only
            errors += self._check_batch_twin(i)
        return errors

    def _check_batch_twin(self, i: int) -> list[str]:
        """The live file holds the same datasets, row counts and
        aggregates as a batch ``run_job`` over the same messages."""
        from kafka_to_nexus_spark import runner
        from kafka_to_nexus_spark.sinks import hdf5

        twin = self.work / "out" / f"twin{i}"
        _clean(twin)
        runner.run_job(self.spark, self.starts[i], self.frame(i), str(twin / "staged"))
        hdf5.pack(twin / "staged", twin / "file.nxs")
        want = _nexus_summary(twin / "file.nxs")
        got = _nexus_summary(self.out(i) / "file.nxs")
        return [
            f"{k}: live {got.get(k)!r} != batch {v!r}"
            for k, v in want.items()
            if not (got.get(k) == v or (isinstance(v, float) and np.isclose(got.get(k, np.nan), v)))
        ]

    def layers(self, tracer: Tracer, u: dict, jobs) -> dict:
        lo, hi = u["t0"], u["t1"]
        batches = tracer.within("streaming.batch", lo, hi)
        snaps = [(s.start, s.end) for s in tracer.within("hdf5.snapshot", lo, hi)]
        writes = [(j.submit, j.end) for j in jobs if j.is_write]
        self_s = []
        for b in batches:
            inner = [(max(a, b.start), min(z, b.end)) for a, z in writes + snaps
                     if a < b.end and z > b.start]
            self_s.append(b.dur - covered(inner))
        batch_jobs = [j for j in jobs if any(b.start <= j.submit <= b.end for b in batches)]
        return {
            **super().layers(tracer, u, jobs),
            "streaming.batch_s": statistics.median(b.dur for b in batches),
            "streaming.batch_self_s": statistics.median(self_s),
            "streaming.finalize_s": sum(s.dur for s in tracer.within("streaming.finalize", lo, hi)),
            "streaming.jobs_per_batch": len(batch_jobs) / len(batches),
        }

    def describe(self) -> dict:
        e = self.expects[0]
        return {"input": {
            "pvs": len(self.pvs), "banks": len(self.banks), "bindings": self.n_bindings,
            "batches_per_job": len(e["batch_msgs"]), "messages_per_batch": e["batch_msgs"],
            "instrument_seconds_per_batch": gen.LIVE_BATCH_S,
        }}


class CorpusAdmission:
    """The composed streaming admission gate
    (``streaming.stateful.admission_stream``) over standing Bloom and
    banded-LSH layouts: every trigger both reads the layouts (decide)
    and appends to them (fold)."""

    name = "corpus_admission"
    SLICES = 8
    SETUPS = 2  # each builds the standing layouts, about 2.5 s
    MIN_UNITS = 2

    def __init__(self, work: Path, inputs: Path, expects: list[dict], tracer: Tracer):
        self.work, self.inputs, self.expects, self.tracer = work, inputs, expects, tracer
        self.setups = 0
        self.query = None
        self.calls: list[list[float]] = []  # [start, decided, folded] per admit_and_fold
        self.shares: dict[int, float] = {}

    def setup(self, spark) -> None:
        """Build the standing layouts from the corpus and start the
        query on an empty arrival directory, in a directory of its own."""
        from pyspark.sql import functions as F

        from kafka_to_nexus_spark.llm import dedup
        from kafka_to_nexus_spark.streaming import stateful

        self.spark = spark
        self.root = self.work / "admission" / f"setup{self.setups}"
        self.setups += 1
        self.feed = self.root / "in"
        self.feed.mkdir(parents=True)
        bloom, nd = str(self.root / "bloom"), str(self.root / "neardup")
        standing = spark.read.parquet(str(self.inputs / "standing.parquet"))
        with self.tracer.span("admission.layout_build"):
            dedup.write_bloom_layout(
                standing.select(F.md5("text").alias("_fp")), bloom, "_fp",
                k=gen.ADM_BLOOM_K, bits_per_key=gen.ADM_BLOOM_BITS_PER_KEY,
            )
            dedup.write_neardup_banding_layout(standing, nd)
        arrivals = (spark.readStream.schema("doc_id long, text string, source string")
                    .option("maxFilesPerTrigger", 1).parquet(str(self.feed)))
        self.decisions = self.root / "decisions"
        self.query = stateful.admission_stream(
            arrivals, bloom, nd, str(self.decisions), str(self.root / "checkpoint"),
            quota=gen.ADM_QUOTA, tau=gen.ADM_TAU,
        )
        self.batch_id = 0

    def teardown(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query._admission_session.close()
            self.query = None

    def instrument(self) -> None:
        """Time each ``AdmissionSession.admit_and_fold`` and its decision
        transaction (``_decide_or_reuse``), in every run: the fold is an
        end-to-end metric. Both are looked up at call time, on the
        query's own thread."""
        from kafka_to_nexus_spark.streaming import stateful

        decide, admit = stateful._decide_or_reuse, stateful.AdmissionSession.admit_and_fold
        calls = self.calls

        def timed_decide(*args, **kwargs):
            out = decide(*args, **kwargs)
            calls[-1][1] = time.perf_counter()
            return out

        def timed_admit(*args, **kwargs):
            calls.append([time.perf_counter(), 0.0, 0.0])
            out = admit(*args, **kwargs)
            calls[-1][2] = time.perf_counter()
            return out

        stateful._decide_or_reuse = timed_decide
        stateful.AdmissionSession.admit_and_fold = timed_admit

    def unit(self, i: int) -> dict:
        """Drop arrival file ``i`` into the watched directory (a rename,
        so the source never lists a partial file) and wait until the
        query has processed it."""
        tmp = self.feed / f".batch-{i}.parquet"
        shutil.copyfile(self.inputs / "arrivals" / f"batch-{i}.parquet", tmp)
        os.rename(tmp, self.feed / f"batch-{i}.parquet")
        n_calls = len(self.calls)
        self.query.processAllAvailable()
        progress = [p for p in self.query.recentProgress if p.batchId == self.batch_id]
        if len(self.calls) != n_calls + 1 or not progress or progress[-1].numInputRows == 0:
            raise RuntimeError(f"arrival file {i} did not run as one trigger {self.batch_id}")
        self.batch_id += 1
        start, decided, folded = self.calls[-1]
        return {
            "unit_s": [progress[-1].durationMs["triggerExecution"] / 1000],
            "finish_s": [folded - decided],
            "admission.admit_fold_s": folded - start,
            "admission.decide_s": decided - start,
        }

    def check(self, i: int) -> list[str]:
        """Every arrival has exactly the stage the generator expects."""
        e = self.expects[i]
        rows = self.spark.read.parquet(str(self.decisions / f"batch={self.batch_id - 1}")).collect()
        got = {r.doc_id: r.stage for r in rows}
        self.shares[i] = sum(v == "admitted" for v in got.values()) / max(1, len(got))
        want = {int(k): v for k, v in e["stages"].items()}
        errors = []
        if len(rows) != e["arrivals"] or len(got) != len(rows):
            errors.append(f"{len(rows)} decisions for {e['arrivals']} arrivals")
        if sum(v == "admitted" for v in got.values()) != e["admitted"]:
            errors.append(f"admitted {sum(v == 'admitted' for v in got.values())} != {e['admitted']}")
        wrong = [(d, got.get(d), s) for d, s in want.items() if got.get(d) != s]
        errors += [f"doc {d}: {g} != {s}" for d, g, s in wrong[:5]]
        return errors

    def layers(self, tracer: Tracer, u: dict, jobs) -> dict:
        layout = [*(self.root / "bloom").rglob("*.parquet"), *(self.root / "neardup").rglob("*.parquet")]
        return {
            "admission.admit_fold_s": u["admission.admit_fold_s"],
            "admission.decide_s": u["admission.decide_s"],
            "admission.fold_s": u["finish_s"][0],
            "admission.layout_files": len(layout),
            "admission.admitted_share": self.shares[u["slice"]],
        }

    def describe(self) -> dict:
        return {"input": {
            "standing_docs": gen.ADM_STANDING, "words_per_doc": gen.ADM_WORDS_PER_DOC,
            "arrivals_per_batch": self.expects[0]["arrivals"],
            "admitted_per_batch": self.expects[0]["admitted"],
            "sources": gen.ADM_SOURCES, "quota": gen.ADM_QUOTA, "tau": gen.ADM_TAU,
        }}
