"""Streaming mode: the same job DAG on Structured Streaming (SURVEY.md §7.5).

Shape:
- source: ``readStream.format("kafka")`` with time→offset pushdown
  (``startingOffsetsByTimestamp`` — the reference's
  ``offsetsForTimes(start - BeforeStartTime)``, src/Stream/Topic.cpp:109-155)
  and backpressure via ``maxOffsetsPerTrigger`` (F10 analog of
  MaxQueuedWrites throttling, src/StreamController.cpp:186-201);
- decode: envelope columns from the Kafka value — binary FlatBuffers via
  the pure-Python runtime (``fbs`` package, default) or the JSON fixture
  encoding, both behind the same envelope contract;
- sink: ``foreachBatch`` → the batch runner's binding path and job
  output surface: the ``operators.stats`` scan action, one source filter
  and module transform per source group (``modules.group_streams``; a
  group may have one member), the write fan-out (``runner.run_tasks``),
  the T6 aggregates (``runner.grouped_summary``, here over the staged
  logs at finalize), the job metadata (``runner.job_metadata``) and the
  staged-dataset format (``sinks.staging``). What stays live-only is what
  differs in meaning, all of it inside the same group loop and keyed per
  member: the cross-batch F4 repeat carry, the ev44 cue carry and the cue
  derived from the staged log at finalize, first-message statics,
  batch-keyed idempotent overwrite, and the two pieces of genuinely
  cross-batch state the reference keeps (SURVEY.md §7 "hard parts"):
    * F3 as-of buffer — latest pre-start message per source, emitted when
      the first in-window message arrives or at stop
      (src/Stream/SourceFilter.cpp:61-66);
    * W2 cumulative event index — events written so far per source
      (src/WriterModule/ev44/ev44_Writer.cpp:107-117).
  Both are tiny (one row / one counter per source) and live on the driver,
  exactly like the reference's single-writer state; everything bulky stays
  distributed.
- stop: driver watchdog ends the query once a batch shows event times past
  ``stop + AfterStopTime`` leeway on every partition (F6/F7,
  src/Stream/PartitionFilter.cpp:46-68) — Spark has no per-partition stop,
  so the watchdog mirrors the reference's topic-level check.

Tested Kafka-free by feeding ``process_batch`` a sequence of batch
DataFrames (micro-batch contract is identical); the Kafka wiring itself is
config assembly, exercised wherever a broker exists.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial, reduce
from pathlib import Path

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import map_lookup
from ..modules import accepts_repeated_timestamps, ev44, get_module, group_streams
from ..operators import filters, quality, stats
from ..plan import Plan, StartMessage, build_plan
from ..plan.model import MS_TO_NS
from ..runner import grouped_summary, has_summary, job_metadata, run_tasks, source_keyed
from ..schemas import MESSAGE_SCHEMA
from ..sinks import staging

DEFAULT_TRIGGER = "10 seconds"  # reference DataFlushInterval (StreamerOptions.h:20)
AFTER_STOP_LEEWAY_NS = 10_000_000_000  # AfterStopTime (StreamerOptions.h:25)
BEFORE_START_LEEWAY_NS = 10_000_000_000  # BeforeStartTime (StreamerOptions.h:24)


# --------------------------------------------------------------------------
# Kafka source assembly (S1–S3)
# --------------------------------------------------------------------------

def kafka_reader_options(
    brokers: str,
    topics: list[str],
    start_time_ms: int | None = None,
    stop_time_ms: int | None = None,
    max_offsets_per_trigger: int | None = None,
    min_offsets_per_trigger: int | None = None,
    max_trigger_delay: str | None = None,
    min_partitions: int | None = None,
    streaming: bool = True,
) -> dict[str, str]:
    """The time→offset pushdown contract as a pure option dict — one
    source of truth for the stream and batch readers, unit-testable
    without a broker (tests/test_kafka_arm.py).

    - Global ``startingTimestamp``: Spark resolves start - BeforeStartTime
      per partition without partition enumeration
      (startingOffsetsByTimestamp demands explicit partition numbers —
      there is no "-1" wildcard). Partitions with no message at/after the
      timestamp start at latest, matching the reference's offsetsForTimes
      fallback (Topic.cpp:109-155).
    - ``endingTimestamp`` (batch only): stop + AfterStopTime — F7's early
      termination as a scan bound.
    - ``minPartitions`` splits hot Kafka partitions across more Spark
      tasks than the 1:1 default — the scale knob when a topic has fewer
      partitions than the cluster has cores.
    """
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": ",".join(topics),
    }
    if streaming:
        opts["failOnDataLoss"] = "false"
    if min_partitions:
        opts["minPartitions"] = str(min_partitions)
    if start_time_ms is not None:
        lookback_ms = max(start_time_ms - BEFORE_START_LEEWAY_NS // MS_TO_NS, 0)
        opts["startingTimestamp"] = str(lookback_ms)
        opts["startingOffsetsByTimestampStrategy"] = "latest"
    if stop_time_ms is not None and not streaming:
        opts["endingTimestamp"] = str(stop_time_ms + AFTER_STOP_LEEWAY_NS // MS_TO_NS)
    # F10 backpressure, Spark-native: a per-trigger offset ceiling caps
    # batch size (the reference throttles by consumer poll pacing); the
    # optional floor + max delay batch tiny trickles instead of spinning
    # one micro-batch per message.
    if max_offsets_per_trigger and streaming:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if min_offsets_per_trigger and streaming:
        opts["minOffsetsPerTrigger"] = str(min_offsets_per_trigger)
        opts["maxTriggerDelay"] = max_trigger_delay or "15m"
    return opts


def kafka_stream_reader(
    spark: SparkSession,
    brokers: str,
    topics: list[str],
    start_time_ms: int | None = None,
    max_offsets_per_trigger: int | None = 100_000,
    min_partitions: int | None = None,
):
    """readStream with time→offset pushdown and backpressure
    (see kafka_reader_options)."""
    return spark.readStream.format("kafka").options(
        **kafka_reader_options(
            brokers,
            topics,
            start_time_ms=start_time_ms,
            max_offsets_per_trigger=max_offsets_per_trigger,
            min_partitions=min_partitions,
            streaming=True,
        )
    )


def kafka_batch_reader(
    spark: SparkSession,
    brokers: str,
    topics: list[str],
    start_time_ms: int | None = None,
    stop_time_ms: int | None = None,
):
    """Batch Kafka read with BOTH bounds pushed down
    (endingOffsetsByTimestamp = early-termination F7 as a scan bound)."""
    return spark.read.format("kafka").options(
        **kafka_reader_options(
            brokers,
            topics,
            start_time_ms=start_time_ms,
            stop_time_ms=stop_time_ms,
            streaming=False,
        )
    )


def envelope_from_kafka_json(kafka_df: DataFrame) -> DataFrame:
    """Decode Kafka rows whose value is a JSON-encoded message fixture into
    the engine envelope (D1–D3). ``fbs.decode_kafka_flatbuffers`` implements
    the same contract for real binary messages."""
    parsed = kafka_df.select(
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),
        (F.col("timestamp").cast("double") * 1000).cast("long").alias("kafka_timestamp"),
        F.from_json(F.col("value").cast("string"), MESSAGE_SCHEMA).alias("m"),
    )
    payload_cols = [c for c in MESSAGE_SCHEMA.fieldNames() if c not in
                    ("topic", "partition", "offset", "kafka_timestamp")]
    return parsed.select("topic", "partition", "offset", "kafka_timestamp",
                         *[F.col(f"m.{c}").alias(c) for c in payload_cols])


# --------------------------------------------------------------------------
# Cross-batch state + micro-batch processor (K1 analog)
# --------------------------------------------------------------------------

def _drop_cross_batch_repeats(src: DataFrame, lasts: dict) -> DataFrame:
    """F4 across micro-batches: each (source, partition)'s FIRST row this
    batch (lag == null within the batch, so drop_repeated_timestamps keeps
    it) still repeats if its ts equals the last ts WRITTEN from that
    partition — the reference's one-SourceFilter-per-(source, partition)
    carry state. ``lasts`` is ``{source: {partition: ts}}`` for a source
    group, looked up with ``map_lookup``; the window spec is aligned with
    drop_repeated_timestamps so its exchange + sort are reused and the
    check costs no extra shuffle. The -1 default stands in for partitions
    with no prior tail — ts == null would null the predicate and silently
    drop the row."""
    if not lasts:
        return src
    w = Window.partitionBy(*filters.F4_SOURCE_COLS).orderBy(*filters.F4_ORDER_COLS)
    last_ts = map_lookup(lasts, ["source_name", "partition"], default=-1)
    return (
        src.withColumn("_rn", F.row_number().over(w))
        .filter(~((F.col("_rn") == 1) & (F.col("timestamp") == last_ts)))
        .drop("_rn")
    )


@dataclass
class StreamingJobState:
    """The only cross-batch state the reference keeps, one entry per source:
    the buffered pre-start message and the cumulative event count."""

    asof_buffer: dict[tuple[str, str], Row] = field(default_factory=dict)
    asof_emitted: set = field(default_factory=set)
    events_written: dict[tuple[str, str], int] = field(default_factory=dict)
    # K4 ev44 cue state: LastCueIndex per source (ev44_Writer.h:51)
    cue_last: dict[tuple[str, str], int] = field(default_factory=dict)
    # F4 across micro-batches: ts of the last row written per dedup'ing
    # source — the reference's SourceFilter keeps this across polls
    # (SourceFilter.cpp:90-95), so a repeat straddling a batch boundary
    # must still be dropped.
    # F4 carry across batches, keyed (module, source, partition) — the
    # reference keeps one SourceFilter (and so one repeated-ts state) per
    # (source, partition)
    last_written_ts: dict[tuple[str, str, int], int] = field(default_factory=dict)
    # W5 da00 first-message constants: batch mode folds them inside
    # run_job; streaming captures them on the source's first present batch
    # (path → {dataset: value}; {} marks a done, constant-free binding)
    statics_by_path: dict[str, dict] = field(default_factory=dict)
    batches_processed: int = 0
    # highest Spark batch_id fully processed AND state-saved — replays of
    # completed batches (restart between state save and checkpoint commit)
    # are skipped, giving exactly-once folding of the driver counters
    last_spark_batch_id: int = -1
    max_event_time_ns: int = 0
    finished: bool = False
    # C6 cumulative counters (fed from the per-batch stats action)
    metrics: dict[str, int] = field(default_factory=lambda: dict(quality.ZERO_METRICS))


STATE_FILE = "_stream_state.json"


def _save_job_state(state: StreamingJobState, out_dir: str) -> None:
    """Persist the driver-side cross-batch state (tiny: O(sources)) so a
    restarted foreachBatch query resumes instead of double-counting —
    the driver-state complement of Spark's offset checkpoint. Atomic
    rename so a crash mid-write leaves the previous state intact."""
    import json as _json
    import os as _os

    def buf_dict(row) -> dict:
        return row if isinstance(row, dict) else row.asDict(recursive=True)

    payload = {
        "asof_buffer": [[list(k), buf_dict(v)] for k, v in state.asof_buffer.items()],
        "asof_emitted": [list(k) for k in state.asof_emitted],
        "events_written": [[list(k), v] for k, v in state.events_written.items()],
        "cue_last": [[list(k), v] for k, v in state.cue_last.items()],
        "last_written_ts": [[list(k), v] for k, v in state.last_written_ts.items()],
        "statics_by_path": state.statics_by_path,
        "batches_processed": state.batches_processed,
        "last_spark_batch_id": state.last_spark_batch_id,
        "max_event_time_ns": state.max_event_time_ns,
        "finished": state.finished,
        "metrics": state.metrics,
    }
    target = Path(out_dir) / STATE_FILE
    # a batch with no in-window rows schedules no write job, so the state
    # save may be the first thing to touch the output directory
    target.parent.mkdir(parents=True, exist_ok=True)
    tmp = target.with_suffix(".tmp")
    tmp.write_text(_json.dumps(payload))
    _os.rename(tmp, target)


def _load_job_state(out_dir: str) -> StreamingJobState | None:
    import json as _json

    path = Path(out_dir) / STATE_FILE
    if not path.exists():
        return None
    raw = _json.loads(path.read_text())
    st = StreamingJobState()
    st.asof_buffer = {tuple(k): v for k, v in raw["asof_buffer"]}
    st.asof_emitted = {tuple(k) for k in raw["asof_emitted"]}
    st.events_written = {tuple(k): v for k, v in raw["events_written"]}
    st.cue_last = {tuple(k): v for k, v in raw.get("cue_last", [])}
    # pre-partition-keyed state files carried (module, source) 2-tuples;
    # map them to partition 0 so a restart on newer code loads instead of
    # crashing on unpack. For the common one-partition-per-source layout
    # partition 0 is exact; a multi-partition source under the OLD format
    # had a single (already partition-ambiguous) carry value anyway.
    st.last_written_ts = {
        (tuple(k) if len(k) == 3 else (k[0], k[1], 0)): v
        for k, v in raw["last_written_ts"]
    }
    st.statics_by_path = raw.get("statics_by_path", {})
    st.batches_processed = raw["batches_processed"]
    st.last_spark_batch_id = raw.get("last_spark_batch_id", -1)
    st.max_event_time_ns = raw["max_event_time_ns"]
    st.finished = raw["finished"]
    st.metrics.update(raw["metrics"])
    return st


class StreamingJob:
    """foreachBatch processor executing the job plan per micro-batch."""

    def __init__(
        self,
        spark: SparkSession,
        start: StartMessage,
        out_dir: str,
    ) -> None:
        self.spark = spark
        self.start = start
        self.out_dir = out_dir
        self.plan: Plan = build_plan(start.nexus_structure)
        # resume driver-side state if a previous run of this job left it
        # (foreachBatch restart with the same out_dir + checkpoint)
        self.state = _load_job_state(out_dir) or StreamingJobState()
        self._written_datasets: dict[str, list[str]] = {}
        self.start_ns = start.start_time_ms * MS_TO_NS
        self.stop_ns = (
            None if start.stop_time_ms is None else start.stop_time_ms * MS_TO_NS
        )
        # F6 — poll-status stop machine (PartitionFilter.cpp:46-68): the
        # micro-batch loop is the poll loop; empty batch = EOF→timeout,
        # source exception = error with a 30 s persistence timeout.
        from .partition_filter import PartitionFilter

        self.partition_filter = PartitionFilter(
            stop_time_s=None
            if start.stop_time_ms is None
            else start.stop_time_ms / 1000.0
        )
        self._was_empty = False
        # K5 SWMR analog (see snapshot()): when set, a readable HDF5 file
        # is republished at this path every N micro-batches.
        self._snapshot_path: str | None = None
        self._snapshot_every = 1
        self._snapshot_template: str | None = None

    # -- control-plane hooks ------------------------------------------------

    def notify_source_error(self) -> bool:
        """Feed a consumer/source ERROR into the F6 machine. Returns True
        (and latches ``finished``) once errors have persisted past the
        error timeout (BrokerSettings.h KafkaErrorTimeout = 30 s)."""
        from .partition_filter import PollStatus

        if self.partition_filter.should_stop_partition(PollStatus.ERROR):
            self.state.finished = True
        return self.state.finished

    def retarget_stop(self, stop_time_ms: int) -> None:
        """6s4t stop retarget on a RUNNING job (Commands.h:32-37,
        Master.cpp stop-time update): subsequent micro-batches filter
        against the new stop; the watchdog re-arms against it. Stop-now =
        retarget to the current wall clock."""
        self.stop_ns = stop_time_ms * MS_TO_NS
        # Re-arm the F6 machine too: the reference's Partition::setStopTime
        # propagates the new stop into the partition filter
        # (src/Stream/Partition.cpp:117-123) — without it a stop on a
        # quiet run-forever job can never take the TIMED_OUT exit.
        self.partition_filter.stop_time_s = stop_time_ms / 1000.0
        # finished LATCHES: an error-timeout or earlier stop that already
        # declared the job done must not be un-finished by a later
        # retarget to a future stop time.
        self.state.finished = self.state.finished or (
            self.state.max_event_time_ns > self.stop_ns + AFTER_STOP_LEEWAY_NS
        )

    # -- helpers -----------------------------------------------------------

    def _fold_stats(self, scan: list[Row]) -> set[tuple[str, str]]:
        """Update cross-batch state from the ``stats.scan_stats`` rows
        (one per source-partition); return the set of sources with
        in-window data this batch."""
        st = self.state
        stats.fold_metrics(scan, st.metrics)
        # the per-source latest pre-start row across batches, by
        # (ts, partition, offset)
        stats.fold_buffered(scan, st.asof_buffer)
        present: set[tuple[str, str]] = set()
        for r in scan:
            if r["max_ts"] is not None:
                st.max_event_time_ns = max(st.max_event_time_ns, int(r["max_ts"]))
            if r["n_in_window"]:
                present.add((r["schema"], r["source_name"]))
        return present

    def _buffered_df(self, keys: set[tuple[str, str]]) -> DataFrame | None:
        rows = [
            self.state.asof_buffer[k]
            for k in keys
            if k in self.state.asof_buffer and k not in self.state.asof_emitted
        ]
        if not rows:
            return None
        df = self.spark.createDataFrame(rows, MESSAGE_SCHEMA)
        return df.withColumn("is_buffered_message", F.lit(True))

    # -- the micro-batch hook ---------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        st = self.state
        if st.finished:
            return
        if batch_id <= st.last_spark_batch_id:
            return  # replay of a batch whose state save completed
        batch = quality.with_error_code(batch).persist()
        try:
            # ONE driver action per micro-batch for all cross-batch state
            # (operators.stats, shared with the batch runner)
            scan = stats.scan_stats(batch, self.start_ns, self.stop_ns)
            present = self._fold_stats(scan)

            valid = quality.valid_only(batch)
            in_window = filters.window_filter(valid, self.start_ns, self.stop_ns)
            in_window = in_window.withColumn("is_buffered_message", F.lit(False))

            # sources with in-window data this batch get their buffered
            # row emitted first (SourceFilter: emit on first accepted msg)
            buffered = self._buffered_df(present)
            if buffered is not None:
                in_window = buffered.unionByName(in_window)
                st.asof_emitted.update(present)

            # stats rows are per (source, partition): tails stay
            # partition-keyed (F4 boundary state is per partition, like
            # the reference's SourceFilter-per-(source, partition)), and
            # so do the event counts the ev44 index bases come from.
            wrote = self._write_streams(
                in_window,
                tails={
                    (r["schema"], r["source_name"], r["partition"]): r["tail_ts"]
                    for r in scan
                },
                event_counts=stats.event_counts(scan),
                present=present,
            )

            # stop watchdog against the folded max event time (F6/F7)
            if (
                self.stop_ns is not None
                and st.max_event_time_ns > self.stop_ns + AFTER_STOP_LEEWAY_NS
            ):
                st.finished = True

            # F6 poll-status machine: a non-empty batch resets it; the
            # first empty batch marks EOF, subsequent ones are timeouts —
            # which stop the job only past stop-time + leeway (wall clock).
            from .partition_filter import PollStatus

            if any(r["messages_received"] for r in scan):
                self.partition_filter.should_stop_partition(PollStatus.MESSAGE)
                self._was_empty = False
            elif not self._was_empty:
                self.partition_filter.should_stop_partition(
                    PollStatus.END_OF_PARTITION
                )
                self._was_empty = True
            elif self.partition_filter.should_stop_partition(PollStatus.TIMED_OUT):
                st.finished = True
            st.batches_processed += 1
            st.last_spark_batch_id = batch_id
            _save_job_state(st, self.out_dir)
            if (
                self._snapshot_path
                and wrote  # an empty batch changes nothing readers can see
                # the finished latch means the worker is about to stop the
                # query and run finalize+pack; an in-flight snapshot racing
                # that sequence could replace the finished file with a
                # mid-run image, so never start one once finished is set
                and not st.finished
                and st.batches_processed % self._snapshot_every == 0
            ):
                # Fail-soft: the staged write and state save above already
                # succeeded, so a snapshot publish error (disk pressure,
                # reader holding the target on a quirky FS) must not fail
                # the batch — count it, persist the counter, and retry at
                # the next cadence point.
                try:
                    self.snapshot()
                except Exception:  # noqa: BLE001
                    st.metrics["snapshot_errors"] = (
                        st.metrics.get("snapshot_errors", 0) + 1
                    )
                    _save_job_state(st, self.out_dir)
        finally:
            batch.unpersist()

    def _write_streams(
        self,
        windowed: DataFrame,
        tails: dict[tuple[str, str, int], int | None] | None = None,
        event_counts: dict[tuple[str, str], dict[int, int]] | None = None,
        present: set[tuple[str, str]] | None = None,
    ) -> bool:
        """``present`` (from the stats action) lists the sources with
        in-window rows this batch; bindings outside it keep their lazy
        plan-building and dataset registration (finalize's backfill relies
        on the registry) but skip the staging-write job — an idle source
        costs zero Spark jobs per batch. ``None`` = write everything (the
        finalize buffered-flush path)."""
        st = self.state
        batch_seq = st.batches_processed
        tails = tails or {}
        event_counts = event_counts or {}
        tasks: list = []

        # One filter + transform + partitioned write per source group and
        # dataset, however many sources the group holds (see
        # modules.group_streams); per-source state lives in maps keyed by
        # source, or in a member of a group of one.
        for group in group_streams(self.plan.streams):
            module_id = group[0].module
            module = get_module(module_id)
            config = group[0].config
            sources = [b.source for b in group]
            group_sources = set(sources)
            members = (
                group
                if present is None
                else [b for b in group if (module_id, b.source) in present]
            )
            src = filters.source_filter_many(
                windowed, module_id, [b.source for b in (members or group)]
            )
            if not accepts_repeated_timestamps(module_id):
                src = filters.drop_repeated_timestamps(src)
                # cross-batch repeat filter: the last written ts per
                # (source, partition) rides as a map literal keyed by
                # source, then partition
                lasts: dict = {}
                for (m, s, p), t in st.last_written_ts.items():
                    if m == module_id and s in group_sources:
                        lasts.setdefault(s, {})[p] = t
                src = _drop_cross_batch_repeats(src, lasts)
                for (m, s, p), tail in tails.items():
                    if m == module_id and tail is not None and s in group_sources:
                        st.last_written_ts[(m, s, p)] = int(tail)
            keyed = src.withColumn("__source", F.col("source_name"))
            if hasattr(module, "statics"):
                for b in members:
                    self._capture_statics(module, b, keyed)
            if (config or {}).get("cue_interval"):
                # The batch-local cue would be meaningless across micro-
                # batches: the cumulative cue is carried below (ev44) or
                # derived from the staged log at finalize (the rest), so
                # the interval must not trigger per-batch cue work: ev44's
                # cue_blocked is EAGER (persist + per-block collect) and
                # f144's cue path runs with_row_index's two-pass shuffle
                # just to have its output discarded. Strip the trigger for
                # the transform call only — finalize reads binding.config.
                config = {k: v for k, v in config.items() if k != "cue_interval"}
            if module_id == "ev44":
                outputs = module.transform(
                    keyed, config, bases=stats.source_bases(event_counts, sources)
                )
                # W2: shift each source's indices by its cumulative count
                before = {s: st.events_written.get((module_id, s), 0) for s in sources}
                outputs["pulses"] = outputs["pulses"].withColumn(
                    "event_index", F.col("event_index") + map_lookup(before, ["__source"])
                )
                for b in members:
                    cue = self._ev44_cue(b, keyed, before[b.source])
                    if cue is not None:
                        outputs["cue"] = cue
                for s in sources:
                    st.events_written[(module_id, s)] = before[s] + sum(
                        event_counts.get((module_id, s), {}).values()
                    )
            else:
                outputs = module.transform(keyed, config)
            # write only the sources with data this batch; absent members'
            # dirs come from earlier batches or finalize's backfill
            path_by_source = {b.source: b.path for b in members}
            for dataset, df in outputs.items():
                if members:
                    tasks.append(partial(
                        staging.write_dataset_grouped_batched,
                        staging.with_batch_order(source_keyed(df, group), batch_seq),
                        self.out_dir, path_by_source, dataset,
                    ))
                for b in group:
                    written = self._written_datasets.setdefault(staging.stream_key(b), [])
                    if dataset not in written:
                        written.append(dataset)

        # One write per (group, dataset), all independent Spark jobs over
        # the same persisted batch, on the job's shared fan-out. State
        # mutation stayed above, on one thread.
        run_tasks(self.spark, tasks)
        return bool(tasks)  # did this batch stage anything new?

    def _capture_statics(self, module, binding, src: DataFrame) -> None:
        """W5: constants refined from the source's FIRST message
        (da00_Writer.cpp:92-130) — one driver action per present batch
        until every declared constant has resolved (a data-less first
        message must not latch a constant as permanently missing).
        check_consistency=True: the batch is being read anyway, matching
        the reference's always-verify."""
        prev = self.state.statics_by_path.get(binding.path)
        expected = (
            module.statics_names(binding.config)
            if hasattr(module, "statics_names")
            else None
        )
        unresolved = prev is None or (
            expected is not None and any(not prev.get(n) for n in expected)
        )
        if not unresolved:
            return
        got = module.statics(src, binding.config, check_consistency=True)
        # first capture wins: merge only still-missing keys
        merged = dict(prev or {})
        for name, value in got.items():
            if not merged.get(name) and value not in (None, []):
                merged[name] = value
        self.state.statics_by_path[binding.path] = merged

    def _ev44_cue(self, binding, src: DataFrame, events_base: int) -> DataFrame | None:
        """K4 streaming cue of one present ev44 binding with a
        ``cue_interval``: the threshold recurrence for this batch with the
        carried writer state (EventsWritten / LastCueIndex); cue rows are
        ≈ batch_events/interval — a bounded driver collect — and stage
        like any dataset. None when the batch crosses no threshold."""
        config = binding.config or {}
        if not config.get("cue_interval"):
            return None
        key = (binding.module, binding.source)
        block = config.get("cue_block_size")
        cue_fn = ev44.cue_blocked if block else ev44.cue
        kw = {"block_size": int(block)} if block else {}
        rows = cue_fn(
            src, config, events_base=events_base,
            last_cue=self.state.cue_last.get(key, -1), **kw,
        ).collect()
        if not rows:
            return None
        self.state.cue_last[key] = max(r["cue_index"] for r in rows)
        cue = self.spark.createDataFrame(rows, "cue_index long, cue_timestamp_zero long")
        return cue.withColumn("_row_order", F.col("cue_index"))

    def _meta_base(self) -> tuple[dict, dict, list]:
        """Metadata shared by live snapshots and finalize: the job
        metadata batch and live jobs publish (``runner.job_metadata``, with the
        cumulative ev44 event counters) plus the first-message statics.
        The finalize-only surface (cue derivation, T6 aggregates,
        empty-dataset backfill) stays in finalize() — a snapshot must not
        mutate job state."""
        job_info, metadata_values, group_attrs = job_metadata(
            self.start, self.plan, self.state.events_written
        )
        empty = None
        for binding in self.plan.streams:
            module = get_module(binding.module)
            if hasattr(module, "statics"):
                # first-message-refined constants captured on the source's
                # first present batch (statics_by_path, W5); a source that
                # never produced data falls back to the config-declared
                # constants (explicit / linspace edges) from an empty frame
                stored = self.state.statics_by_path.get(binding.path)
                if stored is None:
                    if empty is None:
                        empty = self.spark.createDataFrame([], MESSAGE_SCHEMA)
                    stored = module.statics(empty, binding.config)
                for name, value in stored.items():
                    metadata_values[f"{binding.path}/{name}"] = value
        return job_info, metadata_values, group_attrs

    def enable_snapshots(
        self,
        hdf_path: str | Path,
        every_n_batches: int = 1,
        template_file: str | Path | None = None,
    ) -> None:
        """Arm per-batch live snapshots: after every ``every_n_batches``
        micro-batches, ``snapshot()`` republishes a readable HDF5 file at
        ``hdf_path`` (typically the job's final output path)."""
        self._snapshot_path = str(hdf_path)
        self._snapshot_every = max(1, int(every_n_batches))
        self._snapshot_template = (
            None if template_file is None else str(template_file)
        )

    def snapshot(
        self,
        hdf_path: str | Path | None = None,
        template_file: str | Path | None = None,
    ) -> str:
        """K5 SWMR analog: publish a valid, readable HDF5 file at the
        output path while the job is still running.

        The reference reopens its output SWMR so external readers can
        follow the write live (src/HDFFile.cpp:183-281). Spark's staged
        outputs are immutable, so the equivalent contract is an atomic
        snapshot: pack the full structure plus all data staged so far into
        a temp file and ``os.replace`` it over the target — a concurrent
        reader always sees a complete, internally-consistent HDF5 file,
        never a torn write. Job state is NOT mutated (no as-of flush, no
        cue/aggregate derivation — those are finalize-time); the snapshot
        metadata carries the plan structure, config statics, mdat values,
        and cumulative ev44 event counts.

        Cost is O(data staged so far) per call, so the intended cadence is
        one per trigger interval or slower; the staging parquet remains the
        continuously-live cheap view. Returns the published path."""
        import os

        from ..sinks import hdf5

        target = str(hdf_path or self._snapshot_path)
        if not target or target == "None":
            raise ValueError("snapshot() needs hdf_path or enable_snapshots()")

        job_info, metadata_values, group_attrs = self._meta_base()
        written: dict[str, list[str]] = {}
        for binding in self.plan.streams:
            skey = staging.stream_key(binding)
            # only datasets whose staged dir exists — a registered-but-
            # never-written dataset is backfilled at finalize, not here
            written[skey] = [
                d
                for d in self._written_datasets.get(skey, [])
                if staging.dataset_dir(self.out_dir, binding.path, d).exists()
            ]

        staging.write_meta(
            self.out_dir,
            self.plan,
            job_info,
            written,
            metadata_values,
            extra_group_attributes=group_attrs,
        )
        tmp = f"{target}.snapshot.tmp"
        hdf5.pack(
            self.out_dir, tmp,
            template_file=template_file or self._snapshot_template,
            file_name=target,
        )
        os.replace(tmp, target)
        return target

    def finalize(self) -> None:
        """At stop: emit still-unconsumed buffered rows (SourceFilter
        flushes its buffer at finish, SourceFilter.cpp:53,61-66), derive
        cumulative cue tables from the staged logs, and write the
        hierarchical metadata so a staged streaming directory packs exactly
        like a batch one."""
        st = self.state
        remaining = set(st.asof_buffer) - st.asof_emitted
        buffered = self._buffered_df(remaining)
        if buffered is not None:
            self._write_streams(buffered, present=remaining)
            st.asof_emitted.update(remaining)

        # Grouped writes emit no partition dir for a source with zero rows
        # across the whole job — backfill schema-complete empty datasets so
        # the pack step and readers find every dataset the meta declares.
        # Zero rows need no Spark job: the schema comes from the (lazy)
        # transform of an empty frame and pyarrow writes the file driver-
        # side; the distributed write is only a fallback for schemas the
        # Arrow conversion can't express.
        empty_src = None
        for binding in self.plan.streams:
            module = get_module(binding.module)
            for dataset in self._written_datasets.get(staging.stream_key(binding), []):
                d = staging.dataset_dir(self.out_dir, binding.path, dataset)
                if d.exists():
                    continue
                if empty_src is None:
                    empty_src = self.spark.createDataFrame([], MESSAGE_SCHEMA)
                out = module.transform(empty_src, binding.config).get(dataset)
                if out is None:
                    continue
                out = staging.with_batch_order(out, 0)
                try:
                    staging.write_empty_dataset(
                        out.schema, self.out_dir, binding.path, dataset
                    )
                except Exception:  # exotic type: pay the distributed write
                    staging.write_dataset(out, self.out_dir, binding.path, dataset)

        # shared-with-snapshot surface (group attrs, statics, ev44 event
        # counters, mdat) + the finalize-only additions below
        job_info, metadata_values, group_attrs = self._meta_base()
        agg_bindings: list = []
        for binding in self.plan.streams:
            written = self._written_datasets.get(staging.stream_key(binding), [])
            # K4: cumulative cue from the staged log in staging order
            cue_interval = (binding.config or {}).get("cue_interval")
            if cue_interval and "log" in written:
                from ..functions import cue_table, with_row_index

                log_dir = staging.dataset_dir(self.out_dir, binding.path, "log")
                log = self.spark.read.parquet(str(log_dir))
                indexed = with_row_index(log, order_cols=("batch", "time"))
                cue = cue_table(indexed, cue_interval).select(
                    "cue_index", "cue_timestamp_zero"
                )
                # the cue frame has no 'batch' column, so the packer won't
                # re-sort it (_ordered_frame) — write it ordered, single
                # file (tiny: one row per cue_interval crossing), or the
                # hash-exchange lineage emits part files in hash order and
                # the packed cue_index breaks its binary-search contract
                staging.write_dataset(
                    cue, self.out_dir, binding.path, "cue",
                    order_by=["cue_index"], single_file=True,
                )
                if "cue" not in written:
                    written.append("cue")
            # T6 job-summary aggregates from staged output
            if "log" in written and has_summary(binding.module, binding.config):
                agg_bindings.append(binding)

        # T6 aggregates over staged logs, with the batch runner's helpers:
        # same-module same-shape bindings union their (tiny, already-
        # reduced) staged logs and run ONE grouped aggregate job, instead
        # of one read+aggregate+collect job per stream — O(module-groups)
        # finalize jobs at 1000 sources.
        def staged_log(b, schema=None) -> DataFrame:
            reader = self.spark.read if schema is None else self.spark.read.schema(schema)
            return reader.parquet(str(staging.dataset_dir(self.out_dir, b.path, "log")))

        tasks = []
        for group in group_streams(agg_bindings):
            # one module and config shape, so one staged schema: infer it
            # once (a footer read per log) and hand it to the other reads
            first = staged_log(group[0])
            log = reduce(DataFrame.unionByName, [
                (first if b is group[0] else staged_log(b, first.schema))
                .withColumn("__source", F.lit(b.source))
                for b in group
            ])
            tasks.append(partial(
                grouped_summary, get_module(group[0].module), log, group[0].config, group
            ))
        metadata_values.update(run_tasks(self.spark, tasks))

        staging.write_meta(
            self.out_dir, self.plan, job_info, self._written_datasets,
            metadata_values, extra_group_attributes=group_attrs,
        )
        # K6 staged-size gauge (FileWriterTask approx_file_size_mb)
        st.metrics["approx_file_size_mb"] = staging.approximate_size_mb(self.out_dir)
        if getattr(self, "registrar", None) is not None:
            from ..metrics import registrar_from_counts

            registrar_from_counts(
                st.metrics, f"writer.{self.start.job_id}", self.registrar
            )


def run_streaming_job_from_files(
    spark: SparkSession,
    start: StartMessage,
    fixture_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    snapshot_path: str | None = None,
    snapshot_every: int = 1,
):
    """S4 — the broker-free streaming path: a REAL StructuredStreaming
    query (readStream JSON-lines directory → foreachBatch(StreamingJob))
    with an AvailableNow trigger, exercising the full query lifecycle
    (offset tracking, trigger, checkpoint, finalize) that the Kafka path
    shares. The reference's stub-consumer apps (file-maker.cpp:100-120
    StubConsumerFactory) fill exactly this role.

    Returns (StreamingQuery, StreamingJob); caller awaits + finalizes.
    """
    job = StreamingJob(spark, start, out_dir)
    if snapshot_path:
        job.enable_snapshots(snapshot_path, snapshot_every)
    envelope = spark.readStream.schema(MESSAGE_SCHEMA).json(fixture_dir)
    query = (
        envelope.writeStream.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .foreachBatch(job.process_batch)
        .start()
    )
    return query, job


def run_streaming_job(
    spark: SparkSession,
    start: StartMessage,
    brokers: str,
    out_dir: str,
    checkpoint_dir: str,
    trigger: str = DEFAULT_TRIGGER,
    available_now: bool = False,
    value_format: str = "flatbuffers",
    topic_lister=None,
    snapshot_path: str | None = None,
    snapshot_every: int = 1,
):
    """Wire Kafka source → decode → foreachBatch(StreamingJob). Returns
    (StreamingQuery, StreamingJob); caller awaits + finalizes.

    ``value_format``: "flatbuffers" decodes real binary messages via the
    pure-Python runtime (fbs package, D1–D3); "json" consumes the JSON
    fixture encoding (S5). ``topic_lister``: optional callable returning
    available topic names — when given, the job's topics are verified to
    exist (S3, exponential-backoff retry) before the query starts."""
    plan = build_plan(start.nexus_structure)
    if topic_lister is not None:
        from ..sources.discovery import await_topics

        await_topics(plan.topics, topic_lister)
    job = StreamingJob(spark, start, out_dir)
    if snapshot_path:
        job.enable_snapshots(snapshot_path, snapshot_every)
    source = kafka_stream_reader(spark, brokers, plan.topics, start.start_time_ms).load()
    if value_format == "flatbuffers":
        from ..fbs import decode_kafka_flatbuffers

        envelope = decode_kafka_flatbuffers(source)
    else:
        envelope = envelope_from_kafka_json(source)
    writer = envelope.writeStream.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger)
    query = writer.foreachBatch(job.process_batch).start()
    return query, job
