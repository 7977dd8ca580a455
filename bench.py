"""Benchmark harness: run the engine's query inventory at the bench scale
factor and print ONE JSON line with per-query wall-clock.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from kafka_to_nexus_spark import queries as Q
from kafka_to_nexus_spark.session import get_spark


def _e2e_inputs(spark, sf_dir: str, n_streams: int = 4):
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.plan import StartMessage
    from kafka_to_nexus_spark.queries import normalize_event_time
    from kafka_to_nexus_spark.schemas import MESSAGE_SCHEMA
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # normalize_event_time handles both fixture encodings (ns-as-long and
    # µs-timestamp); the envelope wants ns longs (schemas.ENVELOPE_FIELDS).
    ev = normalize_event_time(spark.read.parquet(f"{sf_dir}/events.parquet"), "ts")
    cols = {
        "topic": F.lit("events"),
        "partition": F.lit(0).cast("int"),
        "offset": F.col("event_id"),
        "kafka_timestamp": F.expr("ts_ns div 1000000"),
        "schema": F.lit("f144"),
        "source_name": F.concat(F.lit("sensor_"), (F.col("user_id") % n_streams)),
        "timestamp": F.col("ts_ns"),
        "value": F.col("value"),
    }
    messages = ev.select(
        *[
            cols.get(f.name, F.lit(None).cast(f.dataType)).alias(f.name)
            for f in MESSAGE_SCHEMA.fields
        ]
    )
    sensors = [
        {
            "type": "group",
            "name": f"sensor_{i}",
            "attributes": [{"name": "NX_class", "values": "NXlog"}],
            "children": [
                {
                    "module": "f144",
                    "config": {
                        "topic": "events",
                        "source": f"sensor_{i}",
                        "dtype": "double",
                    },
                }
            ],
        }
        for i in range(n_streams)
    ]
    structure = {
        "children": [{"type": "group", "name": "entry", "children": sensors}]
    }
    start = StartMessage(
        job_id="bench-e2e",
        filename="bench",
        nexus_structure=structure,
        start_time_ms=1704240000000,  # 2024-01-03 (pre-start rows feed F3)
        stop_time_ms=1704844800000,  # 2024-01-10
    )
    return messages, start


def _run_e2e_job(spark, sf_dir: str) -> None:
    import shutil
    import tempfile

    from kafka_to_nexus_spark.runner import run_job

    messages, start = _e2e_inputs(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="bench_job_")
    try:
        run_job(spark, start, messages, out)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _run_e2e_streaming(spark, sf_dir: str, n_batches: int = 5) -> None:
    """Same 4-stream job through the micro-batch processor: the scan is
    sliced into time windows (each one a pushed-down filter), measuring
    per-batch overhead (stats action, state fold, per-stream writes)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.streaming.job import MS_TO_NS, StreamingJob

    messages, start = _e2e_inputs(spark, sf_dir)
    lo_ns = (start.start_time_ms - 86_400_000) * MS_TO_NS  # include pre-start
    hi_ns = (start.stop_time_ms + 86_400_000) * MS_TO_NS
    step = (hi_ns - lo_ns) // n_batches + 1
    out = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        job = StreamingJob(spark, start, out)
        for i in range(n_batches):
            batch = messages.filter(
                (F.col("timestamp") >= lo_ns + i * step)
                & (F.col("timestamp") < lo_ns + (i + 1) * step)
            )
            job.process_batch(batch, i)
        job.finalize()
    finally:
        shutil.rmtree(out, ignore_errors=True)


_NEARDUP_INPUTS: dict = {}  # cleaned at exit (inputs shared across runs)


def _cleanup_neardup_inputs() -> None:
    import shutil

    for d in _NEARDUP_INPUTS.values():
        shutil.rmtree(d, ignore_errors=True)


import atexit  # noqa: E402

atexit.register(_cleanup_neardup_inputs)


def _run_e2e_streaming_neardup(spark, sf_dir: str, n_batches: int = 2) -> None:
    """Streaming near-dup candidates over the documents corpus: minhash
    signatures (narrow map) feed the LSH-bucket state operator through a
    real file-stream query — benches the applyInPandasWithState machinery
    (state store, Arrow batches, per-bucket pairing) at corpus scale."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import dedup as llm_dedup
    from kafka_to_nexus_spark.streaming import stateful

    # Input JSON batches are cached per (sf_dir, n_batches): both min-of-two
    # runs stream the same files; only the checkpoint is fresh per run.
    cache_key = (sf_dir, n_batches)
    indir = _NEARDUP_INPUTS.get(cache_key)
    if indir is None:
        indir = tempfile.mkdtemp(prefix="bench_nd_in_")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id",
            "text",
            (F.lit(1_000_000_000) * (1 + F.col("doc_id"))).alias("timestamp"),
        )
        # CONTIGUOUS id ranges per batch, not doc_id % n: event times must
        # ascend across batches or batch 2 arrives below the watermark and
        # is dropped as late data before it ever reaches the state operator
        total = docs.count()
        step = total // n_batches + 1
        for i in range(n_batches):  # sequential writes: ascending mtimes
            (docs.filter((F.col("doc_id") >= i * step)
                         & (F.col("doc_id") < (i + 1) * step))
             .coalesce(1).write.mode("overwrite").json(f"{indir}/in/b{i}"))
        _NEARDUP_INPUTS[cache_key] = indir
    work = tempfile.mkdtemp(prefix="bench_nd_")
    # State-store partition count is pinned by shuffle.partitions at query
    # start, and each partition costs a fixed commit per micro-batch —
    # size it to the corpus (SCALE.md shuffle-sizing rule) so the entry
    # measures the operator, not 32 near-empty state commits per batch.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        raw = (spark.readStream
               .schema("doc_id long, timestamp long, text string")
               .option("maxFilesPerTrigger", 1).json(f"{indir}/in/*"))
        # one JSON file = one scan partition: spread the shingle-hash work
        # across cores before the (narrow) signature map. The streaming
        # operator has no SQL oracle (pytest-covered), so it benches the
        # PRODUCTION hash engine (xxhash64, JVM-native) rather than the
        # md5 oracle twin the batch correctness gate pins.
        sig = llm_dedup.minhash_signatures(
            raw.repartition(8), keep_cols=("timestamp",),
            hash_engine="xxhash64")
        # 2 bands x 4 rows: the selective config for this clustered corpus
        # (4x2 banding puts ~440 docs in one bucket and ~860k candidate
        # pairs through the verifier — the cap would dominate the timing)
        # horizon covers the whole synthetic time span (1s per doc), so
        # batch-1 buckets are still live when batch 2 pairs against them
        # sharded bucket state: 6458 active buckets at sf0.1 cost ~1 ms of
        # per-state-group overhead EACH per micro-batch in the per-bucket
        # form (the dominant e2e cost, measured r5); the operator's
        # default shard packing drops group invocations to
        # O(bands x shards) with identical pair output (equality-tested)
        out = stateful.near_dup_candidates(
            sig, horizon="2 hours", watermark="1 second",
            bands=2, rows_per_band=4)
        q = (out.writeStream.format("noop")
             .option("checkpointLocation", f"{work}/ckpt").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


def _run_e2e_streaming_quota(spark, sf_dir: str, n_batches: int = 2) -> None:
    """Streaming per-source admission quota over the events table as a
    high-cardinality source stream (user_id as the source key, ~thousands
    of distinct sources at sf0.1): benches the sharded quota state
    operator at its default shard count (the 50k-source measurement
    showed a per-source layout's group exchange IS the batch cost at
    high cardinality; SCALE.md r7)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.streaming import stateful

    cache_key = ("quota", sf_dir, n_batches)
    indir = _NEARDUP_INPUTS.get(cache_key)
    if indir is None:
        indir = tempfile.mkdtemp(prefix="bench_quota_in_")
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            F.concat(F.lit("u"), F.col("user_id")).alias("source_name"),
            F.col("event_id").alias("event_id"),
            # synthetic ascending event time: later event_ids later, so
            # batch 2 (higher ids) stays above batch 1's watermark
            (F.lit(1_000_000) * (1 + F.col("event_id"))).alias("timestamp"),
        )
        total = ev.count()
        step = total // n_batches + 1
        for i in range(n_batches):
            (ev.filter((F.col("event_id") >= i * step)
                       & (F.col("event_id") < (i + 1) * step))
             .coalesce(1).write.mode("overwrite").json(f"{indir}/in/b{i}"))
        _NEARDUP_INPUTS[cache_key] = indir
    work = tempfile.mkdtemp(prefix="bench_quota_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        raw = (spark.readStream
               .schema("source_name string, event_id long, timestamp long")
               .option("maxFilesPerTrigger", 1).json(f"{indir}/in/*"))
        out = stateful.source_quota_stream(
            raw.repartition(8), quota=5)
        q = (out.writeStream.format("noop")
             .option("checkpointLocation", f"{work}/ckpt").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


def _run_e2e_streaming_bloom(spark, sf_dir: str, n_batches: int = 2) -> None:
    """Streaming Bloom admission over the documents corpus (L78): md5
    fingerprints route by hash to partitioned sub-filters; benches the
    constant-state admission path (fixed-bitmap state entries, per-batch
    pandas pass) against the same two-batch corpus the near-dup and
    curation jobs stream. m sized at ~8 bits per expected distinct doc."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.streaming import stateful

    cache_key = (sf_dir, n_batches)  # same inputs as the near-dup job
    indir = _NEARDUP_INPUTS.get(cache_key)
    if indir is None:
        indir = tempfile.mkdtemp(prefix="bench_nd_in_")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id",
            "text",
            (F.lit(1_000_000_000) * (1 + F.col("doc_id"))).alias("timestamp"),
        )
        total = docs.count()
        step = total // n_batches + 1
        for i in range(n_batches):
            (docs.filter((F.col("doc_id") >= i * step)
                         & (F.col("doc_id") < (i + 1) * step))
             .coalesce(1).write.mode("overwrite").json(f"{indir}/in/b{i}"))
        _NEARDUP_INPUTS[cache_key] = indir
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    work = tempfile.mkdtemp(prefix="bench_bloom_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        raw = (spark.readStream
               .schema("doc_id long, timestamp long, text string")
               .option("maxFilesPerTrigger", 1).json(f"{indir}/in/*"))
        fp = raw.repartition(8).select(
            F.md5("text").alias("fingerprint"), "timestamp")
        out = stateful.bloom_admission_stream(
            fp, m_bits=max(63 * 16, 8 * n_docs), k=4, shards=16)
        q = (out.writeStream.format("noop")
             .option("checkpointLocation", f"{work}/ckpt").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)




def _run_e2e_streaming_admission(spark, sf_dir: str, n_batches: int = 2) -> None:
    """Streaming composed admission (L87): per-micro-batch exact gate
    (stored Bloom bitmap) + near-dup gate (stored banding layout) +
    per-source quota, with the ADMITTED docs folded back into both
    layouts in-stream (append_bloom / append_neardup_banding) — the L79
    batch pipeline as continuous ingest. The standing layouts are copied
    per run (the stream mutates them); arrivals are the same
    doc_id % 10 == 0 split the batch admission queries certify on."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kafka_to_nexus_spark import queries as Q
    from kafka_to_nexus_spark.llm import dedup as llm_dedup
    from kafka_to_nexus_spark.streaming import stateful

    work = tempfile.mkdtemp(prefix="bench_admit_")
    nd = f"{work}/neardup"
    src_nd = Q._neardup_layout(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source")
    standing = docs.filter(F.col("doc_id") % 10 != 0)
    arrivals = docs.filter(F.col("doc_id") % 10 == 0)
    bloom = f"{work}/bloom"
    # r14 (guide §2.6): the per-run setup legs are independent — the
    # layout copy (pure filesystem), the bloom-layout build (Spark
    # jobs), and the arrival-input prep (count + ordered JSON writes) —
    # so overlap them instead of paying their latencies serially; the
    # measured admission stream itself is unchanged.
    from concurrent.futures import ThreadPoolExecutor

    def _prep_inputs() -> None:
        n = arrivals.count()
        step = n // n_batches + 1
        from pyspark.sql.window import Window as _W

        ordered = arrivals.withColumn(
            "_rk", F.row_number().over(_W.orderBy("doc_id")))
        for i in range(n_batches):  # sequential: ascending file mtimes
            (ordered.filter((F.col("_rk") > i * step)
                            & (F.col("_rk") <= (i + 1) * step))
             .drop("_rk").coalesce(1)
             .write.mode("overwrite").json(f"{work}/in/b{i}"))
        _prep_inputs.n_arr = n

    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(shutil.copytree, src_nd, nd),
            pool.submit(
                llm_dedup.write_bloom_layout,
                standing.select(F.md5("text").alias("_fp")), bloom, "_fp",
                4, 6),
            pool.submit(_prep_inputs),
        ]
        for f_ in futs:
            f_.result()
    n_arr = _prep_inputs.n_arr
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        stream = (spark.readStream
                  .schema("doc_id long, text string, source string")
                  .option("maxFilesPerTrigger", 1).json(f"{work}/in/*"))
        q = stateful.admission_stream(
            stream, bloom, nd, f"{work}/decisions", f"{work}/ckpt",
            quota=Q._ADMIT_QUOTA, tau=Q._INC_ND_TAU)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert spark.read.parquet(f"{work}/decisions").count() == n_arr
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)

def _run_e2e_streaming_curation(spark, sf_dir: str, n_batches: int = 2) -> None:
    """Streaming curation pipeline over the documents corpus: the
    composed scrub → quality → lang → watermarked exact-dedup →
    selection → sharded per-source quota stages as ONE continuous-ingest
    query (stateful.curation_stream — the streaming twin of the L54
    batch pipeline). Benches two chained stateful operators
    (dropDuplicatesWithinWatermark + quota state) under the narrow
    curation maps at corpus scale."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.streaming import stateful

    cache_key = ("curation", sf_dir, n_batches)
    indir = _NEARDUP_INPUTS.get(cache_key)
    if indir is None:
        indir = tempfile.mkdtemp(prefix="bench_cur_in_")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id",
            "text",
            F.concat(F.lit("s"), (F.col("doc_id") % 50).cast("string")).alias(
                "source_name"
            ),
            (F.lit(1_000_000_000) * (1 + F.col("doc_id"))).alias("timestamp"),
        )
        n = docs.count()
        step = n // n_batches + 1
        for i in range(n_batches):
            (docs.filter((F.col("doc_id") >= i * step)
                         & (F.col("doc_id") < (i + 1) * step))
             .coalesce(1).write.mode("overwrite").json(f"{indir}/in/b{i}"))
        _NEARDUP_INPUTS[cache_key] = indir
    work = tempfile.mkdtemp(prefix="bench_cur_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        raw = (spark.readStream
               .schema("doc_id long, text string, source_name string, "
                       "timestamp long")
               .option("maxFilesPerTrigger", 1).json(f"{indir}/in/*"))
        out = stateful.curation_stream(
            raw.repartition(8), quality_tau=0.3, pii_cap=2,
            quota=40, watermark="10 minutes")
        q = (out.writeStream.format("noop")
             .option("checkpointLocation", f"{work}/ckpt").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)



def _run_e2e_video_admission(spark, sf_dir: str, n_batches: int = 2) -> None:
    """Video curation as continuous ingest (L92+L93+L94 end-to-end): the
    standing corpus's videos DECODE (real AVI walk + JPEG codec) into a
    stored frame-aware fingerprint layout once, then arrival batches of
    raw AVI payloads decode IN-STREAM (video_frames over the streaming
    frame) and pass per micro-batch through the stored-layout admission
    with cap-aware fold-back (video_admit_and_fold) -- re-encoded
    near-copies of standing videos are rejected without the corpus ever
    being re-decoded. Arrivals: per doc_id % 10 == 0, a perturbed twin
    of the standing video (one frame-0 block bumped)."""
    import shutil
    import tempfile

    import pandas as pd
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import multimodal as mm
    from kafka_to_nexus_spark.streaming import stateful

    P = 2147483629

    def _level(d, f, by, bx, bump):
        h0 = (d * 131 + f * 9377 + by * 17 + bx * 29 + 7) % P
        h1 = h0 * h0 % P
        g = (h1 * h1 % P) % 256
        if bump and f == 0 and by == 0 and bx == 0:
            g = (g + 1) % 256
        return g

    def _payloads(bump):
        def gen(it):
            for pdf in it:
                mids, pls = [], []
                for d in pdf["doc_id"]:
                    d = int(d)
                    frames = [
                        mm.encode_jpeg(
                            [[_level(d, f, y // 8, x // 8, bump)
                              for x in range(16)] for y in range(16)])
                        for f in range(d % 3 + 1)
                    ]
                    mids.append(d if not bump else d + 10_000_000)
                    pls.append(mm.encode_avi(frames, 16, 16, fps=10))
                yield pd.DataFrame({"media_id": mids, "payload": pls})
        return gen

    work = tempfile.mkdtemp(prefix="bench_video_")
    # half corpus: the decode cost IS the op and it is measured linear
    # (L92 growth rows); the admission/fold shape is size-independent
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id").filter(F.col("doc_id") % 2 == 0))
    standing_docs = docs.filter(F.col("doc_id") % 10 != 0)
    arrival_docs = docs.filter(F.col("doc_id") % 10 == 0)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # pin the decoded standing frames: the layout write is two
        # actions (banding + nframes) and must not decode twice
        standing_frames = mm.video_frames(standing_docs.mapInPandas(
            _payloads(False), "media_id long, payload binary"
        )).localCheckpoint()
        layout = f"{work}/layout"

        # r14 (guide §2.6): the standing-layout write and the arrival
        # input prep are independent (the layout reads the pinned
        # checkpointed frames; the inputs encode fresh payloads) —
        # overlap them; the measured admission stream is unchanged.
        def _prep_inputs() -> None:
            n = arrival_docs.count()
            step = n // n_batches + 1
            from pyspark.sql.window import Window as _W

            ordered = arrival_docs.withColumn(
                "_rk", F.row_number().over(_W.orderBy("doc_id")))
            for i in range(n_batches):  # sequential: ascending mtimes
                (ordered.filter((F.col("_rk") > i * step)
                                & (F.col("_rk") <= (i + 1) * step))
                 .drop("_rk")
                 .mapInPandas(
                     _payloads(True), "media_id long, payload binary")
                 .coalesce(1)
                 .write.mode("overwrite").parquet(f"{work}/in/b{i}"))
            _prep_inputs.n_arr = n

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_layout = pool.submit(
                mm.write_video_phash_layout, standing_frames, layout)
            f_in = pool.submit(_prep_inputs)
            f_layout.result()
            f_in.result()
        n_arr = _prep_inputs.n_arr

        stream = (spark.readStream
                  .schema("media_id long, payload binary")
                  .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/*"))
        decoded = mm.video_frames(stream)
        q = (decoded.writeStream
             .foreachBatch(lambda b, bid: stateful.video_admit_and_fold(
                 spark, b, bid, layout, f"{work}/decisions"))
             .option("checkpointLocation", f"{work}/ckpt")
             .outputMode("append").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        dec = spark.read.parquet(f"{work}/decisions")
        assert dec.count() == n_arr
        # every multi-frame twin is structurally rejected (frames past
        # frame 0 hash identically to the standing video: n_matched >=
        # nf-1 >= ceil(nf/2) for nf >= 2); single-frame twins depend on
        # the bumped frame's hamming, which the admission decides
        n_multi = arrival_docs.filter(F.col("doc_id") % 3 != 0).count()
        n_dup = dec.filter(F.col("stage") == "video_dup").count()
        assert n_dup >= n_multi, (n_dup, n_multi)
    finally:
        try:
            # checkpoint blocks pin outside the cache manager; free them
            # deterministically (the AdmissionSession release path)
            stateful._release(standing_frames)
        except Exception:
            pass
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    # No CLI flags by design — selection is SPARK_GRAFT_BENCH_ONLY, scale is
    # SPARK_GRAFT_SF_DIR. Reject unknown argv instead of silently running
    # the full registry: a typo'd subset flag once triggered a full run at
    # a non-default SF that overwrote the round artifact.
    if len(sys.argv) > 1:
        sys.exit(
            "bench.py takes no arguments; use SPARK_GRAFT_BENCH_ONLY=q1,q2 "
            "for subsets and SPARK_GRAFT_SF_DIR for the scale directory "
            f"(got: {sys.argv[1:]})"
        )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # JVM/codegen/file-index warmup so the first timed query doesn't absorb
    # one-time session costs (standard bench practice; per-query numbers
    # then reflect the plan, not JIT). Exercise each hot execution shape
    # once — scan, broadcast join, hash aggregate, window — because each
    # compiles its own codegen paths on first use (round 4: the first
    # in-window query was paying ~1.5 s of join/agg JIT).
    Q.register_views(spark, sf_dir)
    spark.sql("SELECT count(*) FROM events").collect()
    # Touch the corpus tables too: documents/embeddings back half the
    # inventory, and a cold first read charges one query with the page-cache
    # fill for everyone after it.
    spark.sql("SELECT count(length(text)) FROM documents").collect()
    spark.sql("SELECT count(size(embedding)) FROM embeddings").collect()
    spark.sql(
        "SELECT o_orderpriority, count(*) AS n, sum(l_extendedprice) AS s "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY o_orderpriority"
    ).collect()
    spark.sql(
        "SELECT max(rn) FROM (SELECT row_number() OVER "
        "(PARTITION BY event_type ORDER BY ts) AS rn FROM events)"
    ).collect()

    # Per-query fault isolation: one broken query must cost its own entry,
    # never the whole artifact (round 2 shipped no numbers because the first
    # failure aborted the run). Errors are recorded as strings; timings stay
    # floats.
    #
    # Steady-state measurement: entries over 0.8 s get a second execution
    # and report the min — the verification-window rotation reorders the
    # run each round, so single-shot numbers would charge whichever query
    # runs first with the session's remaining JIT instead of its plan.
    # Queries that memoize across invocations (the dedup pair shares its
    # CC-label table per session) need the memo dropped between timed runs —
    # otherwise the second run measures the cache hit, not the operator.
    # dedup_keep_canonical stays single-shot BY DESIGN: its honest cost in a
    # session that already ran dedup_components IS the memoized projection.
    RESET_MEMO = {"dedup_components": Q._CC_LABELS_CACHE.clear}
    MEMOIZED = {"dedup_keep_canonical"}
    # Iteration aid: SPARK_GRAFT_BENCH_ONLY=q1,q2 runs a subset. Subset
    # runs never persist to bench_results/ (see below) — a quick
    # single-query recheck must not clobber the round's full artifact.
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    only = {s.strip() for s in only_env.split(",") if s.strip()} or None
    timings: dict[str, object] = {}
    errors: dict[str, str] = {}
    total = 0.0
    for name, fn in Q.queries().items():
        if only is not None and name not in only:
            continue
        def run_once() -> float:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            # noop sink: full execution, no driver materialization cost
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        try:
            dt = run_once()
            if dt > 0.8 and name not in MEMOIZED:
                spark.catalog.clearCache()
                RESET_MEMO.get(name, lambda: None)()
                try:
                    dt = min(dt, run_once())
                except Exception:  # noqa: BLE001
                    pass  # keep the successful first measurement
        except Exception as exc:  # noqa: BLE001 — record and continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            timings[name] = None
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)
        else:
            timings[name] = round(dt, 3)
            total += timings[name]
        finally:
            # Release per-query persisted intermediates so one query's cache
            # doesn't eat executor memory for every query after it. clearCache
            # misses localCheckpoint RDDs — those are freed by the
            # ContextCleaner once Python drops the references → force a GC.
            spark.catalog.clearCache()
            gc.collect()

    # End-to-end ENGINE benchmarks: a full batch job (plan → shared windowed
    # scan with as-of buffering → per-stream f144 transforms + running
    # aggregates → staged parquet sink) over the events table as 4 sources,
    # then the same job through the micro-batch processor.
    for name, job in (
        ("job_e2e_f144_4streams", _run_e2e_job),
        ("job_e2e_streaming_5batches", _run_e2e_streaming),
        ("job_e2e_streaming_neardup", _run_e2e_streaming_neardup),
        ("job_e2e_streaming_quota", _run_e2e_streaming_quota),
        ("job_e2e_streaming_curation", _run_e2e_streaming_curation),
        ("job_e2e_streaming_bloom", _run_e2e_streaming_bloom),
        ("job_e2e_streaming_admission", _run_e2e_streaming_admission),
        ("job_e2e_video_admission", _run_e2e_video_admission),
    ):
        if only is not None and name not in only:
            continue
        try:
            # min-of-two, like the query loop: single-shot numbers are
            # hostage to hypervisor CPU-steal spikes (observed 3 s → 29 s
            # on the same commit under steal)
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                job(spark, sf_dir)
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            timings[name] = None
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)
        else:
            timings[name] = round(best, 3)
            total += timings[name]
    spark.stop()
    out = {
        "metric": "inventory_e2e",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        out["errors"] = errors
    # Stored-layout build audit (VERDICT r13 #5, additive field): when a
    # write-if-absent layout actually BUILT during this run, its build
    # seconds appear here; absence means the probes hit standing layouts
    # built by an earlier process on this machine. No timing semantics
    # change — the build time was always inside the charging query's
    # entry; this only makes it visible.
    if Q.LAYOUT_BUILD_LOG:
        out["layout_built"] = dict(Q.LAYOUT_BUILD_LOG)
    print(json.dumps(out))
    # Persist the FULL per-query dict per round (VERDICT r7 #4): the
    # driver's BENCH_r*.json preserves only a truncated stdout tail —
    # only ~half of the ~90 entries were surviving each round, so
    # cross-round perf comparisons were losing data. The current round
    # number is one past the newest driver-recorded correctness file.
    import re

    root = Path(__file__).resolve().parent
    rounds = [
        int(m.group(1))
        for f in root.glob("CORRECTNESS_r*.json")
        if (m := re.search(r"r(\d+)", f.name))
    ]
    rnd = (max(rounds) + 1) if rounds else 0
    outdir = root / "bench_results"
    outdir.mkdir(exist_ok=True)
    target = _artifact_target(outdir, rnd, len(timings), only is not None,
                              out["sf"])
    if target is None:
        print(f"bench: subset run, not persisting r{rnd}.json",
              file=sys.stderr)
        return
    if target.name != f"r{rnd}.json":
        print(f"bench: not overwriting existing r{rnd}.json; writing "
              f"{target.name} instead", file=sys.stderr)
    target.write_text(json.dumps(out, indent=1) + "\n")


def _artifact_target(outdir: Path, rnd: int, n_entries: int,
                     subset: bool, sf: object) -> Path | None:
    """Where (if anywhere) this run's artifact goes. Subset runs
    (SPARK_GRAFT_BENCH_ONLY) never persist — a quick single-query recheck
    must not clobber the round's full artifact — and a full run may never
    SHRINK an existing r{N}.json (e.g. a sweep that errored half the
    registry away) or REPLACE one recorded at a different scale factor (a
    full run at a debug SF is a valid measurement but not the round
    artifact): both divert to a suffixed sibling instead (ADVICE r8 +
    the round-10 sf0.001 clobber)."""
    if subset:
        return None
    target = outdir / f"r{rnd}.json"
    if target.exists():
        try:
            prev = json.loads(target.read_text())
        except (ValueError, OSError):
            prev = {}
        if prev.get("sf") != sf:
            return outdir / f"r{rnd}.sf{sf}.json"
        if len(prev.get("queries", {})) > n_entries:
            return outdir / f"r{rnd}.partial.json"
    return target


if __name__ == "__main__":
    main()
