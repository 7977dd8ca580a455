"""source_quota_stream shard sweep at 50k sources (SCALE.md r6/r7).

Usage: python tools/quota_shard_sweep.py [N_SOURCES] [ROWS_PER_SOURCE]

Synthesizes N_SOURCES sources × ROWS_PER_SOURCE rows per micro-batch
(two batches; quota=3, so batch 1 admits 3/source and batch 2 is
all-exhausted) and runs source_quota_stream at several shard counts,
recording per-batch addBatch, state rows, state memory, and state rows
updated. The round-6 finding was that at 50k sources the per-group
Arrow exchange (~0.1 ms/group) IS the batch cost; the sharded packing
(one state entry per hash(source)%shards) is the documented lever —
this sweep measures it."""
import json
import pathlib
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from kafka_to_nexus_spark.session import get_spark
from kafka_to_nexus_spark.streaming import stateful

N_SOURCES = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
ROWS_PER_SOURCE = int(sys.argv[2]) if len(sys.argv) > 2 else 4

spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
spark.conf.set("spark.sql.shuffle.partitions", "32")

rows = spark.range(N_SOURCES * ROWS_PER_SOURCE).select(
    F.concat(F.lit("s"), (F.col("id") % N_SOURCES)).alias("source_name"),
    (F.lit(1_000_000_000) * (1 + F.col("id"))).alias("timestamp"),
    F.col("id").cast("double").alias("value"),
)
indir = tempfile.mkdtemp(prefix="quota_scale_in_")
for b in (0, 1):
    (rows.withColumn("timestamp", F.col("timestamp") + b)
     .repartition(4).write.mode("overwrite").json(f"{indir}/in/b{b}"))
print(f"input: {N_SOURCES} sources x {ROWS_PER_SOURCE} rows, 2 batches",
      flush=True)

results = []
for shards in (32, 128):
    work = tempfile.mkdtemp(prefix="quota_scale_")
    raw = (spark.readStream
           .schema("source_name string, timestamp long, value double")
           .option("maxFilesPerTrigger", 4).json(f"{indir}/in/*"))
    out = stateful.source_quota_stream(raw, quota=3, shards=shards)
    t0 = time.perf_counter()
    q = (out.writeStream.format("noop")
         .option("checkpointLocation", f"{work}/ckpt").start())
    q.processAllAvailable()
    wall = time.perf_counter() - t0
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    batches = []
    for p in progress:
        if not p.get("stateOperators"):
            continue
        so = p["stateOperators"][0]
        batches.append({
            "addBatch_ms": p["durationMs"].get("addBatch"),
            "state_rows": so.get("numRowsTotal"),
            "rows_updated": so.get("numRowsUpdated"),
            "state_mem_bytes": so.get("memoryUsedBytes"),
            "input_rows": p.get("numInputRows"),
        })
    rec = {"shards": shards, "wall_s": round(wall, 2), "batches": batches}
    results.append(rec)
    print(json.dumps(rec), flush=True)

print(json.dumps({"sweep": results}))
