"""Streaming curation pipeline at WIDTH (VERDICT r9 #6, SCALE.md r10).

Usage: python tools/curation_width_sweep.py [N_SOURCES] [ROWS_PER_SOURCE]

The r9 parity pin ran `curation_stream` on 2 micro-batches x 5k docs;
this sweep composes it WITH the sharded per-source quota at the
50k-source tier (the L44 sweep's scale point) and records steady-state
batch cost and state size for BOTH stateful operators (the watermarked
fingerprint dedup and the quota counters), at shards=32 / 128.

Every synthesized doc is en-scored, above the quality threshold, PII-free
and fingerprint-DISTINCT (a per-row unique word), so every row traverses
every stage and both state stores grow at the worst-case rate — the
honest width measurement. Three micro-batches: batch 1 warms (quota=3,
rows/source/batch=2 -> admits), batch 2 is the steady-state cost under
full state, batch 3 is all-quota-exhausted (pure state-probe cost)."""
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
ROWS_PER_SOURCE = int(sys.argv[2]) if len(sys.argv) > 2 else 2
N_BATCHES = 3

spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
spark.conf.set("spark.sql.shuffle.partitions", "32")

rows = spark.range(N_SOURCES * ROWS_PER_SOURCE).select(
    F.col("id").alias("doc_id"),
    F.concat(F.lit("s"), (F.col("id") % N_SOURCES)).alias("source_name"),
    (F.lit(1_000_000_000) * (1 + F.col("id"))).alias("timestamp"),
    # en stopwords for lang-ID + enough words for the quality score,
    # plus a per-row unique LETTER word so every fingerprint is distinct
    # (the pipeline's fp normalization strips [^a-z ] — a digit-suffixed
    # word would collapse every doc to ONE fingerprint)
    F.concat(
        F.lit("the data and the system are in the table with a value "),
        F.lit("row"),
        F.translate(F.col("id").cast("string"),
                    "0123456789", "abcdefghij"),
    ).alias("text"),
)
indir = tempfile.mkdtemp(prefix="curation_width_in_")
for b in range(N_BATCHES):
    (rows.withColumn("doc_id", F.col("doc_id") + b * 10_000_000)
     .withColumn("timestamp", F.col("timestamp") + b)
     # per-batch letter salt: every batch's docs are NEW fingerprints,
     # so the dedup store grows by input_rows per batch and the quota
     # keeps counting (quota=3, 2 rows/source/batch -> batch 1 admits 2,
     # batch 2 admits the 3rd + rejects the 4th, batch 3 all-exhausted)
     .withColumn("text", F.concat("text", F.lit(f" batch{chr(97 + b)}")))
     .repartition(4).write.mode("overwrite").json(f"{indir}/in/b{b}"))
print(f"input: {N_SOURCES} sources x {ROWS_PER_SOURCE} rows x "
      f"{N_BATCHES} batches", flush=True)

results = []
for shards in (32, 128):
    work = tempfile.mkdtemp(prefix="curation_width_")
    raw = (spark.readStream
           .schema("doc_id long, source_name string, timestamp long, "
                   "text string")
           .option("maxFilesPerTrigger", 4).json(f"{indir}/in/*"))
    out = stateful.curation_stream(
        raw, quality_tau=0.0, pii_cap=5, quota=3, shards=shards)
    t0 = time.perf_counter()
    q = (out.writeStream.format("noop")
         .option("checkpointLocation", f"{work}/ckpt").start())
    q.processAllAvailable()
    wall = time.perf_counter() - t0
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    batches = []
    for p in progress:
        ops = p.get("stateOperators") or []
        if not ops:
            continue
        batches.append({
            "addBatch_ms": p["durationMs"].get("addBatch"),
            "input_rows": p.get("numInputRows"),
            "ops": [
                {
                    "state_rows": so.get("numRowsTotal"),
                    "rows_updated": so.get("numRowsUpdated"),
                    "state_mem_bytes": so.get("memoryUsedBytes"),
                }
                for so in ops
            ],
        })
    rec = {"shards": shards, "wall_s": round(wall, 2), "batches": batches}
    results.append(rec)
    print(json.dumps(rec), flush=True)

print(json.dumps({"sweep": results}))
