"""Streaming near-dup shard-count sweep at >=100k active buckets (SCALE.md r6).

Usage: python tools/streaming_shard_sweep.py [R]
  R = replication factor over the sf0.1 documents corpus (R=20 -> 100k
  docs / ~84k active buckets; R=30 -> 150k docs / ~103k buckets).

Replicates the sf0.1 documents corpus R times with per-replica text salt
(distinct shingle sets => distinct band keys => distinct buckets), streams
it in 2 micro-batches through near_dup_candidates at several shard
counts, and records wall time, per-batch addBatch, state rows, and
state-operator memory."""
import json, shutil, sys, tempfile, time
import pathlib
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from kafka_to_nexus_spark.session import get_spark
from pyspark.sql import functions as F
from kafka_to_nexus_spark.llm import dedup as llm_dedup
from kafka_to_nexus_spark.streaming import stateful

R = int(sys.argv[1]) if len(sys.argv) > 1 else 20
spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
sf_dir = "/root/testdata/sf0.1"
base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
n_base = base.count()
reps = spark.range(R).select(F.col("id").alias("rep"))
docs = (base.crossJoin(reps)
        .select((F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
                # per-replica char interleave: EVERY character 5-gram
                # contains the replica char, so shingle sets are fully
                # disjoint per replica and every replica lands in its own
                # buckets (word suffixes left in-word shingles shared:
                # measured only 9.7k distinct buckets for 100k docs)
                F.expr("regexp_replace(text, '(.)', '$1' || char(97 + (doc_id + rep * 1000000) % 26)"
                       " || char(65 + CAST((doc_id + rep * 1000000) / 26 AS INT) % 26)"
                       " || char(97 + CAST((doc_id + rep * 1000000) / 676 AS INT) % 26))").alias("text"),
                (F.lit(1_000_000_000) * (1 + F.col("doc_id") % 1_000_000)).alias("timestamp")))
total = n_base * R
indir = tempfile.mkdtemp(prefix="nd_scale_in_")
half = n_base // 2  # split on BASE id: half of every replica per batch
(docs.filter(F.col("doc_id") % 1_000_000 < half).repartition(4)
 .write.mode("overwrite").json(f"{indir}/in/b0"))
(docs.filter(F.col("doc_id") % 1_000_000 >= half).repartition(4)
 .write.mode("overwrite").json(f"{indir}/in/b1"))
print(f"input: {total} docs, 2 batches", flush=True)
spark.conf.set("spark.sql.shuffle.partitions", "32")

results = []
for shards in (8, 32, 128, 512):
    work = tempfile.mkdtemp(prefix="nd_scale_")
    raw = (spark.readStream.schema("doc_id long, text string, timestamp long")
           .option("maxFilesPerTrigger", 4).json(f"{indir}/in/*"))
    sig = llm_dedup.minhash_signatures(raw.repartition(32), keep_cols=("timestamp",),
                                       hash_engine="xxhash64")
    out = stateful.near_dup_candidates(
        sig, horizon="2 hours", watermark="1 second",
        bands=2, rows_per_band=4, max_bucket=8, shards=shards)
    t0 = time.perf_counter()
    q = (out.writeStream.format("noop")
         .option("checkpointLocation", f"{work}/ckpt").start())
    q.processAllAvailable()
    wall = time.perf_counter() - t0
    prog = [json.loads(str(p)) for p in q.recentProgress]
    q.stop(); shutil.rmtree(work, ignore_errors=True)
    so = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    rec = {
        "shards": shards, "wall_s": round(wall, 2),
        "addBatch_ms": [p["durationMs"].get("addBatch") for p in prog],
        "rows_per_batch": [p["numInputRows"] for p in prog],
        "state_rows": max(s.get("numRowsTotal", 0) for s in so) if so else None,
        "state_mem_bytes": max(s.get("memoryUsedBytes", 0) for s in so) if so else None,
        "commit_ms": [s.get("commitTimeMs") for s in so],
    }
    results.append(rec)
    print(json.dumps(rec), flush=True)
shutil.rmtree(indir, ignore_errors=True)
print("DONE")
