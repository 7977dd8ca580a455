"""The stored layout every standing-corpus admission gate probes.

Build once, probe forever: a continuously ingesting corpus must not
recompute its standing side per admission batch (the reference keeps
standing per-stream state and never rescans history per message —
Stream/Partition.cpp:174-223). A layout is a directory holding

- one parquet dir per relation, written concurrently through the
  engine's one fan-out (``runner.run_tasks``, so the jobs join the
  caller's job group);
- ``_meta.json`` — the build parameters, written LAST: it is the
  completion marker, so a crashed build never looks complete, and the
  probe adopts the stored parameters for its arrival side so the two
  sides cannot drift.

The banded families share one relation shape: a ``banding`` relation of
``(id, bucket keys, carried columns)`` rows, CAPPED at ``max_bucket`` rows
per bucket in id order (an uncapped standing banding measured
disk-filling at the ×100 tier — SCALE.md r9; flat images all hash to one
bucket), partitioned by its band column so a probe partition-prunes. A
family is data, not code:

- text near-dup: ``banding`` (band, band_key, doc_id) + the uncapped
  ``fingerprints`` (doc_id, md5) exact-dup backstop + ``shingle_hashes``
  (doc_id, sh) for the Jaccard verify;
- image perceptual hash: ``banding`` (band_idx, band_val, _id, _h);
- video perceptual hash: ``banding`` keyed per frame (_f, band_idx,
  band_val, _id, _h) + ``nframes`` (_id, _nf) for the frame vote;
- Bloom filter: ``words`` + ``params`` (no banding; it shares the
  writer, reader and crash recovery).

Appends fold admitted batches in: unbanded relations append wholesale,
the banding through :func:`cap_increment`, so a bucket never exceeds
``max_bucket`` across any number of appends. Compaction rewrites each
relation to a few files under a rename-aside swap; every reader first
runs :func:`_recover_aside`, so a crash mid-swap never loses a relation.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import runner

META = "_meta.json"


class Relation(NamedTuple):
    name: str  # its directory under the layout root
    partition_by: str | None = None
    files: int = 4  # files per partition value after compaction


class Family(NamedTuple):
    relations: tuple[Relation, ...]
    keys: tuple[str, ...] = ()  # the banding relation's bucket key
    id_col: str = ""  # the banding relation's id, which orders the cap

    def partition_by(self, name: str) -> str | None:
        return next(r.partition_by for r in self.relations if r.name == name)


TEXT = Family(
    (Relation("banding", "band"), Relation("fingerprints"),
     Relation("shingle_hashes")),
    ("band", "band_key"), "doc_id",
)
IMAGE = Family((Relation("banding", "band_idx"),), ("band_idx", "band_val"), "_id")
VIDEO = Family(
    (Relation("banding", "band_idx"), Relation("nframes", files=1)),
    ("_f", "band_idx", "band_val"), "_id",
)
BLOOM = Family((Relation("words"), Relation("params")))


def _write(df: DataFrame, path: str, partition_by: str | None, mode: str) -> None:
    writer = df.write.mode(mode)
    (writer.partitionBy(partition_by) if partition_by else writer).parquet(path)


def write(
    path: str,
    family: Family,
    frames: dict[str, DataFrame],
    meta: dict,
    mode: str = "errorifexists",
) -> None:
    """Build a layout: each of ``family``'s relations from ``frames`` (by
    name), as one concurrent fan-out, then ``_meta.json``."""
    spark = frames[family.relations[0].name].sparkSession
    runner.run_tasks(spark, [
        partial(_write, frames[r.name], os.path.join(path, r.name),
                r.partition_by, mode)
        for r in family.relations
    ])
    with open(os.path.join(path, META), "w") as f:
        json.dump(meta, f)


def read(spark, path: str, family: Family) -> tuple:
    """``(meta, *relations)`` in ``family`` order, each relation recovered
    from a crashed compaction swap first."""
    for r in family.relations:
        _recover_aside(os.path.join(path, r.name))
    with open(os.path.join(path, META)) as f:
        meta = json.load(f)
    return (meta, *(spark.read.parquet(os.path.join(path, r.name))
                    for r in family.relations))


def append_relation(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """Append ``df`` to one relation dir."""
    _write(df, path, partition_by, "append")


def append(spark, path: str, family: Family, frames: dict[str, DataFrame]) -> None:
    """Append each of ``frames`` to its relation, as one concurrent
    fan-out. A banding frame must already be capped
    (:func:`cap_increment`)."""
    runner.run_tasks(spark, [
        partial(append_relation, df, os.path.join(path, name),
                family.partition_by(name))
        for name, df in frames.items()
    ])


def cap(banded: DataFrame, family: Family, max_bucket: int) -> DataFrame:
    """The build-time bucket cap: the first ``max_bucket`` rows of each
    bucket in id order."""
    return (
        banded.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy(*family.keys).orderBy(family.id_col)
            ),
        )
        .filter(F.col("_rk") <= max_bucket)
        .drop("_rk")
    )


def cap_increment(
    banded: DataFrame, stored: DataFrame, max_bucket: int, family: Family
) -> DataFrame:
    """The rows of an uncapped banding increment that fit their bucket's
    budget left after the CALLER-SUPPLIED pre-batch ``stored`` occupancy,
    filled in id order — the one increment cap of every banded layout,
    whether the standing side is a banding dir or a session's in-memory
    view. Every column of ``banded`` is carried; the output is (bucket
    keys, id, the rest).

    The cap only needs the occupancy of the buckets THIS batch touches
    (arrival-side contract): the standing banding is semi-joined to the
    broadcast arrival keys, so the standing side stays a streamed scan
    and the shuffle input is bounded by arrival_buckets × max_bucket
    rows. Those standing rows and the increment are ranked together in
    one bucket window, standing rows first, so an arrival's rank is the
    occupancy plus its id rank among the arrivals — one exchange, no
    occupancy aggregate or join. Standing repeats (a crash-window
    re-append) count toward the occupancy."""
    keys, id_col = list(family.keys), family.id_col
    carry = [c for c in banded.columns if c != id_col and c not in keys]
    cols = [id_col, *keys, *carry]
    touched = stored.join(F.broadcast(banded.select(*keys)), keys, "left_semi")
    ranked = (
        touched.select(*cols, F.lit(True).alias("_standing"))
        .unionByName(banded.select(*cols, F.lit(False).alias("_standing")))
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy(*keys).orderBy(
                    F.col("_standing").desc(), id_col
                )
            ),
        )
    )
    return ranked.filter(
        ~F.col("_standing") & (F.col("_rk") <= max_bucket)
    ).select(*keys, id_col, *carry)


def _recover_aside(dst: str) -> None:
    """Crash recovery for :func:`_swap_aside`: if a swap crashed after
    moving the live dir to ``dst + '.old'`` but before the staged dir
    landed, restore the aside copy; if both exist the swap completed and
    the aside is stale — drop it."""
    old = dst + ".old"
    if os.path.exists(old):
        if os.path.exists(dst):
            shutil.rmtree(old)
        else:
            os.rename(old, dst)


def _swap_aside(staged: str, dst: str) -> None:
    """Publish ``staged`` as ``dst`` rename-first, NEVER
    rmtree-then-rename: move the live dir aside to ``.old``, rename the
    staged dir in, then drop the aside copy. At every instant a live or
    aside copy exists on disk, and :func:`_recover_aside` restores the
    aside copy after a crash."""
    old = dst + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(dst, old)
    os.rename(staged, dst)
    shutil.rmtree(old)


def compact_parquet_subdir(
    spark,
    path: str,
    subdir: str,
    partition_col: str | None = None,
    n_files: int = 4,
) -> None:
    """Small-files compaction for an append-grown layout relation: a
    pure REWRITE (same row multiset — crash-window duplicate rows are
    documented, decision-neutral state and stay; compaction is about
    file count, not content) into ``n_files`` files (per partition
    value when ``partition_col`` is set, preserving the directory
    layout probes partition-prune on), published by :func:`_swap_aside`.
    At 100 TB this is routine maintenance: every append writes one file
    set per micro-batch, and scan cost grows with file COUNT long before
    it grows with bytes."""
    src = os.path.join(path, subdir)
    _recover_aside(src)
    df = spark.read.parquet(src)
    staged = os.path.join(path, f"_compact_{subdir}")
    if partition_col is not None:
        (df.repartition(n_files, partition_col)
         .write.mode("overwrite").partitionBy(partition_col)
         .parquet(staged))
    else:
        df.coalesce(n_files).write.mode("overwrite").parquet(staged)
    _swap_aside(staged, src)


def compact(spark, path: str, family: Family) -> None:
    """Compact every relation of a banded layout."""
    for r in family.relations:
        compact_parquet_subdir(spark, path, r.name, r.partition_by, r.files)
