"""Seeded input generator for the workloads.

File-writer inputs are Kafka-shaped rows (``topic, partition, offset,
timestamp, value``) whose ``value`` is FlatBuffers built with the
engine's own ``fbs.ess`` encoders; admission inputs are documents
(``doc_id, text, source``). Each timed unit gets its own slice, so no cache across units can help.
Output is cached on disk by workload and seed; the same seed always
gives the same bytes, and generation is never inside a timed region.

Every slice comes with the values a correct run must reproduce
(``expect``), computed here from the generated numbers, not by the
engine.

Run as a script it generates one workload's inputs, so the measured
process only reads them:

    python3 -m perfbench.gen --workload live_pvs --seed 1 --slices 6
"""

from __future__ import annotations

import argparse
import hashlib
import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kafka_to_nexus_spark.fbs import ess

VERSION = 7
MS_TO_NS = 1_000_000

# filemaker_events: one slice is one file-maker job's input.
FM_BANKS = 2
FM_PULSE_HZ = 14
FM_EVENTS_PER_MSG = 400
FM_PVS = 10
FM_PV_HZ = 10
FM_SECONDS = 20

# live_pvs: one slice is one live job, cut into batches of instrument time.
LIVE_PVS = 10
LIVE_BANKS = 2
LIVE_PULSE_HZ = 2
LIVE_EVENTS_PER_MSG = 50
LIVE_BATCH_S = 2
LIVE_BATCHES = 1
LIVE_ALARM_EVERY_S = 4

# corpus_admission: a standing corpus, then one arrival batch per slice.
# Documents are random pseudo-words, so two unrelated documents share
# almost no character 5-shingles; a near-duplicate is a document with a
# one-letter word appended (two new shingles out of about 290: Jaccard
# 0.993, far above ADM_TAU, and the 4-band MinHash LSH misses it with
# probability about 3e-8). The exact stage is the Bloom filter's verdict,
# false positives included, so the generator replays the filter
# (:class:`_Bloom`).
ADM_STANDING = 500
ADM_WORDS_PER_DOC = 50
ADM_VOCAB = 20_000
ADM_SOURCES = 3
ADM_EXACT = 2  # per source and batch: copies of corpus documents
ADM_NEAR = 2  # per source and batch: near-duplicates of corpus documents
ADM_NOVEL = 16  # per source and batch: documents new to the corpus
ADM_QUOTA = 10
ADM_TAU = 0.5
ADM_BLOOM_K = 4
ADM_BLOOM_BITS_PER_KEY = 10

KAFKA_SCHEMA = pa.schema([
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
    ("value", pa.binary()),
])


def _write_kafka(path: Path, rows: list[tuple]) -> None:
    """rows: (topic, partition, offset, timestamp_ms, value)."""
    cols = list(zip(*rows))
    table = pa.table(
        [
            pa.array(cols[0], pa.string()),
            pa.array(cols[1], pa.int32()),
            pa.array(cols[2], pa.int64()),
            pa.array([t * 1000 for t in cols[3]], pa.timestamp("us", tz="UTC")),
            pa.array(cols[4], pa.binary()),
        ],
        schema=KAFKA_SCHEMA,
    )
    pq.write_table(table, path)


class _Offsets:
    def __init__(self) -> None:
        self._next: dict[tuple[str, int], int] = {}

    def take(self, topic: str, partition: int) -> int:
        k = (topic, partition)
        n = self._next.get(k, 0)
        self._next[k] = n + 1
        return n


def _ev44(rng: np.random.Generator, source: str, msg_id: int, t_ms: int, n: int) -> bytes:
    return ess.encode_ev44(
        source, msg_id, [t_ms * MS_TO_NS], [0],
        rng.integers(0, 70_000_000, n).tolist(),
        rng.integers(0, 100_000, n).tolist(),
    )


def _f144_stats(values: list[float]) -> dict:
    return {
        "n": len(values),
        "min": min(values),
        "max": max(values),
        "mean": float(np.sum(np.asarray(values, dtype=np.float64)) / len(values)),
    }


def f144_structure(pvs: list[str], banks: list[str], extras: bool) -> dict:
    """NeXus structure: one NXlog per PV (f144 on topic ``motion``) and
    one NXevent_data per bank (ev44 on topic ``events``)."""
    pv_cfg = {} if extras else {"enable_epics_con_info": False, "enable_alarm_info": False}
    return {
        "children": [{
            "type": "group", "name": "entry",
            "attributes": [{"name": "NX_class", "values": "NXentry"}],
            "children": [
                *({
                    "type": "group", "name": pv,
                    "attributes": [{"name": "NX_class", "values": "NXlog"}],
                    "children": [{"module": "f144", "config": {
                        "topic": "motion", "source": pv, "dtype": "double",
                        **pv_cfg,
                    }}],
                } for pv in pvs),
                *({
                    "type": "group", "name": bank,
                    "attributes": [{"name": "NX_class", "values": "NXevent_data"}],
                    "children": [{"module": "ev44", "config": {
                        "topic": "events", "source": bank,
                    }}],
                } for bank in banks),
            ],
        }]
    }


def _filemaker_slice(rng: np.random.Generator, start_ms: int, path: Path) -> dict:
    off = _Offsets()
    rows: list[tuple] = []
    banks = [f"bank{b}" for b in range(FM_BANKS)]
    pvs = [f"pv{p:02d}" for p in range(FM_PVS)]
    expect = {"events": {}, "pulses": {}, "f144": {}}
    period = 1000.0 / FM_PULSE_HZ
    n_pulses = FM_SECONDS * FM_PULSE_HZ
    for b, bank in enumerate(banks):
        for i in range(n_pulses):
            t = start_ms + 10 + int(i * period)
            rows.append(("events", b, off.take("events", b), t,
                          _ev44(rng, bank, i, t, FM_EVENTS_PER_MSG)))
        expect["events"][bank] = n_pulses * FM_EVENTS_PER_MSG
        expect["pulses"][bank] = n_pulses
    pv_period = 1000 // FM_PV_HZ
    for pv in pvs:
        base = float(rng.uniform(-50, 50))
        values = (base + rng.normal(0, 5, FM_SECONDS * FM_PV_HZ)).tolist()
        for i, v in enumerate(values):
            t = start_ms + 5 + i * pv_period
            rows.append(("motion", 0, off.take("motion", 0), t,
                          ess.encode_f144_double(pv, v, t)))
        expect["f144"][pv] = _f144_stats(values)
    rows.sort(key=lambda r: (r[3], r[0], r[1]))
    _write_kafka(path, rows)
    expect["messages"] = len(rows)
    return expect


def _live_slice(rng: np.random.Generator, start_ms: int, root: Path) -> dict:
    """One live job: ``LIVE_BATCHES`` partitions ``batch=<b>`` of Kafka
    rows, each holding ``LIVE_BATCH_S`` seconds of instrument time."""
    off = _Offsets()
    banks = [f"bank{b}" for b in range(LIVE_BANKS)]
    pvs = [f"pv{p:03d}" for p in range(LIVE_PVS)]
    batches: list[list[tuple]] = [[] for _ in range(LIVE_BATCHES)]
    expect = {"f144": {}, "events": {}, "pulses": {}, "alarms": {}, "status": {}, "batch_msgs": []}
    span_ms = LIVE_BATCH_S * LIVE_BATCHES * 1000

    def put(t_ms: int, row: tuple) -> None:
        batches[min((t_ms - start_ms) // (LIVE_BATCH_S * 1000), LIVE_BATCHES - 1)].append(row)

    for pv in pvs:
        phase = int(rng.integers(0, 1000))
        values = rng.normal(0, 10, span_ms // 1000).tolist()
        for i, v in enumerate(values):
            t = start_ms + phase + i * 1000
            put(t, ("motion", 0, off.take("motion", 0), t, ess.encode_f144_double(pv, v, t)))
        expect["f144"][pv] = _f144_stats(values)
        t = start_ms + 1
        put(t, ("motion", 0, off.take("motion", 0), t, ess.encode_ep01(pv, 2, t)))
        expect["status"][pv] = 1
        n_alarms = 0
        for a in range(0, span_ms, LIVE_ALARM_EVERY_S * 1000):
            t = start_ms + phase + a + 500
            sev = int(rng.integers(0, 3))
            put(t, ("motion", 0, off.take("motion", 0), t,
                    ess.encode_al00(pv, t, sev, f"alarm {a}")))
            n_alarms += 1
        expect["alarms"][pv] = n_alarms
    period = 1000 // LIVE_PULSE_HZ
    for b, bank in enumerate(banks):
        n = 0
        for i in range(span_ms // period):
            t = start_ms + 3 + i * period
            put(t, ("events", b, off.take("events", b), t,
                    _ev44(rng, bank, i, t, LIVE_EVENTS_PER_MSG)))
            n += LIVE_EVENTS_PER_MSG
        expect["events"][bank] = n
        expect["pulses"][bank] = span_ms // period
    for i, rows in enumerate(batches):
        # arrival order within a batch: by time, then topic/partition
        rows.sort(key=lambda r: (r[3], r[0], r[1]))
        d = root / f"batch={i}"
        d.mkdir(parents=True)
        _write_kafka(d / "part-0.parquet", rows)
        expect["batch_msgs"].append(len(rows))
    return expect


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("source", pa.string())])


def _write_docs(path: Path, rows: list[tuple[int, str, str]]) -> None:
    pq.write_table(pa.Table.from_pylist(
        [{"doc_id": d, "text": t, "source": s} for d, t, s in rows], schema=DOC_SCHEMA,
    ), path)


class _Bloom:
    """The stored Bloom layout's documented position family
    (``llm.dedup.bloom_positions``, md5 engine), replayed here: a key is
    the md5 hex of the document text; with ``h = md5(key)``,
    ``h1 = h[0:15] mod m``, ``h2 = h[16:31] mod (m - 1) + 1`` and the
    probes are ``(h1 + i*h2) mod m``. ``m`` is fixed at build time from
    the standing corpus's key count; appends reuse it."""

    def __init__(self, texts: list[str]) -> None:
        n = len(set(texts))
        self.m = max(63, -(-n * ADM_BLOOM_BITS_PER_KEY // 63) * 63)
        self.bits: set[int] = set()
        for t in texts:
            self.add(t)

    def _probes(self, text: str) -> list[int]:
        h = hashlib.md5(hashlib.md5(text.encode()).hexdigest().encode()).hexdigest()
        h1 = int(h[0:15], 16) % self.m
        h2 = int(h[16:31], 16) % (self.m - 1) + 1
        return [(h1 + i * h2) % self.m for i in range(ADM_BLOOM_K)]

    def add(self, text: str) -> None:
        self.bits.update(self._probes(text))

    def __contains__(self, text: str) -> bool:
        return all(b in self.bits for b in self._probes(text))


def _admission(rng: np.random.Generator, root: Path, n_slices: int) -> list[dict]:
    """``standing.parquet`` (the corpus the layouts are built from) and
    ``arrivals/batch-<i>.parquet``. Each batch holds, per source, exact
    copies and near-duplicates of documents already in the corpus
    (standing or admitted by an earlier batch), and novel documents, some
    of them copies of documents an earlier batch rejected on quota. The
    expected stage of every arrival follows from that construction and
    the Bloom filter: a document the filter holds (a copy, or a false
    positive) is an exact duplicate, the gate admits the first
    ``ADM_QUOTA`` other novel documents of each source in ``doc_id``
    order, and admitted documents join the corpus after the batch."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(letters[rng.integers(0, 26, int(n))]) for n in rng.integers(3, 10, ADM_VOCAB)]

    def doc() -> str:
        return " ".join(vocab[j] for j in rng.integers(0, ADM_VOCAB, ADM_WORDS_PER_DOC))

    corpus = [doc() for _ in range(ADM_STANDING)]
    bloom = _Bloom(corpus)
    _write_docs(root / "standing.parquet", [(i, t, "standing") for i, t in enumerate(corpus)])
    (root / "arrivals").mkdir()
    rejected: list[str] = []
    next_id = 1_000_000
    expects = []
    for i in range(n_slices):
        rows: list[tuple[str, str, str]] = []  # (text, source, kind)
        for s in range(ADM_SOURCES):
            src = f"src{s}"
            picks = rng.choice(len(corpus), ADM_EXACT + ADM_NEAR, replace=False)
            rows += [(corpus[j], src, "exact_dup") for j in picks[:ADM_EXACT]]
            rows += [(corpus[j] + " " + str(letters[rng.integers(26)]), src, "near_dup")
                     for j in picks[ADM_EXACT:]]
            novel = [doc() for _ in range(ADM_NOVEL)]
            if rejected:  # a quota-rejected document never joined the corpus
                novel[0] = rejected.pop(int(rng.integers(len(rejected))))
            rows += [(t, src, "novel") for t in novel]
        order = rng.permutation(len(rows))  # doc_id order decides the quota
        docs, stages = [], {}
        taken = {f"src{s}": 0 for s in range(ADM_SOURCES)}
        for k in order:
            text, src, kind = rows[k]
            doc_id, next_id = next_id, next_id + 1
            docs.append((doc_id, text, src))
            if text in bloom:
                kind = "exact_dup"
            elif kind == "novel":
                taken[src] += 1
                kind = "admitted" if taken[src] <= ADM_QUOTA else "quota"
                (corpus if kind == "admitted" else rejected).append(text)
            stages[str(doc_id)] = kind
        for doc_id, text, _ in docs:  # the fold, after the batch's decisions
            if stages[str(doc_id)] == "admitted":
                bloom.add(text)
        _write_docs(root / "arrivals" / f"batch-{i}.parquet", docs)
        expects.append({
            "stages": stages, "arrivals": len(docs),
            "admitted": sum(v == "admitted" for v in stages.values()),
        })
    return expects


def input_dir(work: Path, workload: str, seed: int, n_slices: int) -> Path:
    return work / "inputs" / f"{workload}-s{seed}-n{n_slices}-v{VERSION}"


def load(work: Path, workload: str, seed: int, n_slices: int) -> tuple[Path, list[dict]]:
    """The input directory of a generated workload and its ``expect``
    dicts, one per slice."""
    root = input_dir(work, workload, seed, n_slices)
    return root, json.loads((root / "expect.json").read_text())


def generate(work: Path, workload: str, seed: int, n_slices: int) -> None:
    """Inputs for ``n_slices`` units, cached under ``work/inputs``. The
    file-writer workloads get one parquet dataset ``kafka/`` partitioned
    by ``slice`` (and, for ``live_pvs``, ``batch``), so a run registers
    its input with one read; ``corpus_admission`` gets the files
    :func:`_admission` describes. ``expect.json`` holds one ``expect``
    dict per slice and marks the inputs complete."""
    root = input_dir(work, workload, seed, n_slices)
    done = root / "expect.json"
    if done.exists():
        return
    if root.exists():
        shutil.rmtree(root)
    root.mkdir(parents=True)
    rng = np.random.default_rng([seed, VERSION])
    t0_ms = 1_700_000_000_000 + int(rng.integers(0, 10**9))
    expects: list[dict] = []
    if workload == "filemaker_events":
        for i in range(n_slices):
            start = t0_ms + i * (FM_SECONDS + 10) * 1000
            d = root / "kafka" / f"slice={i}"
            d.mkdir(parents=True)
            e = _filemaker_slice(rng, start, d / "part-0.parquet")
            e.update(start_ms=start, stop_ms=start + FM_SECONDS * 1000 + 50)
            expects.append(e)
    elif workload == "live_pvs":
        for i in range(n_slices):
            start = t0_ms + i * (LIVE_BATCH_S * LIVE_BATCHES + 10) * 1000
            e = _live_slice(rng, start, root / "kafka" / f"slice={i}")
            e.update(start_ms=start, stop_ms=start + LIVE_BATCH_S * LIVE_BATCHES * 1000)
            expects.append(e)
    elif workload == "corpus_admission":
        expects = _admission(rng, root, n_slices)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    done.write_text(json.dumps(expects))


if __name__ == "__main__":
    from perfbench import env

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--slices", type=int, required=True)
    a = p.parse_args()
    generate(env.WORK, a.workload, a.seed, a.slices)
