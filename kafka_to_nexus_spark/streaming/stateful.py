"""Custom stateful streaming operators via ``applyInPandasWithState``.

The batch runner computes W1/T6 running aggregates with hash aggregation;
in live streaming mode the same running min/max/mean/count per source is a
classic keyed-state operator. This is the Spark-native replacement for the
reference's writer-side accumulators (f144 min/max/mean metadata,
src/WriterModule/f144/f144_Writer.cpp:265-287; event counts,
ev44_Writer.cpp:139-143): state is one tiny tuple per (schema, source) key
held by the state store — checkpointed, partitioned, and scalable to
millions of sources, unlike driver-side dicts.

Works on any streaming DataFrame with the engine envelope columns; each
trigger emits the updated running aggregate per key ("update" output mode
semantics).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

RUNNING_STATS_SCHEMA = StructType(
    [
        StructField("schema", StringType()),
        StructField("source_name", StringType()),
        StructField("minimum_value", DoubleType()),
        StructField("maximum_value", DoubleType()),
        StructField("average_value", DoubleType()),
        StructField("n_values", LongType()),
    ]
)

# state tuple: (min, max, sum, count)
_STATE_SCHEMA = "min double, max double, sum double, count long"


def _update_running_stats(
    key: tuple[str, str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        mn, mx, sm, cnt = state.get
    else:
        mn, mx, sm, cnt = (None, None, 0.0, 0)
    for pdf in pdfs:
        vals = pdf["value"].dropna()
        if len(vals) == 0:
            continue
        b_min, b_max = float(vals.min()), float(vals.max())
        mn = b_min if mn is None else min(mn, b_min)
        mx = b_max if mx is None else max(mx, b_max)
        sm += float(vals.sum())
        cnt += int(len(vals))
    state.update((mn, mx, sm, cnt))
    if cnt:
        yield pd.DataFrame(
            {
                "schema": [key[0]],
                "source_name": [key[1]],
                "minimum_value": [mn],
                "maximum_value": [mx],
                "average_value": [sm / cnt],
                "n_values": [cnt],
            }
        )


def running_stats(stream: DataFrame) -> DataFrame:
    """Keyed running min/max/mean/count per (schema, source_name).

    State store keeps one 4-tuple per source; Arrow batches carry the data.
    Use with ``outputMode("update")``.
    """
    return stream.groupBy("schema", "source_name").applyInPandasWithState(
        _update_running_stats,
        outputStructType=RUNNING_STATS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def batch_equivalent(df: DataFrame) -> DataFrame:
    """The batch-mode plan of the same aggregate (for test parity)."""
    from pyspark.sql import functions as F

    return df.groupBy("schema", "source_name").agg(
        F.min("value").alias("minimum_value"),
        F.max("value").alias("maximum_value"),
        (F.sum("value") / F.count("value")).alias("average_value"),
        F.count("value").alias("n_values"),
    )


def _with_event_time(stream: DataFrame, ts_col: str, watermark: str) -> DataFrame:
    """Project the engine's int64-ns timestamp to a µs ``event_time``
    column and attach the watermark — the shared front door of every
    event-time operator here. Integer division (``div``): double division
    loses precision at ~1.7e18 ns."""
    from pyspark.sql import functions as F

    return stream.withColumn(
        "event_time", F.timestamp_micros(F.expr(f"`{ts_col}` div 1000"))
    ).withWatermark("event_time", watermark)


# ---------------------------------------------------------------------------
# Watermarked windowed aggregation — the built-in late-data path.
# ---------------------------------------------------------------------------

def windowed_counts(
    stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "30 seconds",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Per-source tumbling-window counts/sums with a watermark bounding
    late data. In append output mode a window is emitted exactly once,
    when the watermark passes its end; data arriving after that
    finalization is discarded and never re-emitted. (The guarantee is
    one-directional: a late-but-pre-eviction row may still aggregate.)
    The state store holds only open windows, so state is
    O(open windows × sources) regardless of stream length.

    The engine analog of the reference's leeway handling
    (BeforeStartTime/AfterStopTime, src/StreamerOptions.h:24-25): late
    arrivals inside the leeway participate, older ones are dropped —
    except Spark applies it per window instead of only at the job edge.
    """
    from pyspark.sql import functions as F

    with_time = _with_event_time(stream, ts_col, watermark)
    return (
        with_time.groupBy(
            F.window("event_time", window).alias("win"), F.col("source_name")
        )
        .agg(
            F.count(F.lit(1)).alias("n_messages"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "source_name",
            "n_messages",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Stateful session windows — applyInPandasWithState + event-time timeout.
# ---------------------------------------------------------------------------

SESSION_SCHEMA = StructType(
    [
        StructField("source_name", StringType()),
        StructField("session_start_ns", LongType()),
        StructField("session_end_ns", LongType()),
        StructField("n_events", LongType()),
    ]
)

# state: open session (start, end, count) in ns
_SESSION_STATE = "start long, end long, n long"


def _set_clamped_timeout(state: GroupState, ts_ms: int) -> None:
    """Arm an event-time timeout, clamped above the current watermark — a
    micro-batch can deliver rows whose horizon the watermark has already
    passed, and Spark rejects a stamp at/before the watermark
    (INVALID_TIMEOUT_TIMESTAMP); the clamp finalizes such state at the
    next timeout sweep instead of failing the batch."""
    state.setTimeoutTimestamp(max(ts_ms, state.getCurrentWatermarkMs() + 1))


def _make_session_fn(gap_ns: int):
    def update(
        key: tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # Event-time timeout: the watermark passed the open session's
        # gap horizon with no new data → the session is final.
        if state.hasTimedOut:
            s, e, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "source_name": [key[0]],
                    "session_start_ns": [s],
                    "session_end_ns": [e],
                    "n_events": [n],
                }
            )
            return
        cur = state.get if state.exists else None
        closed: list[tuple[int, int, int]] = []
        ts_all = (
            pd.concat([pdf["timestamp"] for pdf in pdfs]).dropna().sort_values()
        )
        for t in ts_all:
            t = int(t)
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] <= gap_ns:
                # min() on the start: a cross-batch out-of-order row inside
                # the watermark can precede the open session's first event
                cur = (min(cur[0], t), max(cur[1], t), cur[2] + 1)
            else:  # intra-batch gap: previous session is definitively over
                closed.append(cur)
                cur = (t, t, 1)
        if cur is not None:
            state.update(cur)
            # wake when the watermark passes end + gap (ms precision)
            _set_clamped_timeout(state, (cur[1] + gap_ns) // 1_000_000)
        if closed:
            yield pd.DataFrame(
                {
                    "source_name": [key[0]] * len(closed),
                    "session_start_ns": [c[0] for c in closed],
                    "session_end_ns": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    return update


def session_windows(
    stream: DataFrame,
    gap: str = "1 minute",
    watermark: str = "30 seconds",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Event-time session windows per source with a custom stateful
    operator: rows within ``gap`` of the open session extend it; a gap
    inside a batch closes the previous session immediately; an idle
    session closes when the watermark passes its gap horizon
    (``GroupStateTimeout.EventTimeTimeout``). State is one (start, end,
    count) tuple per source in the checkpointed state store — the shape
    ``applyInPandasWithState`` exists for: semantics the built-in
    ``session_window`` aggregation can't express per-key (e.g. emitting
    intra-batch closures eagerly, or extending to per-session payloads).
    """
    from pyspark.sql import functions as F

    gap_ns = _parse_duration_ns(gap)
    with_time = _with_event_time(stream, ts_col, watermark)
    return with_time.groupBy("source_name").applyInPandasWithState(
        _make_session_fn(gap_ns),
        outputStructType=SESSION_SCHEMA,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _parse_duration_ns(text: str) -> int:
    qty, unit = text.split()
    mult = {
        "second": 1_000_000_000, "seconds": 1_000_000_000,
        "minute": 60_000_000_000, "minutes": 60_000_000_000,
        "hour": 3_600_000_000_000, "hours": 3_600_000_000_000,
    }[unit]
    return int(qty) * mult


# ---------------------------------------------------------------------------
# Streaming deduplication — the streaming complement of the batch dedup
# family (llm/dedup.py L1): first occurrence passes through, duplicates are
# suppressed across micro-batches, and the census variant reports copy
# counts when a fingerprint's watermark horizon passes.
# ---------------------------------------------------------------------------


def dedup_stream(
    stream: DataFrame,
    fingerprint_col: str = "fingerprint",
    watermark: str = "10 minutes",
    ts_col: str = "timestamp",
) -> DataFrame:
    """First-occurrence pass-through dedup over a streaming DataFrame.

    Built-in operators all the way: ``dropDuplicatesWithinWatermark`` on
    the fingerprint passes exactly ONE copy per fingerprint within the
    watermark window AND evicts each entry once the watermark passes it —
    plain ``dropDuplicates`` would keep streaming-dedup state forever when
    the event-time column is not part of the subset. Which intra-batch
    copy survives follows Spark's arrival order (partition-race, not
    globally deterministic) — rows from LATER in-horizon batches are
    always suppressed; use ``dedup_census`` when the deterministic
    first-seen timestamp matters. State-store footprint = one entry per
    DISTINCT fingerprint younger than the watermark; a duplicate arriving
    after its original's eviction is treated as new (the price of bounded
    state, same trade the batch MinHash/LSH pipeline makes by banding).

    The caller derives ``fingerprint_col`` (e.g. ``md5(text)`` — the same
    fingerprint the batch ``dedup_exact`` census groups on)."""
    from pyspark.sql import functions as F

    with_time = _with_event_time(stream, ts_col, watermark)
    return with_time.dropDuplicatesWithinWatermark([fingerprint_col]).drop(
        "event_time"
    )


DEDUP_CENSUS_SCHEMA = StructType(
    [
        StructField("fingerprint", StringType()),
        StructField("first_seen_ns", LongType()),
        StructField("n_copies", LongType()),
    ]
)

# state per distinct fingerprint: (first_seen_ns, count, last_seen_ns) —
# last is persisted so an out-of-order in-horizon duplicate can never move
# the event-time timeout EARLIER than an already-armed one
_DEDUP_STATE = "first long, n long, last long"


def _dedup_census_update(
    key: tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    # horizon passed: the census row for this fingerprint is final
    if state.hasTimedOut:
        first, n, _last = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "fingerprint": [key[0]],
                "first_seen_ns": [first],
                "n_copies": [n],
            }
        )
        return
    first, n, last = state.get if state.exists else (None, 0, 0)
    for pdf in pdfs:
        ts = pdf["timestamp"].dropna()
        if len(ts) == 0:
            continue
        b_min, b_max = int(ts.min()), int(ts.max())
        first = b_min if first is None else min(first, b_min)
        last = max(last, b_max)
        n += int(len(ts))
    if first is not None:
        state.update((first, n, last))
        # finalize once the watermark passes the latest copy (ms)
        _set_clamped_timeout(state, last // 1_000_000 + 1)


def dedup_census(
    stream: DataFrame,
    fingerprint_col: str = "fingerprint",
    watermark: str = "30 seconds",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Streaming exact-dedup census: one (fingerprint, first_seen_ns,
    n_copies) row per distinct fingerprint, emitted when the watermark
    passes its last copy (``GroupStateTimeout.EventTimeTimeout``) — the
    streaming analog of the batch ``dedup_exact`` groupBy. State is one
    (first, n) tuple per in-horizon fingerprint in the checkpointed state
    store; emitted fingerprints are evicted, so state stays TTL-bounded on
    unbounded streams."""
    from pyspark.sql import functions as F

    with_time = _with_event_time(stream, ts_col, watermark)
    # canonical column names: the state function reads "fingerprint" and
    # "timestamp" (custom ts_col/fingerprint_col names are remapped here)
    keyed = with_time.select(
        F.col(fingerprint_col).alias("fingerprint"),
        F.col(ts_col).alias("timestamp"),
        "event_time",
    )
    return keyed.groupBy("fingerprint").applyInPandasWithState(
        _dedup_census_update,
        outputStructType=DEDUP_CENSUS_SCHEMA,
        stateStructType=_DEDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming near-duplicate candidates — LSH bucket state with TTL.
# The streaming analog of the batch minhash → band → bucket-join pipeline
# (llm/dedup.py L2/L3): bucket membership lives in the state store instead
# of a self-join, so candidates stream out as soon as both docs have
# arrived, and state stays TTL-bounded on unbounded streams.
# ---------------------------------------------------------------------------

# state per shard: parallel arrays of in-shard sources and their admitted
# counts
_QUOTA_SHARD_STATE = "sources array<string>, admitted array<long>"

#: default shard count of the keyed streaming operators. A constant, not a
#: function of session conf: the shard is part of every state key, so a
#: count derived from ``spark.sql.shuffle.partitions`` at query build
#: would move keys between shards when a query restarts from its
#: checkpoint under another partition count. 128 is the best point of
#: SCALE.md's round-6 sweep (flat 19.4–19.7 s over 8–512 shards at 84k
#: active buckets) and of its round-7 quota sweep (shards=128).
DEFAULT_SHARDS = 128


def _nsmallest_chunks(
    cand: "pd.DataFrame | None", chunk: pd.DataFrame, ts_col: str, budget: int
) -> pd.DataFrame:
    """Running nsmallest-by-ts candidate frame across Arrow chunks
    (memory bound = budget rows). Stable mergesorts compose: ties keep
    arrival order, and earlier chunks' ties beat later chunks' because
    the running candidates are concatenated AHEAD of the new chunk."""
    chunk = chunk.sort_values(ts_col, kind="mergesort").iloc[:budget]
    if cand is None:
        return chunk
    return (
        pd.concat([cand, chunk])
        .sort_values(ts_col, kind="mergesort")
        .iloc[:budget]
    )


def _quota_state_key(src) -> str:
    """State-array key for a source value. The state schema stores string
    keys, but ``str(src)`` alone would collide a NULL source with a
    literal ``"None"`` source string (or NaN with ``"nan"``); tag real
    values with a prefix and reserve an untypeable key for null.

    .. warning:: **state-key format version 2.** Keys were raw
       ``str(src)`` before the null-collision fix added the ``"="``
       prefix / ``"\\x00null"`` sentinel: a sharded-quota streaming query
       restarted from a checkpoint written by the old format finds no
       matching counts and silently re-admits every source up to quota
       again. Restart from a fresh checkpoint when upgrading (same
       contract as the minhash hash-family v2 note in
       :mod:`kafka_to_nexus_spark.llm.dedup`)."""
    if src is None or (isinstance(src, float) and src != src) or src is pd.NA:
        return "\x00null"
    return "=" + str(src)


def _make_quota_shard_fn(quota: int, cols: list, ts_col: str, source_col: str):
    """Quota state function of one shard: ONE state entry holds every
    in-shard source's admitted count as parallel arrays. Admission per
    source is that of one counter per source (property-tested against a
    per-source reference model); what the packing changes is the
    state-store unit — millions of one-long entries become O(shards)
    entries, so a micro-batch costs
    O(shards) group invocations + commits instead of O(sources with
    data) (the near-dup shard packing's lesson: at 50k sources the
    per-group Arrow exchange WAS the batch cost). Sources are keyed by
    :func:`_quota_state_key` in the state arrays (null-safe, no
    ``"None"``-string collision); rows pass through unchanged."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        counts: dict[str, int] = {}
        if state.exists:
            srcs, adm = state.get
            counts = dict(zip(srcs, adm))
        # per-source running candidates across chunks; memory bound =
        # (distinct in-batch sources in this shard) × quota rows
        cands: dict = {}
        budgets: dict = {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            for src, grp in pdf.groupby(source_col, sort=False, dropna=False):
                b = budgets.get(src)
                if b is None:
                    b = budgets[src] = quota - counts.get(
                        _quota_state_key(src), 0
                    )
                if b <= 0:
                    continue
                cands[src] = _nsmallest_chunks(
                    cands.get(src), grp, ts_col, b
                )
        outs = []
        for src, cand in cands.items():
            if not len(cand):
                continue
            skey = _quota_state_key(src)
            before = counts.get(skey, 0)
            out = cand[cols].copy()
            out["quota_rank"] = range(before + 1, before + 1 + len(cand))
            counts[skey] = before + len(cand)
            outs.append(out)
        if outs:  # no-op commit skipped when nothing was admitted
            state.update((list(counts), list(counts.values())))
            yield pd.concat(outs)

    return update


def _check_shards(shards) -> int:
    """The ``shards`` argument contract: an int >= 1. Anything else (a
    string, None, a bool, or shards=0, which would make pmod(hash, 0)
    null and collapse every key into one state entry — or hard-fail
    under ANSI) fails fast here, not as an obscure analysis error."""
    if isinstance(shards, bool) or not isinstance(shards, int) or shards < 1:
        raise ValueError(f"shards must be an int >= 1, got {shards!r}")
    return shards


def source_quota_stream(
    stream: DataFrame,
    quota: int,
    source_col: str = "source_name",
    ts_col: str = "timestamp",
    shards: int = DEFAULT_SHARDS,
) -> DataFrame:
    """Per-source admission quota: pass through at most ``quota`` rows per
    source over the stream's lifetime, dropping the rest — the streaming
    admission twin of the batch ``source_cap_sample`` (L44). The batch
    form picks a deterministic md5-uniform subset because it sees the
    whole corpus; an ingest pipeline cannot, so the streaming form admits
    the FIRST ``quota`` rows per source in event-time order within each
    micro-batch (cross-batch: earlier batches always win — admission is
    monotone). Equal event times fall back to micro-batch arrival order
    (partition-race, same caveat :func:`dedup_stream` documents).

    Output = the input rows that clear the quota, plus ``quota_rank``
    (1-based admission index per source). State is one counter per
    source with no timeout (a quota is a lifetime budget), packed
    ``shards`` sources to a state entry: the grouping key is
    ``pmod(xxhash64(source), shards)`` and each entry holds every
    in-shard source's counter. A micro-batch then costs O(shards) group
    invocations + commits instead of O(sources with data), which the
    50k-source measurement (SCALE.md round 7) showed was about the whole
    batch cost at high source cardinality.

    .. warning:: **state layout.** ``shards`` is part of every state
       key, so a query must restart from its checkpoint with the
       ``shards`` it was started with. Checkpoints of the older
       per-source layout (``shards=None``, the old default) fail the
       restart loudly with ``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE``;
       restart those from a fresh checkpoint. A query started under
       the removed automatic count used 4 × the session's
       ``spark.sql.shuffle.partitions`` at its start: restart it with
       ``shards=`` that number, or from a fresh checkpoint — any other
       count is accepted silently and re-admits every moved source up
       to quota again.
    """
    if quota < 1:
        raise ValueError(f"quota must be >= 1, got {quota}")
    fields = list(stream.schema.fields)
    if any(f.name == "quota_rank" for f in fields):
        raise ValueError("input already has a quota_rank column")
    out_schema = StructType(fields + [StructField("quota_rank", LongType())])
    cols = [f.name for f in fields]
    sharded = stream.withColumn(
        "__quota_shard",
        F.pmod(F.xxhash64(source_col), F.lit(_check_shards(shards))),
    )
    return sharded.groupBy("__quota_shard").applyInPandasWithState(
        _make_quota_shard_fn(quota, cols, ts_col, source_col),
        out_schema,
        _QUOTA_SHARD_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


NEAR_DUP_SCHEMA = StructType(
    [
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("band", LongType()),
    ]
)

# state per (band, shard): parallel arrays of in-shard buckets — band_key,
# member doc ids, last event time (ns) per bucket
_SHARD_STATE = (
    "keys array<string>, members array<array<long>>, lasts array<long>"
)


def _make_shard_fn(max_bucket: int, horizon_ms: int):
    """Near-dup state function of one (band, shard): ONE state entry
    holds every in-shard bucket. Pairing, cap and dedup per bucket are
    those of one state entry per bucket (property-tested against a
    per-bucket reference model); what the packing changes is the
    state-store unit — thousands of tiny per-bucket entries become
    O(shards) entries, so the per-micro-batch cost is O(shards) group
    invocations instead of O(active buckets) (measured 6458 buckets →
    ~1 ms of per-group overhead each at sf0.1: the dominant e2e cost).
    Eviction is sweep-on-call instead of a per-bucket EventTimeTimeout:
    expired buckets are dropped AFTER arrivals are processed (as with a
    per-bucket timeout, which a batch that delivers data suppresses, so
    arrivals still pair against the outgoing members), plus a shard
    timeout at the earliest in-shard expiry for idle shards."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()

        def sweep(buckets: dict[str, tuple[list[int], int]]) -> None:
            for bk in [
                k for k, (_m, l) in buckets.items()
                if l // 1_000_000 + horizon_ms <= wm
            ]:
                del buckets[bk]

        def commit(buckets: dict[str, tuple[list[int], int]]) -> None:
            if not buckets:
                if state.exists:
                    state.remove()
                return
            state.update((
                list(buckets),
                [m for m, _l in buckets.values()],
                [l for _m, l in buckets.values()],
            ))
            earliest = min(l for _m, l in buckets.values())
            _set_clamped_timeout(state, earliest // 1_000_000 + horizon_ms)

        buckets: dict[str, tuple[list[int], int]] = {}
        if state.exists:
            keys, members, lasts = state.get
            buckets = {
                k: (list(m), l) for k, m, l in zip(keys, members, lasts)
            }
        if state.hasTimedOut:  # idle shard: evict expired buckets only
            sweep(buckets)
            commit(buckets)
            return
        rows: list[tuple[int, str, int]] = []  # (timestamp, band_key, doc)
        for pdf in pdfs:
            rows.extend(
                (int(t), str(bk), int(d))
                for t, bk, d in zip(
                    pdf["timestamp"], pdf["band_key"], pdf["doc_id"]
                )
                if not (pd.isna(t) or pd.isna(d))
            )
        if not rows and not state.exists:
            return
        rows.sort()
        pairs: list[tuple[int, int]] = []
        # per-bucket batch-scoped seen sets, seeded from state members: a
        # doc evicted by the max_bucket cap that RE-ARRIVES later in the
        # same micro-batch is still a duplicate (membership-scan `d in
        # docs` would re-pair and re-append it after eviction)
        seen: dict[str, set[int]] = {}
        for t, bk, d in rows:
            docs, last = buckets.get(bk, ([], 0))
            sn = seen.setdefault(bk, set(docs))
            last = max(last, t)
            if d in sn:  # duplicate arrival, incl. post-eviction re-arrival
                buckets[bk] = (docs, last)
                continue
            pairs.extend((min(d, o), max(d, o)) for o in docs)
            docs.append(d)
            sn.add(d)
            if len(docs) > max_bucket:
                del docs[0]
            buckets[bk] = (docs, last)
        sweep(buckets)
        commit(buckets)
        if pairs:
            yield pd.DataFrame(
                {
                    "id_a": [a for a, _ in pairs],
                    "id_b": [b for _, b in pairs],
                    "band": [int(key[0])] * len(pairs),
                }
            )

    return update


def near_dup_candidates(
    stream: DataFrame,
    id_col: str = "doc_id",
    horizon: str = "10 minutes",
    watermark: str = "30 seconds",
    ts_col: str = "timestamp",
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket: int = 64,
    shards: int = DEFAULT_SHARDS,
) -> DataFrame:
    """Streaming LSH near-dup candidate pairs.

    Input: a streaming frame with ``id_col``, ``ts_col`` and MinHash
    signature columns (``llm.dedup.minhash_signatures`` — a narrow map, so
    it composes with readStream). Signatures are banded
    (``llm.dedup.banded_signatures``) and keyed by (band, band_key); each
    bucket's membership is applyInPandasWithState state, so a new doc
    pairs immediately with every in-horizon member of its buckets —
    exactly the batch bucket-join's candidates, emitted incrementally.
    Downstream dedups (id_a, id_b) across bands, as the batch pipeline
    does with ``distinct()``.

    Scale: state = member ids per ACTIVE bucket, evicted ``horizon`` after
    the bucket's last arrival; hot buckets are capped at ``max_bucket``
    most-recent members (candidate recall inside a pathological bucket is
    traded for bounded state, the streaming analog of skew handling).

    ``shards``: buckets are packed ``shards``-to-a-state-entry per band
    (grouping key = (band, pmod(xxhash64(band_key), shards))), so the
    per-micro-batch cost is O(bands × shards) state-group invocations
    instead of O(active buckets) (~1 ms each measured). Pairs are those
    of one entry per bucket (property-tested), and the shard count is
    uncritical over the measured 8–512 range (SCALE.md round 6).

    .. warning:: **state layout.** ``shards`` is part of every state
       key, so a query must restart from its checkpoint with the
       ``shards`` it was started with. Checkpoints of the older
       per-bucket layout (``shards=None``, the old default) fail the
       restart loudly with ``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE``;
       restart those from a fresh checkpoint. A query started under
       the removed automatic count used 4 × the session's
       ``spark.sql.shuffle.partitions`` at its start: restart it with
       ``shards=`` that number, or from a fresh checkpoint — any other
       count is accepted silently, and arrivals in every moved bucket
       miss their standing members' pairs."""
    from pyspark.sql import functions as F

    from ..llm.dedup import banded_signatures

    # canonical column names: the state function reads "doc_id" and
    # "timestamp" (custom id_col/ts_col names are remapped here)
    sig_cols = [c for c in stream.columns if c not in (id_col, ts_col)]
    canon = stream.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(ts_col).alias("timestamp"),
        *sig_cols,
    )
    keyed = banded_signatures(
        canon, "doc_id", bands, rows_per_band, keep_cols=("timestamp",)
    )
    with_time = _with_event_time(keyed, "timestamp", watermark)
    horizon_ms = _parse_duration_ns(horizon) // 1_000_000
    sharded = with_time.withColumn(
        "shard",
        F.pmod(F.xxhash64("band_key"), F.lit(_check_shards(shards))),
    )
    return sharded.groupBy("band", "shard").applyInPandasWithState(
        _make_shard_fn(max_bucket, horizon_ms),
        outputStructType=NEAR_DUP_SCHEMA,
        stateStructType=_SHARD_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def curation_stream(
    stream: DataFrame,
    quality_tau: float,
    pii_cap: int,
    id_col: str = "doc_id",
    ts_col: str = "timestamp",
    watermark: str = "10 minutes",
    quota: int | None = None,
    source_col: str = "source_name",
    shards: int = DEFAULT_SHARDS,
) -> DataFrame:
    """Streaming twin of the batch composed curation pipeline (L54,
    ``curation_pipeline``) — the reference's own shape (continuous
    ingest, one pass per message) applied to the curation surface.

    Stages, in the batch pipeline's order:

    1. **scrub → quality → lang-ID → fingerprint** — the batch library
       transforms (:mod:`..llm.text`) compose UNCHANGED onto the
       streaming frame: they are narrow whole-stage-codegen maps, so the
       micro-batch planner runs them exactly as batch does.
    2. **watermarked exact-dedup** (:func:`dedup_stream`): first ARRIVAL
       per fingerprint survives within the watermark horizon — the
       streaming stand-in for the batch ``rk == 1`` min-doc_id rule,
       identical whenever arrival order follows doc_id order (the parity
       test feeds batches that way; an ingest pipeline gets Kafka-offset
       order, the same contract).
    3. **selection** (lang / quality / PII cap) — narrow filter on the
       dedup survivor, mirroring the batch predicate exactly.
    4. optional **per-source quota** (:func:`source_quota_stream`):
       lifetime admission budget per source, ``quota_rank`` appended.

    Output schema matches the batch pipeline (doc_id, quality, n_pii,
    n_tokens, bpe_tokens — the BPE count is the same codegen replace
    chain), plus (source, quota_rank) when ``quota`` is set. State =
    one fingerprint entry per in-horizon distinct doc (TTL-evicted by
    the watermark) + one counter per source — both bounded on unbounded
    streams; everything else is stateless maps."""
    from ..llm import text as llm_text
    from ..llm.bpe import bpe_count_expr

    enriched = llm_text.lang_id(
        llm_text.quality_score(
            llm_text.scrub_pii(stream), text_col="scrubbed_text"
        ),
        text_col="scrubbed_text",
    ).withColumn(
        # the batch pipeline's fingerprint normalization, inline on the
        # same narrow map
        "fp",
        F.md5(
            F.regexp_replace(F.lower(F.col("scrubbed_text")), "[^a-z ]", "")
        ),
    )
    deduped = dedup_stream(enriched, "fp", watermark, ts_col)
    n_pii = (
        F.col("n_email") + F.col("n_phone") + F.col("n_ipv4") + F.col("n_url")
    )
    kept = deduped.filter(
        (F.col("predicted_lang") == "en")
        & (F.round(F.col("quality"), 6) >= quality_tau)
        & (n_pii <= pii_cap)
    )
    out_cols = [
        F.col(id_col),
        F.round(F.col("quality"), 6).alias("quality"),
        n_pii.cast("long").alias("n_pii"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.expr(bpe_count_expr("scrubbed_text")).cast("long").alias(
            "bpe_tokens"
        ),
    ]
    if quota is None:
        return kept.select(*out_cols)
    admitted = source_quota_stream(kept, quota, source_col, ts_col, shards)
    return admitted.select(
        *out_cols, F.col(source_col), F.col("quota_rank")
    )


# ---------------------------------------------------------------------------
# Streaming Bloom admission (L78): constant-size dedup state
# ---------------------------------------------------------------------------
# The streaming face of the L73 admission gate, and the state-size
# counterpoint to dedup_stream: dropDuplicatesWithinWatermark holds ONE
# STATE ENTRY PER DISTINCT in-horizon fingerprint (unbounded in corpus
# richness), while the Bloom holds a FIXED bitmap — m_bits/63 longs
# total, forever, at the price of a bounded false-drop rate and no
# eviction (a Bloom can't forget; rotating to a fresh filter is a
# restart-time decision, like resizing the batch layout). Partitioned-
# bloom sharding: a fingerprint routes BY HASH to one of `shards`
# independent sub-filters of m_bits/shards bits each — all k probes of a
# doc live in one state group, so admission is decided (and the bits
# inserted) in a single stateful pass with no cross-group join; the
# aggregate FPR equals a monolithic m-bit filter's. In-batch order is
# pinned (sort by timestamp, fingerprint), so an exact duplicate can
# NEVER be admitted twice — within a batch, across batches, forever.

BLOOM_ADMIT_SCHEMA = StructType(
    [
        StructField("fingerprint", StringType()),
        StructField("timestamp", LongType()),
        StructField("bloom_admitted", BooleanType()),
    ]
)

# dense sub-filter: one long per 63 bits (the L73 word layout), plus the
# geometry it was laid out under — (m_sub, k) ride along in the state so
# a resumed checkpoint can PROVE the constructor args still match the
# stored bits (reinterpreting a bitmap under different positions/widths
# would silently re-admit duplicates; see bloom_admission_stream).
#
# MIGRATION (ADVICE r11): this schema widened from the r10 'bits
# array<long>' — a checkpoint written under the 1-field schema fails
# Structured Streaming's state-store schema-compatibility check at
# resume (before any user code runs, so an in-code legacy backfill is
# unreachable). Pre-widening checkpoints must be ROTATED: start a fresh
# checkpoint and, if continuity matters, replay the standing
# fingerprints through it first — the same rotate-to-resize discipline
# the geometry ValueError below prescribes.
_BLOOM_STATE = "bits array<long>, m_sub long, k long"


def _bloom_positions_py(fp: str, k: int, m_bits: int) -> list[int]:
    """Python twin of llm.dedup.bloom_positions (Kirsch-Mitzenmaier off
    one md5: h1 = hex[0:15], h2 = hex[16:31] forced into [1, m-1]) —
    pinned equal to the Spark expression by a unit test so the streaming
    and batch gates can never drift."""
    import hashlib

    h = hashlib.md5(fp.encode()).hexdigest()
    h1 = int(h[0:15], 16) % m_bits
    h2 = int(h[16:31], 16) % (m_bits - 1) + 1
    return [(h1 + i * h2) % m_bits for i in range(k)]


def _make_bloom_admit_fn(m_sub: int, k: int):
    n_words = (m_sub + 62) // 63

    def update(
        key: tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            bits, stored_m, stored_k = state.get
            if stored_m != m_sub or stored_k != k:
                raise ValueError(
                    f"bloom_admission_stream checkpoint was laid out with "
                    f"(m_sub={stored_m}, k={stored_k}) but was resumed with "
                    f"(m_sub={m_sub}, k={k}); reinterpreting the stored "
                    "bitmap under different positions/widths would admit "
                    "duplicates — rotate to a fresh checkpoint to resize"
                )
        else:
            bits = [0] * n_words
        bits = list(bits)
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows) == 0:
            return
        rows = rows.sort_values(["timestamp", "fingerprint"])
        out = []
        for fp, ts in zip(rows["fingerprint"], rows["timestamp"]):
            seen = True
            for pos in _bloom_positions_py(str(fp), k, m_sub):
                w, b = divmod(pos, 63)
                mask = 1 << b
                if not (bits[w] & mask):
                    seen = False
                    bits[w] |= mask
            out.append((fp, ts, not seen))
        state.update((bits, m_sub, k))
        yield pd.DataFrame(
            out, columns=["fingerprint", "timestamp", "bloom_admitted"]
        )

    return update


def bloom_admission_stream(
    stream: DataFrame,
    m_bits: int,
    k: int = 4,
    shards: int = 8,
    fingerprint_col: str = "fingerprint",
    ts_col: str = "timestamp",
) -> DataFrame:
    """First-occurrence admission with CONSTANT state: emits every row
    with ``bloom_admitted`` = False iff all k probed bits were already
    set before this row's insertion (bits are inserted for every row,
    admitted or not — idempotent, and what keeps later copies of a
    false-positive arrival consistent). Size ``m_bits`` for the expected
    DISTINCT fingerprint count (6-10 bits per key), and round the
    per-shard width up to whole 63-bit words. The state rows carry their
    own (m_sub, k); resuming an existing checkpoint with different
    ``m_bits``/``shards``/``k`` fails loudly instead of silently
    reinterpreting the stored bitmap — resizing means rotating to a
    fresh checkpoint (and, if continuity matters, replaying the standing
    fingerprints through the new geometry first)."""
    from pyspark.sql import functions as F

    m_sub = ((m_bits // shards + 62) // 63) * 63
    canon = stream.select(
        F.col(fingerprint_col).cast("string").alias("fingerprint"),
        F.col(ts_col).cast("long").alias("timestamp"),
        F.pmod(F.xxhash64(F.col(fingerprint_col).cast("string")),
               F.lit(shards)).alias("shard"),
    )
    return canon.groupBy("shard").applyInPandasWithState(
        _make_bloom_admit_fn(m_sub, k),
        outputStructType=BLOOM_ADMIT_SCHEMA,
        stateStructType=_BLOOM_STATE,
        outputMode="append",  # each decision emits once, final
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- L87: streaming composed admission against the STORED layouts -----------
# The L79 batch pipeline, run per micro-batch (VERDICT r10 #5): exact
# gate = the stored Bloom bitmap, near-dup gate = the stored banding
# layout, quota = per-source rank within the batch — and the admitted
# docs FOLD BACK into both layouts in-stream (append_bloom /
# append_neardup_banding), so a later micro-batch's duplicate of an
# earlier admission is rejected without the corpus ever being rescanned.
# The reference analog is its standing per-stream state advanced per
# message (Stream/Partition.cpp:174-223); this is that contract for
# content-defined identity over stored state.


def admit_batch(
    spark,
    batch: DataFrame,
    bloom_layout: str,
    neardup_layout: str,
    quota: int,
    tau: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """One arrival batch through the three stored-layout admission
    stages → (doc_id, source, stage) with stage ∈ exact_dup | near_dup |
    quota | admitted. This function IS the streaming gate's body
    (:func:`admission_stream` calls it per micro-batch) and its batch
    twin — stream ≡ batch on identical batch splits holds by
    construction, which is what the parity pytest pins.

    The exact stage is the Bloom membership verdict: in-stream there is
    no corpus relation to re-join, so a bloom-positive arrival is
    treated as an exact duplicate — false positives at the filter's
    measured FPR (the L73 certificate) cost a dropped novel doc, never
    an admitted duplicate (the conservative direction for dedup). The
    quota is per source PER BATCH in doc_id order (deterministic);
    lifetime budgets are :func:`source_quota_stream`'s contract."""
    state = _read_admission_state(spark, bloom_layout, neardup_layout)
    return _admit_batch_against(
        state, batch, quota, tau, text_col, id_col, source_col
    )


def _read_admission_state(spark, bloom_layout: str, neardup_layout: str) -> dict:
    """One read of every layout relation the admission gate probes —
    :func:`admit_batch` builds it fresh per call (the batch twin);
    :class:`AdmissionSession` builds it ONCE, persists the relations,
    and advances them incrementally per fold (VERDICT r11 #5)."""
    from ..llm import dedup as llm_dedup
    from ..llm import layout

    meta, params, words = llm_dedup.read_bloom_layout(spark, bloom_layout)
    nd_p, band, fp, sh = layout.read(spark, neardup_layout, layout.TEXT)
    return {
        "bloom_meta": meta, "bloom_params": params, "words": words,
        "nd_params": nd_p, "band": band, "fp": fp, "sh": sh,
    }


def _admit_batch_against(
    state: dict,
    batch: DataFrame,
    quota: int,
    tau: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """:func:`admit_batch`'s body over caller-held layout relations: the
    decide over the batch's (lazy) arrival ledger."""
    return _decide(
        state, _arrival_ledger(state, batch, text_col, id_col, source_col),
        quota, tau, id_col, source_col,
    )


def _arrival_ledger(
    state: dict,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """A trigger's arrival ledger: one row per arrival, ``(doc_id, source,
    fp, pos, bands, sh)`` — the md5 fingerprint, its k Bloom probe
    positions at the stored ``m_bits``, the LSH bands and the
    shingle-hash array, in one narrow pass over the batch. The decide
    probes it and the fold projects it, so the md5, MinHash and shingle
    expressions run once per arrival per trigger (Structured Streaming's
    incremental execution: each input-derived relation computed once),
    and they are the layout writer's own (``_neardup_rows``), so the
    arrival side and the stored side cannot drift. ``m_bits`` comes from
    the state's params relation."""
    from ..llm import dedup as llm_dedup

    meta = state["bloom_meta"]
    rows = llm_dedup._neardup_rows(
        batch, state["nd_params"], text_col, id_col, keep_cols=(source_col,)
    )
    positions = llm_dedup._BLOOM_ENGINES[meta["hash_engine"]](
        F.col("fp"), meta["k"], F.col("m_bits")
    )
    return rows.crossJoin(
        F.broadcast(state["bloom_params"].select("m_bits"))
    ).select(
        "doc_id", F.col(source_col).alias("source"), "fp",
        positions.alias("pos"), "bands", "sh",
    )


def _decide(
    state: dict,
    ledger: DataFrame,
    quota: int,
    tau: float,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """(id_col, source_col, stage) per ledger row, stage ∈ exact_dup |
    near_dup | quota | admitted. Every probe broadcasts an arrival-sized
    projection of the ledger against a standing relation, which stays a
    streamed scan:

    - Bloom: positions ⋈ ``words`` on the word index; an arrival is
      positive iff all k of its probes hit. A probe counts once however
      many word rows it hits, so ``words`` may hold one row per word and
      increment (the session's union of pieces, unaggregated).
    - Near-dup: bands ⋈ ``band`` ∪ fp ⋈ ``fp`` gives the candidates;
      candidates ⋈ ``sh`` gives each arrival's best Jaccard.
    - Quota: one running sum of survivors per source in doc_id order.

    The probe outcomes meet the ledger in one doc-keyed aggregate, not a
    join per probe. The generators are the ``_outer`` forms for the
    reason ``llm.dedup._neardup_projections`` gives: over a lazy ledger a
    non-outer one re-evaluates the arrival hashing in an inferred
    filter (``pos`` and ``bands`` are never empty, so the rows are the
    same)."""
    from pyspark.sql import Window

    from ..llm import dedup as llm_dedup

    probes = ledger.select(
        "doc_id", "source", F.posexplode_outer("pos").alias("probe", "pos")
    )
    hits = (
        F.broadcast(probes)
        .join(state["words"], llm_dedup._pos_word_idx() == F.col("word_idx"))
        .filter(F.col("word").bitwiseAND(llm_dedup._pos_mask()) != 0)
        .select("doc_id", "source", "probe")
    )
    arrival = [F.col("doc_id").alias("id_a"), "source", F.col("sh").alias("sh_a")]
    cand_lsh = F.broadcast(ledger.select(*arrival, F.inline_outer("bands"))).join(
        state["band"], ["band", "band_key"]
    )
    cand_fp = F.broadcast(ledger.select(*arrival, "fp")).join(state["fp"], "fp")
    cand = cand_lsh.select(
        "id_a", "source", "sh_a", F.col("doc_id").alias("id_b")
    ).union(cand_fp.select("id_a", "source", "sh_a", F.col("doc_id").alias("id_b")))
    # the verify join builds on the candidate (arrival-bounded) side and
    # streams the standing shingle relation
    verified = F.broadcast(cand).join(
        state["sh"], F.col("id_b") == F.col("doc_id")
    ).select(
        F.col("id_a").alias("doc_id"),
        "source",
        (
            F.size(F.array_intersect("sh_a", "sh"))
            / F.size(F.array_union("sh_a", "sh"))
        ).alias("jaccard"),
    )
    per_doc = (
        ledger.select("doc_id", "source")
        .unionByName(hits, allowMissingColumns=True)
        .unionByName(verified, allowMissingColumns=True)
        # partitioned once, by source: the aggregate and the quota
        # window both run on this one exchange
        .repartition("source")
        .groupBy("source", "doc_id")
        .agg(
            (
                F.size(F.collect_set("probe")) == state["bloom_meta"]["k"]
            ).alias("_positive"),
            F.max(F.round("jaccard", 6)).alias("_best"),
        )
    )
    near = F.coalesce(F.col("_best") >= tau, F.lit(False))
    rank = F.sum((~F.col("_positive") & ~near).cast("int")).over(
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_doc.select(
        F.col("doc_id").alias(id_col),
        F.col("source").alias(source_col),
        F.when(F.col("_positive"), F.lit("exact_dup"))
        .when(near, F.lit("near_dup"))
        .when(rank > quota, F.lit("quota"))
        .otherwise(F.lit("admitted"))
        .alias("stage"),
    )


def _fold_appends(
    state: dict,
    ledger: DataFrame,
    admitted_ids: list,
    bloom_dir: str,
    neardup_layout: str,
) -> list[tuple]:
    """The admitted arrivals' layout increments, as ``(relation, frame,
    path, partition_by)``: projections of the trigger's ledger filtered
    to the admitted ids — the words increment (``bit_or`` of the
    positions), the params row (distinct fingerprints), the banding
    capped against the pre-batch occupancy of ``state['band']``
    (arrival-bounded), the fingerprints and the shingle hashes."""
    import os

    from ..llm import dedup as llm_dedup
    from ..llm import layout

    admitted = ledger.filter(F.col("doc_id").isin(admitted_ids))
    banded, fp, sh = llm_dedup._neardup_projections(admitted)
    cap = state["nd_params"]["max_bucket"]
    return [
        ("words", llm_dedup._bloom_word_rows(admitted, F.col("pos")),
         os.path.join(bloom_dir, "words"), None),
        ("params", llm_dedup._bloom_key_rows(admitted, "fp", state["bloom_params"]),
         os.path.join(bloom_dir, "params"), None),
        ("band", layout.cap_increment(banded, state["band"], cap, layout.TEXT),
         os.path.join(neardup_layout, "banding"), layout.TEXT.partition_by("banding")),
        ("fp", fp, os.path.join(neardup_layout, "fingerprints"), None),
        ("sh", sh, os.path.join(neardup_layout, "shingle_hashes"), None),
    ]


def _transaction(
    spark,
    state: dict,
    batch: DataFrame,
    batch_id: int,
    decisions_path: str,
    bloom_layout: str,
    neardup_layout: str,
    quota: int,
    tau: float,
    text_col: str,
    id_col: str,
    source_col: str,
    keep: frozenset = frozenset(),
) -> dict:
    """One trigger's admission transaction against ``state``, shared by
    :func:`admit_and_fold` and :class:`AdmissionSession`: pin the batch's
    arrival ledger (:func:`_arrival_ledger`, localCheckpoint), decide
    from it or reuse committed decisions (:func:`_decide_or_reuse`), and
    append the admitted increments (:func:`_fold_appends`) in one
    ``runner.run_tasks`` fan-out, so every fold job joins the caller's
    job group and nothing re-derives the arrival side from the batch
    text. The ledger is built on replay too (reused decisions still
    fold) and released before return.

    The increments of the relations named in ``keep`` are materialized
    once (eager localCheckpoint) before their append, and the SAME
    materializations are returned, ``{relation: frame}``, so a caller's
    in-memory view holds exactly what the dirs received. On failure they
    are released and the error propagates."""
    import os
    from functools import partial

    from .. import runner
    from ..llm import dedup as llm_dedup
    from ..llm import layout

    ledger = _arrival_ledger(
        state, batch, text_col, id_col, source_col
    ).localCheckpoint()
    kept: dict[str, DataFrame] = {}

    def fold(name, df, path, partition_by):
        if name in keep:
            # dict assignment from a pool thread is GIL-atomic
            df = kept[name] = df.localCheckpoint()
        layout.append_relation(df, path, partition_by)

    try:
        admitted_ids = _decide_or_reuse(
            spark, os.path.join(decisions_path, f"batch={batch_id}"), id_col,
            lambda: _decide(state, ledger, quota, tau, id_col, source_col),
        )
        if admitted_ids:
            appends = _fold_appends(
                state, ledger, admitted_ids,
                llm_dedup.resolve_bloom_generation(bloom_layout), neardup_layout,
            )
            runner.run_tasks(spark, [partial(fold, *a) for a in appends])
    except BaseException:
        for df in kept.values():
            _release(df)
        raise
    finally:
        _release(ledger)
    return kept


def admit_and_fold(
    spark,
    batch: DataFrame,
    batch_id: int,
    bloom_layout: str,
    neardup_layout: str,
    decisions_path: str,
    quota: int = 10,
    tau: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> None:
    """One micro-batch's full admission transaction, REPLAY-SAFE
    (ADVICE r11): decisions land in the batch-keyed dir
    ``decisions_path/batch=<id>`` with OVERWRITE, and a replayed batch
    that finds that dir already committed (_SUCCESS) REUSES the stored
    decisions instead of re-deriving them. The committed decision file
    IS the pinned pre-fold snapshot: the first attempt derived it before
    any fold mutated the layouts, so re-deriving on replay — after the
    previous attempt already folded admitted fingerprints — would
    re-classify admitted docs as exact_dup/near_dup and log
    contradictory rows; reuse makes the replay byte-identical and the
    log append-free. Crash windows: (a) before the decision commit — no
    folds have happened, recompute is pre-fold by construction; (b)
    after the commit, anywhere among the folds — decisions reuse, and
    the folds re-run idempotently (bloom re-OR of the same bits;
    banding re-capped against existing occupancy so nothing exceeds
    max_bucket; fingerprint/shingle re-appends are bounded at one extra
    copy of the one crash-window batch and never change decisions —
    the exact gate is the Bloom bitmap, and the Jaccard verify is a
    max over candidates).

    The layouts are read once per call and the transaction is
    :func:`_transaction`: one pinned arrival ledger that the decide
    probes and the five appends project.

    The admitted id set is PINNED on the driver between the decision
    write and the folds (O(admitted-per-batch) rows — micro-batch-
    bounded, the runner-style driver-collect budget): the decision plan
    reads the layout LAZILY, so re-deriving 'admitted' from it after
    the words append would re-score the batch against its own appends
    (caught by the stream≡twin parity test)."""
    _transaction(
        spark, _read_admission_state(spark, bloom_layout, neardup_layout),
        batch, batch_id, decisions_path, bloom_layout, neardup_layout,
        quota, tau, text_col, id_col, source_col,
    )


def _release(df: DataFrame) -> None:
    """Deterministically free a localCheckpoint-ed frame (ADVICE r12):
    checkpointed blocks are pinned at the RDD level OUTSIDE the cache
    manager, so ``DataFrame.unpersist()`` alone leaves the release to
    ContextCleaner GC — an unbounded executor-storage tail in a session
    built for thousands of micro-batches (measured: the blocks stay in
    getRDDStorageInfo after df.unpersist(); the LogicalRDD release
    removes them). Best effort through the internal plan handle — a
    failure degrades to the GC path, never raises into the batch
    transaction."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass
    try:
        df.unpersist()
    except Exception:
        pass


def _decide_or_reuse(spark, dec_dir: str, id_col: str, derive) -> list:
    """The replay-safe decision transaction shared by the per-batch-read
    path, the cached session and the video gate: committed decisions
    (``_SUCCESS`` present) are REUSED — the pinned pre-fold snapshot —
    otherwise ``derive()`` builds them, they land with overwrite, and the
    admitted ids ride an :class:`~pyspark.sql.Observation` attached to
    the SAME write action, so one job computes the decisions, writes them
    and hands back the admitted set (the driver pin that fences the folds
    from lazily re-scoring the batch against its own appends).

    Both paths return the sorted distinct ids: a retried task attempt can
    merge into the observed ``collect_list`` twice."""
    import os

    if os.path.exists(os.path.join(dec_dir, "_SUCCESS")):
        return sorted({
            r[0]
            for r in spark.read.parquet(dec_dir)
            .filter(F.col("stage") == "admitted")
            .select(id_col)
            .collect()
        })
    from pyspark.sql import Observation

    obs = Observation()
    dec = derive().observe(
        obs,
        # collect_list skips NULLs: non-admitted rows contribute nothing
        F.collect_list(
            F.when(F.col("stage") == "admitted", F.col(id_col))
        ).alias("_admitted_ids"),
    )
    dec.write.mode("overwrite").parquet(dec_dir)
    return sorted(set(obs.get["_admitted_ids"]))


class AdmissionSession:
    """Cross-batch cache for the streaming admission gate's per-batch
    FIXED costs (VERDICT r11 #5): a 100 TB ingest runs thousands of
    small micro-batches, and with :func:`admit_and_fold` each one
    re-lists and re-reads every layout dir. This session reads the
    layouts ONCE, pins the relations as a snapshot detached from the
    dirs (see ``_pin_base``), and advances them INCREMENTALLY: each
    trigger pins its arrival ledger
    (:func:`_arrival_ledger`), decides from it (:func:`_decide`), and
    folds by materializing the ledger's increment projections
    (:func:`_fold_appends`), appending them to the layout dirs (disk
    stays the source of truth — a restarted session rebuilds from the
    dirs and sees every fold) and unioning the SAME materialized frames
    into the in-memory view, so memory and disk can never diverge. The
    ledger is released when the trigger ends: the increments are
    checkpoints of their own and do not read it.

    Consistency: the current view = pinned base ∪ checkpointed
    increments — union is lazy metadata, so probes scan only cached
    pieces and the old base is never unpersisted mid-plan. Increments
    are lineage-TRUNCATED (localCheckpoint), never merely persisted: a
    persisted increment keeps its logical plan, which nests the union
    of every earlier piece, and the analyzer walks that exponentially
    nested tree even when execution hits the cache (measured: 4.3 →
    58.5 s/batch by fold 9). Piece count is bounded two ways: every
    ``COMPACT_EVERY`` increments a relation's tail unions into one
    checkpointed piece IN MEMORY (one batch-sized pass, no disk
    re-read), and every ``consolidate_every`` folds the session
    re-bases from the layout dirs (where a ``compact_bloom_layout``
    pass would slot in on a real cluster). Decisions stay
    replay-safe via :func:`_decide_or_reuse`; a sink retry re-runs the
    folds idempotently under the SAME bounds as the disk path (bloom
    re-OR exact; banding re-capped against current occupancy;
    fingerprint/shingle re-appends bounded at one extra copy of the one
    crash-window batch, which can only raise a duplicate's max-jaccard
    candidate count, never change a verdict)."""

    def __init__(
        self,
        spark,
        bloom_layout: str,
        neardup_layout: str,
        quota: int = 10,
        tau: float = 0.5,
        text_col: str = "text",
        id_col: str = "doc_id",
        source_col: str = "source",
        consolidate_every: int = 64,
    ) -> None:
        self.spark = spark
        self.bloom_layout = bloom_layout
        self.neardup_layout = neardup_layout
        self.quota, self.tau = quota, tau
        self.text_col, self.id_col, self.source_col = (
            text_col, id_col, source_col,
        )
        self.consolidate_every = consolidate_every
        self._pieces: list[DataFrame] = []  # every currently-persisted frame
        self._folds_since_base = 0
        self._load_base()

    # -- state management ---------------------------------------------------

    def _load_base(self) -> None:
        base = _read_admission_state(
            self.spark, self.bloom_layout, self.neardup_layout
        )
        self.bloom_meta = base["bloom_meta"]
        self.nd_params = base["nd_params"]
        self.bloom_params = base["bloom_params"]
        # one list per mutable relation: [base, increment, increment, ...];
        # the base relations are pinned at first use (_pin_base)
        self._words = [base["words"]]
        self._band = [base["band"]]
        self._fp = [base["fp"]]
        self._sh = [base["sh"]]
        self._pieces = []
        self._folds_since_base = 0

    def _pin_base(self) -> None:
        """Pin the freshly read base relations. A cached parquet read is
        no snapshot: every append to its dir makes Spark refresh the file
        listing and rebuild the cache, so each fold's rows would enter the
        base beside their in-memory increment (counted twice) and every
        trigger would re-scan the dirs. So the cache is built over a lazy
        local checkpoint, which detaches it from the dirs, and once a
        count has filled the cache the checkpoint's own blocks are freed:
        executor storage holds each base once, in the cache probes scan.
        A lost cache block then fails the next probe instead of being
        recomputed, as a lost block of any checkpointed piece does; the
        recovery is the same, a session rebuilt from the dirs."""

        def pin(df: DataFrame) -> DataFrame:
            df = df.localCheckpoint(eager=False).persist()
            df.count()  # one scan of the dirs fills checkpoint and cache
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
            return df

        self.bloom_params = pin(self.bloom_params)
        for pieces in (self._words, self._band, self._fp, self._sh):
            pieces[0] = pin(pieces[0])
        self._pieces = [
            self.bloom_params, self._words[0], self._band[0],
            self._fp[0], self._sh[0],
        ]

    @staticmethod
    def _union(pieces: list[DataFrame]) -> DataFrame:
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def _state(self) -> dict:
        if not self._pieces:
            self._pin_base()
        # words increments may repeat word_idx across pieces: _decide
        # counts each probe once, so the union needs no re-fold
        return {
            "bloom_meta": self.bloom_meta,
            "bloom_params": self.bloom_params,
            "words": self._union(self._words),
            "nd_params": self.nd_params,
            "band": self._union(self._band),
            "fp": self._union(self._fp),
            "sh": self._union(self._sh),
        }

    def close(self) -> None:
        for df in self._pieces:
            _release(df)
        self._pieces = []

    #: in-memory piece compaction cadence: above this many increments a
    #: relation's tail unions into ONE localCheckpoint-ed piece (one
    #: pass over batch-sized rows, no disk re-read) — per-probe task
    #: count stays O(compact_every) instead of growing with every fold
    #: (measured: ~70 ms/batch of creep per uncompacted piece at sf0.1)
    COMPACT_EVERY = 8

    def _compact(self, pieces: list[DataFrame]) -> list[DataFrame]:
        if len(pieces) - 1 <= self.COMPACT_EVERY:
            return pieces
        tail = pieces[1:]
        merged = self._union(tail).localCheckpoint()
        self._pieces.append(merged)
        for p in tail:
            _release(p)  # merged is eager — parents can free now
            if p in self._pieces:
                self._pieces.remove(p)
        return [pieces[0], merged]

    def _maybe_consolidate(self) -> None:
        self._words = self._compact(self._words)
        self._band = self._compact(self._band)
        self._fp = self._compact(self._fp)
        self._sh = self._compact(self._sh)
        if self._folds_since_base < self.consolidate_every:
            return
        old = self._pieces
        self._load_base()  # disk has every fold; fresh base, depth 1
        for df in old:
            _release(df)

    # -- the per-batch transaction -------------------------------------------

    def admit_and_fold(
        self, batch: DataFrame, batch_id: int, decisions_path: str
    ) -> None:
        """:func:`admit_and_fold` against the cached state — same
        decision log, same layout-dir appends, same replay contract, one
        :func:`_transaction`. The four kept increments come back as the
        checkpointed frames the dirs received and join the in-memory
        view on this thread, after every append has finished."""
        # one snapshot of the piece lists: the cap sees the pre-batch
        # bucket population, as the serial disk fold does
        kept = _transaction(
            self.spark, self._state(), batch, batch_id, decisions_path,
            self.bloom_layout, self.neardup_layout, self.quota, self.tau,
            self.text_col, self.id_col, self.source_col,
            keep=frozenset(("words", "band", "fp", "sh")),
        )
        if not kept:
            return
        self._pieces.extend(kept.values())
        self._words.append(kept["words"])
        self._band.append(kept["band"])
        self._fp.append(kept["fp"])
        self._sh.append(kept["sh"])
        self._folds_since_base += 1
        self._maybe_consolidate()


def admission_stream(
    stream: DataFrame,
    bloom_layout: str,
    neardup_layout: str,
    decisions_path: str,
    checkpoint: str,
    quota: int = 10,
    tau: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
):
    """foreachBatch admission over the stored layouts: each micro-batch
    runs the admit-and-fold transaction — decisions land in
    ``decisions_path/batch=<id>`` (a partitioned decision log; read the
    root to get a ``batch`` column), and the ADMITTED docs' fingerprints
    and banding rows fold back into the layouts so the standing state
    advances in-stream. Quota- and dup-rejected docs are NOT folded (a
    rejected doc never becomes corpus). Failure-recovery replays reuse
    the batch's committed decisions instead of re-deriving them against
    the already-folded layouts — see :func:`admit_and_fold` for the
    crash-window analysis.

    The batches run through one :class:`AdmissionSession`: layout dirs
    are read once and advanced incrementally in memory, instead of
    re-read per batch; decisions are those of the per-batch-reread
    :func:`admit_and_fold` (the parity pytest runs the stream against
    it). The session rides the returned query as
    ``query._admission_session`` so callers can ``close()`` it after
    ``stop()``."""
    session = AdmissionSession(
        stream.sparkSession, bloom_layout, neardup_layout,
        quota, tau, text_col, id_col, source_col,
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        session.admit_and_fold(batch, batch_id, decisions_path)

    query = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .start()
    )
    query._admission_session = session
    return query


def video_admit_and_fold(
    spark,
    batch: DataFrame,
    batch_id: int,
    layout: str,
    decisions_path: str,
    hash_col: str = "dhash",
    id_col: str = "media_id",
    frame_col: str = "frame_idx",
    nf_col: str = "n_frames",
) -> None:
    """One micro-batch's VIDEO admission transaction over the stored
    frame-aware fingerprint layout (L94) — the :func:`admit_and_fold`
    contract for multi-frame media: decisions land batch-keyed and
    replay-safe (committed decisions REUSE — the pinned pre-fold
    snapshot), the admitted id set pins on the driver before any fold,
    and admitted videos fold back cap-aware
    (:func:`~..llm.multimodal.append_video_phash_layout`), so a later
    micro-batch's re-encode of an earlier admission is rejected without
    the corpus ever being re-decoded. Crash-window idempotency is the
    image family's: a replayed fold re-appends at most one extra copy
    of the crash-window batch's banded rows, which can never change a
    decision — the candidate join is DISTINCT over (pair, frame, hash)
    and the vote reads max() aggregates. ``batch`` carries the
    per-frame hash rows (the :func:`~..llm.multimodal.video_frames`
    output shape); decode happens upstream where the payload lives."""
    import os

    from ..llm import multimodal as mm

    dec_dir = os.path.join(decisions_path, f"batch={batch_id}")
    admitted_ids = _decide_or_reuse(
        spark, dec_dir, id_col,
        lambda: mm.video_phash_admission(
            spark, layout, batch, hash_col, id_col, frame_col, nf_col
        ).select(
            F.col("media_id").alias(id_col) if id_col != "media_id"
            else F.col("media_id"),
            F.when(F.col("admitted"), F.lit("admitted"))
            .otherwise(F.lit("video_dup"))
            .alias("stage"),
            "best_match_frames",
        ),
    )
    if not admitted_ids:
        return
    mm.append_video_phash_layout(
        spark, layout, batch.filter(F.col(id_col).isin(admitted_ids)),
        hash_col, id_col, frame_col, nf_col,
    )
