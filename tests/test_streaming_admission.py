"""Streaming composed admission (L87, VERDICT r10 #5): the L79 batch
pipeline per micro-batch against the STORED layouts, with admitted docs
folded back in-stream. The pins: stream ≡ batch-twin on identical batch
splits (admit_batch is shared code, so this certifies the foreachBatch
wiring and the fold ordering), cross-batch rejection THROUGH the folds
(a later batch's dup of an earlier admission is rejected), and rejected
docs never becoming corpus."""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import functions as F

from kafka_to_nexus_spark.llm import dedup
from kafka_to_nexus_spark.streaming import stateful

# standing corpus: docs 100..109 — bodies must be pairwise DISSIMILAR
# (below tau) so only the constructed near-dup pairs trip the gate;
# sharing a long template across fixtures makes everything a near-dup
# of everything (found the hard way)
def _body(word: str) -> str:
    return f"{word} {word[::-1]} {word}ish {word}ness {word}ly " * 8


STANDING = [
    (100 + i, _body(w), "seed")
    for i, w in enumerate(
        "anchor bridge copper dragon ember forest garnet harbor "
        "island juniper".split()
    )
]

QUOTA, TAU = 2, 0.5

# batch 1 arrivals
B1 = [
    (1, STANDING[0][1], "src_a"),               # exact dup of standing
    (2, STANDING[1][1] + "tail", "src_a"),      # near-dup of standing
    (3, _body("alpha"), "src_a"),               # admitted
    (4, _body("quartz"), "src_a"),              # admitted
    (5, _body("gamma"), "src_a"),               # quota (3rd src_a survivor)
    (6, _body("delta"), "src_b"),               # admitted
]
# batch 2 arrivals — the fold-back probes
B2 = [
    (7, B1[2][1], "src_b"),                     # exact dup of ADMITTED doc 3
    (8, B1[3][1] + "tail", "src_b"),            # near-dup of ADMITTED doc 4
    (9, B1[4][1], "src_b"),                     # copy of QUOTA-REJECTED doc 5
    (10, _body("epsilon"), "src_b"),
]

EXPECT = {
    1: "exact_dup", 2: "near_dup", 3: "admitted", 4: "admitted",
    5: "quota", 6: "admitted",
    7: "exact_dup", 8: "near_dup",
    9: "admitted",  # rejected docs are NOT corpus: its copy admits
    10: "admitted",
}


def _standing_df(spark):
    return spark.createDataFrame(STANDING, "doc_id long, text string, source string")


def _build_layouts(spark, root):
    bloom = str(root / "bloom")
    nd = str(root / "neardup")
    dedup.write_bloom_layout(
        _standing_df(spark).select(F.md5("text").alias("_fp")),
        bloom, "_fp", k=4, bits_per_key=10,
    )
    dedup.write_neardup_banding_layout(_standing_df(spark), nd)
    return bloom, nd


def _batch_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_admission_stream_matches_batch_twin_and_folds(spark, tmp_path):
    # --- batch twin: sequential admit_batch + folds on its own layouts
    bloom_b, nd_b = _build_layouts(spark, tmp_path / "twin")
    twin = {}
    for rows in (B1, B2):
        batch = _batch_df(spark, rows)
        dec = stateful.admit_batch(
            spark, batch, bloom_b, nd_b, QUOTA, TAU
        ).collect()
        twin.update({r.doc_id: r.stage for r in dec})
        admitted = batch.join(
            spark.createDataFrame(
                [(r.doc_id,) for r in dec if r.stage == "admitted"],
                "doc_id long",
            ),
            "doc_id",
        )
        dedup.append_bloom(
            spark, bloom_b, admitted.select(F.md5("text").alias("_fp")), "_fp"
        )
        dedup.append_neardup_banding(spark, nd_b, admitted)
    assert twin == EXPECT

    # --- the stream: same batches as files, same layouts (fresh copies)
    bloom_s, nd_s = _build_layouts(spark, tmp_path / "stream")
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for seq, rows in enumerate((B1, B2)):
        with open(in_dir / f"b{seq}.json", "w") as f:
            for doc_id, text, src in rows:
                f.write(json.dumps(
                    {"doc_id": doc_id, "text": text, "source": src}) + "\n")
        # stable mtimes so maxFilesPerTrigger=1 replays in batch order
        import os
        base_t = 1_700_000_000 + seq * 10
        os.utime(in_dir / f"b{seq}.json", (base_t, base_t))
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    decisions = str(tmp_path / "decisions")
    q = stateful.admission_stream(
        stream, bloom_s, nd_s, decisions,
        str(tmp_path / "ckpt"), quota=QUOTA, tau=TAU,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.doc_id: r.stage
           for r in spark.read.parquet(decisions).collect()}
    assert got == EXPECT == twin

    # fold-back state: the stream's layouts now contain exactly the
    # standing + admitted fingerprints (no rejected doc leaked in)
    admitted_texts = [t for d, t, _ in B1 + B2 if EXPECT[d] == "admitted"]
    probe = spark.createDataFrame(
        [(i, t) for i, t in enumerate(admitted_texts)],
        "doc_id long, text string",
    ).select("doc_id", F.md5("text").alias("_fp"))
    meta, params, words = dedup.read_bloom_layout(spark, bloom_s)
    verd = dedup.bloom_membership(
        probe, params, words, "_fp", "doc_id", k=meta["k"],
        hash_engine=meta["hash_engine"],
    )
    assert all(r.bloom_positive for r in verd.collect())
    # quota-rejected doc 5's fingerprint must NOT be standing: its exact
    # copy (doc 9) was admitted in batch 2, which is only possible if the
    # fold skipped doc 5 — and doc 9's own fold added it afterwards
    n_keys = params.collect()[0]["n_keys"]
    assert n_keys == len(STANDING) + len(admitted_texts)


def test_admission_stream_replay_reuses_committed_decisions(spark, tmp_path):
    """ADVICE r11 (medium): a failure-recovery REPLAY of a micro-batch
    whose previous attempt already folded admitted fingerprints must not
    re-derive decisions against the mutated layouts — that would
    re-classify admitted docs as exact_dup/near_dup and append
    contradictory rows to the decision log. The batch-keyed overwrite +
    committed-decision reuse makes the replay byte-identical."""
    bloom, nd = _build_layouts(spark, tmp_path / "lay")
    decisions = str(tmp_path / "decisions")
    b1 = _batch_df(spark, B1)
    stateful.admit_and_fold(spark, b1, 0, bloom, nd, decisions,
                            quota=QUOTA, tau=TAU)
    first = {r.doc_id: r.stage
             for r in spark.read.parquet(decisions).collect()}
    assert first == {d: EXPECT[d] for d, _, _ in B1}

    # the hazard is real: a naive re-derivation AFTER the folds flips
    # batch 0's admitted docs to dups (their fingerprints are standing
    # now) — exactly what the reused decision log must not record
    post = {r.doc_id: r.stage for r in stateful.admit_batch(
        spark, b1, bloom, nd, QUOTA, TAU).collect()}
    assert post[3] == "exact_dup" and post[4] == "exact_dup"

    # replay batch 0: decisions unchanged, no duplicate rows, and the
    # re-folds stay idempotent
    stateful.admit_and_fold(spark, b1, 0, bloom, nd, decisions,
                            quota=QUOTA, tau=TAU)
    replay = spark.read.parquet(decisions).collect()
    assert len(replay) == len(B1)
    assert {r.doc_id: r.stage for r in replay} == first

    # and the NEXT batch still sees the correctly-folded state
    stateful.admit_and_fold(spark, _batch_df(spark, B2), 1, bloom, nd,
                            decisions, quota=QUOTA, tau=TAU)
    got = {r.doc_id: r.stage
           for r in spark.read.parquet(decisions).collect()}
    assert got == EXPECT


def test_admission_stream_is_idempotent_per_batch(spark, tmp_path):
    """A replayed micro-batch (failure-recovery re-run) re-appends the
    SAME fingerprints and re-caps the SAME buckets: verdicts over the
    twice-folded layout are unchanged — the idempotence the foreachBatch
    sink's exactly-once story leans on."""
    bloom, nd = _build_layouts(spark, tmp_path / "lay")
    batch = _batch_df(spark, B1)
    dec1 = {r.doc_id: r.stage for r in stateful.admit_batch(
        spark, batch, bloom, nd, QUOTA, TAU).collect()}
    admitted = batch.join(
        spark.createDataFrame(
            [(d,) for d, s in dec1.items() if s == "admitted"], "doc_id long"
        ), "doc_id")
    for _ in range(2):  # fold twice = replay
        dedup.append_bloom(
            spark, bloom, admitted.select(F.md5("text").alias("_fp")), "_fp")
        dedup.append_neardup_banding(spark, nd, admitted)
    dec2 = {r.doc_id: r.stage for r in stateful.admit_batch(
        spark, _batch_df(spark, B2), bloom, nd, QUOTA, TAU).collect()}
    assert dec2 == {d: EXPECT[d] for d, _, _ in B2}


def test_admission_session_equals_per_batch_reread_twin(spark, tmp_path):
    """VERDICT r11 #5: the cached AdmissionSession (layouts read once,
    advanced incrementally in memory) must be decision-identical to the
    per-batch-reread path at EVERY consolidation cadence — including
    consolidate_every=1, where each fold immediately round-trips the
    state through the layout dirs, so the disk and memory views are
    cross-checked against each other every batch."""
    # per-batch-reread twin
    bloom_t, nd_t = _build_layouts(spark, tmp_path / "twin")
    dec_t = str(tmp_path / "dec_twin")
    for seq, rows in enumerate((B1, B2)):
        stateful.admit_and_fold(spark, _batch_df(spark, rows), seq,
                                bloom_t, nd_t, dec_t, quota=QUOTA, tau=TAU)
    twin = {r.doc_id: r.stage
            for r in spark.read.parquet(dec_t).collect()}
    assert twin == EXPECT

    for cadence in (1, 999):
        root = tmp_path / f"sess{cadence}"
        bloom_s, nd_s = _build_layouts(spark, root)
        dec_s = str(root / "dec")
        sess = stateful.AdmissionSession(
            spark, bloom_s, nd_s, quota=QUOTA, tau=TAU,
            consolidate_every=cadence,
        )
        try:
            for seq, rows in enumerate((B1, B2)):
                sess.admit_and_fold(_batch_df(spark, rows), seq, dec_s)
        finally:
            sess.close()
        got = {r.doc_id: r.stage
               for r in spark.read.parquet(dec_s).collect()}
        assert got == twin, f"cadence={cadence}"
        # the layout DIRS the session leaves behind equal the twin's:
        # a fresh per-batch-read admission of B2's docs over them gives
        # the same verdicts (doc 7/8 dup of folded 3/4, 9/10 admitted)
        fresh = {r.doc_id: r.stage for r in stateful.admit_batch(
            spark, _batch_df(spark, B2), bloom_s, nd_s, QUOTA, TAU
        ).collect()}
        fresh_t = {r.doc_id: r.stage for r in stateful.admit_batch(
            spark, _batch_df(spark, B2), bloom_t, nd_t, QUOTA, TAU
        ).collect()}
        assert fresh == fresh_t, f"cadence={cadence}"


def test_admission_session_plan_growth_is_bounded(spark, tmp_path):
    """The lineage trap, pinned (r12): persisted-only increments keep
    logical plans that NEST the union of every earlier piece, so the
    analyzer walks an exponentially growing tree (measured 4.3 → 58.5
    s/batch by fold 9 before localCheckpoint truncation). With
    truncated increments the decision plan grows at most LINEARLY in
    the piece count: after 6 folds the plan text must stay within 3× of
    the 1-fold plan (exponential nesting blows past 16×)."""
    bloom, nd = _build_layouts(spark, tmp_path / "lay")
    sess = stateful.AdmissionSession(spark, bloom, nd, quota=QUOTA, tau=TAU)
    try:
        sizes = []
        for i in range(6):
            batch = _batch_df(
                spark,
                [(1000 + i * 10 + k, _body(f"w{i}x{k}"), "s") for k in range(3)],
            )
            sess.admit_and_fold(batch, i, str(tmp_path / "dec"))
            dec = stateful._admit_batch_against(
                sess._state(), batch, QUOTA, TAU
            )
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
                .fromString("formatted")
            sizes.append(len(dec._jdf.queryExecution().explainString(mode)))
        assert sizes[-1] <= 3 * sizes[0], sizes
    finally:
        sess.close()


def test_admission_session_close_frees_checkpoint_blocks(spark, tmp_path):
    """ADVICE r12: localCheckpoint-ed pieces pin executor blocks at the
    RDD level OUTSIDE the cache manager, where DataFrame.unpersist() is
    a no-op and cleanup otherwise waits on ContextCleaner GC. close()
    (and compaction/consolidation) must release them deterministically
    — a session built for thousands of micro-batches cannot carry an
    unbounded storage tail."""
    sc = spark.sparkContext

    def cached_rdds():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    before = cached_rdds()
    bloom_s, nd_s = _build_layouts(spark, tmp_path / "rel")
    sess = stateful.AdmissionSession(spark, bloom_s, nd_s,
                                     quota=QUOTA, tau=TAU)
    for seq, rows in enumerate((B1, B2)):
        sess.admit_and_fold(_batch_df(spark, rows), seq,
                            str(tmp_path / f"dec{seq}"))
    assert cached_rdds() - before, "folds should pin checkpoint blocks"
    sess.close()
    assert cached_rdds() - before == set(), (
        "close() left checkpointed blocks pinned"
    )


def _vid_batch(spark, rows):
    return spark.createDataFrame(
        rows, "media_id long, frame_idx int, n_frames int, dhash long")


def test_video_admit_and_fold_stream_equals_batch_and_replays(
        spark, tmp_path):
    """L94 streaming twin: per-micro-batch video admission over the
    stored layout — cross-batch rejection through the fold, decision
    reuse on replay (byte-identical log, no re-scoring against own
    appends), and parity with the one-shot batch probe."""
    from kafka_to_nexus_spark.llm import multimodal as mm

    H = lambda i, f: ((i * 0x9E3779B97F4A7C15 + f * 0x517CC1B7) % (1 << 62))
    layout = str(tmp_path / "vlayout")
    mm.write_video_phash_layout(
        _vid_batch(spark, [(i, f, 2, H(i, f))
                           for i in range(10) for f in range(2)]),
        layout,
    )
    dec = str(tmp_path / "dec")
    b1 = _vid_batch(spark, [
        (100, 0, 2, H(3, 0) ^ (1 << 9)), (100, 1, 2, H(3, 1)),  # twin: dup
        (101, 0, 2, H(900, 0)), (101, 1, 2, H(900, 1)),          # novel
    ])
    stateful.video_admit_and_fold(spark, b1, 0, layout, dec)
    d1 = {r.media_id: r.stage for r in spark.read.parquet(
        dec + "/batch=0").collect()}
    assert d1 == {100: "video_dup", 101: "admitted"}

    # batch 2: a re-encode of the batch-1 admission must now be dup
    b2 = _vid_batch(spark, [
        (200, 0, 2, H(900, 0) ^ 1), (200, 1, 2, H(900, 1)),
        (201, 0, 1, H(901, 0)),
    ])
    stateful.video_admit_and_fold(spark, b2, 1, layout, dec)
    d2 = {r.media_id: r.stage for r in spark.read.parquet(
        dec + "/batch=1").collect()}
    assert d2 == {200: "video_dup", 201: "admitted"}

    # replay batch 1 (failure recovery): decisions REUSED verbatim even
    # though the layout has since folded both batches
    stateful.video_admit_and_fold(spark, b1, 0, layout, dec)
    d1r = {r.media_id: r.stage for r in spark.read.parquet(
        dec + "/batch=0").collect()}
    assert d1r == d1
    # and the replayed fold never changes later verdicts
    probe = {r.media_id: r.admitted for r in mm.video_phash_admission(
        spark, layout,
        _vid_batch(spark, [(300, 0, 1, H(901, 0))])).collect()}
    assert probe == {300: False}


def test_admission_session_partial_fold_failure_replays_consistent(
    spark, tmp_path, monkeypatch
):
    """r14 (VERDICT r13 #6 / ADVICE r13 #2): with the five fold appends
    OVERLAPPED, a mid-batch failure can leave any subset of the layout
    dirs committed (serially, fingerprints could never land without
    banding). The recovery contract is 'rebuild from the layout dirs +
    replay the batch': decisions were committed before any fold, so the
    replay reuses them and re-runs all five appends idempotently — one
    extra copy of the crash-window batch at most, verdicts unchanged.
    This test kills ONE append mid-fold (the shingle_hashes leg), leaves
    the siblings' commits wherever they landed, rebuilds, replays, and
    pins the final decisions AND the left-behind layout dirs against the
    clean twin's."""
    import pyspark.sql.readwriter as rw

    # clean twin for the final layout cross-check
    bloom_t, nd_t = _build_layouts(spark, tmp_path / "twin")
    dec_t = str(tmp_path / "dec_twin")
    for seq, rows in enumerate((B1, B2)):
        stateful.admit_and_fold(spark, _batch_df(spark, rows), seq,
                                bloom_t, nd_t, dec_t, quota=QUOTA, tau=TAU)

    bloom, nd = _build_layouts(spark, tmp_path / "lay")
    dec = str(tmp_path / "dec")
    sess = stateful.AdmissionSession(spark, bloom, nd, quota=QUOTA, tau=TAU)
    real_parquet = rw.DataFrameWriter.parquet
    state = {"armed": True}

    def failing_parquet(self, path, *a, **kw):
        if state["armed"] and path.endswith("shingle_hashes"):
            state["armed"] = False
            raise RuntimeError("injected mid-fold failure")
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", failing_parquet)
    with pytest.raises(Exception, match="injected mid-fold failure"):
        sess.admit_and_fold(_batch_df(spark, B1), 0, dec)
    monkeypatch.setattr(rw.DataFrameWriter, "parquet", real_parquet)
    sess.close()

    # decisions committed before the folds: the crash window is folds-only
    assert (tmp_path / "dec" / "batch=0" / "_SUCCESS").exists()

    # recovery: rebuild from the layout dirs (arbitrary committed subset),
    # replay batch 0 (reuses decisions, re-folds idempotently), then B2
    sess2 = stateful.AdmissionSession(spark, bloom, nd, quota=QUOTA, tau=TAU)
    try:
        sess2.admit_and_fold(_batch_df(spark, B1), 0, dec)
        sess2.admit_and_fold(_batch_df(spark, B2), 1, dec)
    finally:
        sess2.close()
    got = {r.doc_id: r.stage for r in spark.read.parquet(dec).collect()}
    assert got == EXPECT
    # the layouts the recovered session leaves behind admit exactly like
    # the clean twin's
    fresh = {r.doc_id: r.stage for r in stateful.admit_batch(
        spark, _batch_df(spark, B2), bloom, nd, QUOTA, TAU).collect()}
    fresh_t = {r.doc_id: r.stage for r in stateful.admit_batch(
        spark, _batch_df(spark, B2), bloom_t, nd_t, QUOTA, TAU).collect()}
    assert fresh == fresh_t


# ---------------------------------------------------------------------------
# One-pass trigger: the arrival ledger, its decide and its fold
# ---------------------------------------------------------------------------

# a batch that admits nothing: copies of standing and admitted docs and a
# near-duplicate of an admitted one
B_NONE = [
    (11, STANDING[2][1], "src_a"),              # exact dup of standing
    (12, B1[5][1], "src_b"),                    # exact dup of ADMITTED doc 6
    (13, B2[3][1] + "tail", "src_b"),           # near-dup of ADMITTED doc 10
]
# a fold after the empty trigger: novel docs past the quota, and dups of
# admissions two triggers back
B4 = [
    (14, _body("zephyr"), "src_c"),             # admitted
    (15, _body("yonder"), "src_c"),             # admitted
    (16, _body("xylem"), "src_c"),              # quota
    (17, B2[3][1], "src_a"),                    # exact dup of ADMITTED doc 10
    (18, B1[2][1] + "tail", "src_a"),           # near-dup of ADMITTED doc 3
]


def _reference_stages(state, rows, quota, tau):
    """The decide's stages by an independent composition over one session
    state: ``bloom_membership`` (over the bit_or-folded words pieces),
    ``neardup_admission``'s body, and a per-source doc_id rank of the
    survivors computed here."""
    from collections import Counter

    meta = state["bloom_meta"]
    batch = _batch_df(state["words"].sparkSession, rows)
    words = state["words"].groupBy("word_idx").agg(F.bit_or("word").alias("word"))
    positive = {r.doc_id: r.bloom_positive for r in dedup.bloom_membership(
        batch.select("doc_id", F.md5("text").alias("_fp")),
        state["bloom_params"], words, "_fp", "doc_id",
        k=meta["k"], hash_engine=meta["hash_engine"],
    ).collect()}
    near_ok = {r.doc_id: r.admitted for r in dedup._neardup_admission_body(
        state["nd_params"], state["band"], state["fp"], state["sh"], batch, tau,
    ).collect()}
    stages, rank = {}, Counter()
    for doc_id, _, source in sorted(rows):
        if positive[doc_id]:
            stages[doc_id] = "exact_dup"
        elif not near_ok[doc_id]:
            stages[doc_id] = "near_dup"
        else:
            rank[source] += 1
            stages[doc_id] = "quota" if rank[source] > quota else "admitted"
    return stages


def test_admission_session_decide_equals_reference_composition(spark, tmp_path):
    """Over four triggers on one session (three of them folding), every
    arrival's stage equals the reference composition evaluated on the
    session state the trigger saw: exact and near duplicates of standing
    and of earlier in-stream admissions, quota overflow, a re-sent
    quota-rejected doc, and a trigger that admits nothing."""
    bloom, nd = _build_layouts(spark, tmp_path / "lay")
    dec = str(tmp_path / "dec")
    sess = stateful.AdmissionSession(spark, bloom, nd, quota=QUOTA, tau=TAU)
    try:
        for seq, rows in enumerate((B1, B2, B_NONE, B4)):
            want = _reference_stages(sess._state(), rows, QUOTA, TAU)
            sess.admit_and_fold(_batch_df(spark, rows), seq, dec)
            got = {r.doc_id: r.stage for r in spark.read.parquet(
                f"{dec}/batch={seq}").collect()}
            assert got == want, seq
            if rows is B_NONE:
                assert "admitted" not in got.values()
        assert len(sess._fp) == 4  # base + three folds
    finally:
        sess.close()
    got = {r.doc_id: r.stage for r in spark.read.parquet(dec).collect()}
    assert {d: got[d] for d in EXPECT} == EXPECT
    assert {d: got[d] for d, _, _ in B_NONE + B4} == {
        11: "exact_dup", 12: "exact_dup", 13: "near_dup",
        14: "admitted", 15: "admitted", 16: "quota",
        17: "exact_dup", 18: "near_dup",
    }


def test_decide_or_reuse_derive_and_reuse_return_same_ids(spark, tmp_path):
    """The derive path (ids off the write's Observation) and the reuse
    path (ids read back from the committed decisions) return one list:
    sorted, each id once even when the observed rows repeat one."""
    dec_dir = str(tmp_path / "batch=0")
    decisions = spark.createDataFrame(
        [(7, "admitted"), (3, "admitted"), (7, "admitted"), (5, "quota")],
        "doc_id long, stage string",
    )
    derived = stateful._decide_or_reuse(spark, dec_dir, "doc_id", lambda: decisions)
    reused = stateful._decide_or_reuse(
        spark, dec_dir, "doc_id",
        lambda: pytest.fail("committed decisions must be reused"),
    )
    assert derived == reused == [3, 7]


# Spark jobs one AdmissionSession.admit_and_fold of B1 runs after a
# warm-up trigger (local[4], 4 shuffle partitions, AQE on): the ledger
# checkpoint, the decision write and the fold's four checkpointed
# increments plus five appends, each with its AQE stage jobs. Raise this
# only with a reason.
MAX_JOBS_ADMISSION_TRIGGER_B1 = 23


def test_admission_session_trigger_jobs_join_callers_job_group(spark, tmp_path):
    """Every Spark job of one admission trigger, the concurrent fold
    appends included, runs in the caller's job group, so cancelling the
    group reaches all of them; none runs outside a group."""
    bloom, nd = _build_layouts(spark, tmp_path / "lay")
    dec = str(tmp_path / "dec")
    sess = stateful.AdmissionSession(spark, bloom, nd, quota=QUOTA, tau=TAU)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    try:
        sess.admit_and_fold(_batch_df(spark, B2), 0, dec)  # warm-up
        bus.waitUntilEmpty()
        ungrouped = set(tracker.getJobIdsForGroup(None))
        group = "test-admission-trigger-group"
        sc.setJobGroup(group, "admission trigger job-group guard")
        try:
            sess.admit_and_fold(_batch_df(spark, B1), 1, dec)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        bus.waitUntilEmpty()
    finally:
        sess.close()
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    jobs = tracker.getJobIdsForGroup(group)
    assert 0 < len(jobs) <= MAX_JOBS_ADMISSION_TRIGGER_B1, len(jobs)


def test_admission_session_pins_no_ledger_beyond_live_pieces(
    spark, tmp_path, monkeypatch
):
    """A trigger's ledger is released when the trigger ends: after a
    trigger that admits nothing and after folds that cross
    ``COMPACT_EVERY``, no ledger block stays pinned while every live
    increment's does (the increments are checkpoints of their own and do
    not read the ledger), and close() frees everything."""
    sc = spark.sparkContext

    def pinned():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()} - before

    def rdd_id(df):
        return df._jdf.queryExecution().analyzed().rdd().id()

    ledgers = []
    decide = stateful._decide

    def recording_decide(state, ledger, *args):
        ledgers.append(rdd_id(ledger))
        return decide(state, ledger, *args)

    monkeypatch.setattr(stateful, "_decide", recording_decide)
    before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    bloom, nd = _build_layouts(spark, tmp_path / "lay")
    dec = str(tmp_path / "dec")
    sess = stateful.AdmissionSession(spark, bloom, nd, quota=QUOTA, tau=TAU)
    monkeypatch.setattr(sess, "COMPACT_EVERY", 2)
    novel = [
        [(100 + 10 * i + j, _body(f"fresh{i}x{j}"), "src_a") for j in range(2)]
        for i in range(3)
    ]
    for seq, rows in enumerate([B1, B_NONE, *novel]):
        sess.admit_and_fold(_batch_df(spark, rows), seq, dec)
        assert len(ledgers) == seq + 1
        assert not set(ledgers) & pinned(), seq
        increments = [p for ps in (sess._words, sess._band, sess._fp, sess._sh)
                      for p in ps[1:]]
        assert {rdd_id(p) for p in increments} <= pinned(), seq
    assert len(sess._fp) <= 1 + sess.COMPACT_EVERY  # compaction ran
    sess.close()
    assert pinned() == set(), "close() left blocks pinned"


def test_admission_session_views_equal_layout_dirs_after_folds(spark, tmp_path):
    """After every fold the session's in-memory relations hold exactly
    the rows of its layout dirs: each fold's rows once, as an increment,
    never also inside a base relation that an append to its dir
    refreshed."""
    from collections import Counter

    bloom, nd = _build_layouts(spark, tmp_path / "lay")
    dec = str(tmp_path / "dec")
    sess = stateful.AdmissionSession(spark, bloom, nd, quota=QUOTA, tau=TAU)

    def rows(df, cols):
        return Counter(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*cols).collect()
        )

    def words(df):
        return {r.word_idx: r.word for r in df.groupBy("word_idx").agg(
            F.bit_or("word").alias("word")).collect()}

    try:
        for seq, batch in enumerate((B1, B2, B4)):
            sess.admit_and_fold(_batch_df(spark, batch), seq, dec)
            state = sess._state()
            for name, sub, cols in (
                ("band", "banding", ("doc_id", "band", "band_key")),
                ("fp", "fingerprints", ("doc_id", "fp")),
                ("sh", "shingle_hashes", ("doc_id", "sh")),
            ):
                disk = spark.read.parquet(f"{nd}/{sub}")
                assert rows(state[name], cols) == rows(disk, cols), (seq, name)
            assert words(state["words"]) == words(
                spark.read.parquet(f"{bloom}/words")), seq
    finally:
        sess.close()


def test_cap_increment_matches_python_model(spark):
    """The capped banding increment keeps, per bucket, the first
    ``max_bucket - occupancy`` arrivals in id order, where occupancy
    counts the standing rows of that bucket (repeats included) — for the
    text, image and video bucket keys, with every banded column carried
    and one bucket already at its cap."""
    import random
    from collections import Counter

    from kafka_to_nexus_spark.llm import layout

    shapes = [
        (layout.TEXT, "doc_id long, band int, band_key string",
         lambda i, rng, n: (i, rng.randrange(3), f"k{rng.randrange(n)}")),
        (layout.IMAGE, "_id long, _h long, band_idx int, band_val long",
         lambda i, rng, n: (i, rng.getrandbits(62), rng.randrange(3),
                            rng.randrange(n))),
        (layout.VIDEO,
         "_id long, _f int, _h long, band_idx int, band_val long",
         lambda i, rng, n: (i, rng.randrange(2), rng.getrandbits(62),
                            rng.randrange(3), rng.randrange(n))),
    ]
    for family, schema, row in shapes:
        cols = [c.split()[0] for c in schema.split(", ")]

        def key(r):
            return tuple(r[cols.index(k)] for k in family.keys)

        rng = random.Random(7)
        stored = [row(i, rng, 5) for i in range(40)]
        stored += stored[:5]  # a replayed append repeats standing rows
        new = [row(1000 + i, rng, 7) for i in range(50)]
        # a bucket already at the largest cap, and arrivals into it
        full = row(0, rng, 9)
        stored += [(2000 + j, *full[1:]) for j in range(8)]
        new += [(3000 + j, *full[1:]) for j in range(3)]
        for max_bucket in (1, 4, 8):
            got = layout.cap_increment(
                spark.createDataFrame(new, schema),
                spark.createDataFrame(stored, schema),
                max_bucket,
                family,
            ).select(*cols).collect()
            occupancy = Counter(key(r) for r in stored)
            want = []
            for r in sorted(new):
                if occupancy[key(r)] < max_bucket:
                    occupancy[key(r)] += 1
                    want.append(r)
            assert sorted(map(tuple, got)) == want, (family.keys, max_bucket)


def _frames_df(spark, ids):
    """Two frames per video, distinct fingerprints per (video, frame)."""
    return spark.createDataFrame(
        [(i, f, 2, (i * 0x9E3779B97F4A7C15 + f * 0x517CC1B7) % (1 << 62))
         for i in ids for f in range(2)],
        "media_id long, frame_idx int, n_frames int, dhash long",
    )


# Spark jobs of one Bloom layout build over the standing docs (local[4],
# 4 shuffle partitions, AQE on): the distinct-fingerprint checkpoint that
# also counts the keys, the words bit_or and the two relation writes, with
# their AQE stage jobs. The params relation aggregating the corpus a
# second time inside the words write measured 8. Raise this only with a
# reason.
MAX_JOBS_BLOOM_BUILD = 5


@pytest.mark.parametrize("call", [
    "write_neardup_banding_layout",
    "write_bloom_layout",
    "write_phash_layout",
    "write_video_phash_layout",
    "append_video_phash_layout",
    "video_admit_and_fold",
])
def test_layout_writes_join_callers_job_group(spark, tmp_path, call):
    """Every Spark job of a layout build, a video append and a video
    admission trigger, the concurrent relation writes included, runs in
    the caller's job group, so cancelling the group reaches all of them;
    none runs outside a group. The Bloom build stays in its job budget."""
    from kafka_to_nexus_spark.llm import multimodal as mm

    path = str(tmp_path / "layout")
    if call in ("append_video_phash_layout", "video_admit_and_fold"):
        mm.write_video_phash_layout(_frames_df(spark, range(10)), path)
    run = {
        "write_neardup_banding_layout":
            lambda: dedup.write_neardup_banding_layout(_standing_df(spark), path),
        "write_bloom_layout": lambda: dedup.write_bloom_layout(
            _standing_df(spark).select(F.md5("text").alias("_fp")), path, "_fp"),
        "write_phash_layout": lambda: mm.write_phash_layout(
            _frames_df(spark, range(10)).select(
                "media_id", F.col("dhash").alias("dhash64")), path),
        "write_video_phash_layout":
            lambda: mm.write_video_phash_layout(_frames_df(spark, range(10)), path),
        "append_video_phash_layout": lambda: mm.append_video_phash_layout(
            spark, path, _frames_df(spark, range(20, 25))),
        "video_admit_and_fold": lambda: stateful.video_admit_and_fold(
            spark, _frames_df(spark, [3, 30, 31]), 0, path, str(tmp_path / "dec")),
    }[call]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = f"test-layout-group-{call}"
    sc.setJobGroup(group, "layout write job-group guard")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs
    if call == "write_bloom_layout":
        assert len(jobs) <= MAX_JOBS_BLOOM_BUILD, len(jobs)
