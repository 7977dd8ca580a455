"""Physical-plan quality gates: the properties that matter at 100 TB.

These assert on `.explain` output, not results — a correct query whose
time-window predicate no longer reaches the parquet scan is a perf
regression we want to catch at test time.
"""

from __future__ import annotations

import re

import pytest

from kafka_to_nexus_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, sql: str) -> str:
    # formatted mode: one attribute per line, no truncation of filter lists
    qe = spark.sql(sql)._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


@pytest.fixture(scope="module", autouse=True)
def _views(spark):
    Q.register_views(spark, SF_DIR)


def test_time_window_pushes_ns_range_to_parquet(spark):
    """f2's window predicate must reach PushedFilters as a long range on the
    raw ns column (row-group pruning), despite the ns→µs view projection."""
    plan = _plan(spark, Q.SPARK_SQL["f2_time_window"])
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    line = pushed[-1]
    assert "GreaterThanOrEqual(ts," in line and "LessThanOrEqual(ts," in line, line


def test_asof_buffer_pushes_ns_bounds(spark):
    plan = _plan(spark, Q.SPARK_SQL["f3_asof_buffer"])
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    # both branches (pre-start scan, in-window scan) must prune
    assert any("LessThan(ts," in l for l in pushed), plan
    assert any("GreaterThanOrEqual(ts," in l for l in pushed), plan


def test_tpch_date_filters_push_down(spark):
    for name, col in [
        ("q6_forecast_revenue", "l_shipdate"),
        ("q5_local_supplier", "o_orderdate"),
    ]:
        plan = _plan(spark, Q.SPARK_SQL[name])
        pushed = [l for l in plan.splitlines() if "PushedFilters" in l and col in l]
        assert any(
            f"GreaterThanOrEqual({col}" in l or f"LessThan({col}" in l for l in pushed
        ), f"{name}: no pushed range on {col}"


def test_q5_broadcasts_small_dims(spark):
    """nation/region/supplier are small dims — the join must broadcast them,
    not shuffle 100 TB of lineitem against a 25-row table."""
    plan = _plan(spark, Q.SPARK_SQL["q5_local_supplier"])
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_column_pruning_reaches_scan(spark):
    """f1 projects 4 columns; the events scan must not read props (the wide
    string column)."""
    plan = _plan(spark, Q.SPARK_SQL["f1_source_filter"])
    scan = [l for l in plan.splitlines() if "ReadSchema" in l][-1]
    assert "props" not in scan, scan


def test_exists_subqueries_become_semi_joins(spark):
    """q21's EXISTS / NOT EXISTS must decorrelate to semi/anti hash joins,
    not per-row re-scans of lineitem."""
    plan = _plan(spark, Q.SPARK_SQL["q21_waiting_orders"])
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_correlated_avg_decorrelates_to_aggregate_join(spark):
    """q17's correlated scalar avg must plan as one grouped aggregate
    joined back, not a subquery per probe row."""
    plan = _plan(spark, Q.SPARK_SQL["q17_small_quantity_revenue"])
    assert "HashAggregate" in plan and "Join" in plan, plan


def test_agg_is_partial_before_shuffle(spark):
    """Running min/max/mean must combine map-side (partial_*) so the shuffle
    carries one row per (partition, source), not the full stream."""
    plan = _plan(spark, Q.SPARK_SQL["w1_f144_stats"])
    assert "partial_min" in plan and "partial_max" in plan, plan


def test_q18_aggregates_lineitem_below_the_join(spark):
    """q18's lineitem aggregate must sit BELOW the orders join (join input =
    the HAVING survivors, broadcast-able at any scale), not above it — the
    join-then-aggregate form shuffles every joined fact row."""
    plan = _plan(spark, Q.SPARK_SQL["q18_large_orders"])
    lines = plan.splitlines()
    # the plan tree section lists operators top-down; the HashAggregate pair
    # must appear deeper (later) than the join that consumes them
    tree = [l for l in lines if "HashAggregate" in l or "Join" in l]
    join_idx = next((i for i, l in enumerate(tree) if "Join" in l), None)
    assert join_idx is not None, plan  # diagnostic: show the plan, not StopIteration
    assert any("HashAggregate" in l for l in tree[join_idx + 1 :]), plan
    assert "partial_sum" in plan, plan


def test_partition_pruning_on_date_partitioned_layout(spark, tmp_path):
    """At 100 TB the stream table is date-partitioned; a day predicate must
    prune partitions at plan time (PartitionFilters), not scan-and-filter."""
    from pyspark.sql import functions as F

    src = spark.table("events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    path = str(tmp_path / "events_by_day")
    src.write.partitionBy("day").mode("overwrite").parquet(path)

    df = spark.read.parquet(path).filter(F.col("day") == "2024-01-03")
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = qe.explainString(mode)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "2024-01-03" in pf[-1], plan
    # and the pruned read returns only that day (partition values are
    # type-inferred back as DATE)
    days = {str(r.day) for r in df.select("day").distinct().collect()}
    assert days == {"2024-01-03"}


# ---------------------------------------------------------------------------
# Module transforms must not sort the stream through a single reducer.
# ---------------------------------------------------------------------------

def _top_level_groups(s: str) -> list[str]:
    """Split 'Window [a], [b], [c]' into its top-level bracket groups."""
    groups, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def _assert_no_stream_global_window(df):
    """Every Window node must either partition by a shard key or read from
    an Aggregate (the tiny per-shard-totals relation). A no-PARTITION-BY
    window directly over the stream = Exchange SinglePartition = one task
    sorting 100 TB."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        stripped = ln.lstrip(" :+-")
        if not stripped.startswith("Window "):
            continue
        groups = _top_level_groups(stripped[len("Window "):])
        # logical Window prints [funcs], [partitionSpec], [orderSpec];
        # the partitionSpec group is omitted entirely when empty.
        if len(groups) >= 3 and groups[-2].strip():
            continue  # partitioned window — parallel
        below = "\n".join(lines[i + 1 : i + 4])
        assert "Aggregate" in below, f"global Window over non-aggregated input:\n{plan}"


def _envelope_fixture(spark, n=200, parts=5):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        (F.col("id") % parts).alias("partition"),
        F.col("id").alias("offset"),
        F.col("id").cast("double").alias("value"),
        (F.col("id") * 1000).alias("timestamp"),
        F.array_repeat(F.col("id"), ((F.col("id") % 3) + 1).cast("int")).alias("timestamps"),
        F.array_repeat(F.col("id").cast("double"), 4).alias("values"),
        (F.col("id") * 100).alias("packet_timestamp"),
        F.lit(10.0).alias("time_delta"),
        F.array_repeat(F.col("id"), (F.col("id") % 4).cast("int")).alias("time_of_flight"),
    )


def test_module_transforms_have_no_single_reducer_window(spark):
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.functions import with_row_index
    from kafka_to_nexus_spark.modules import ev44, f144, se00, tdct

    env = _envelope_fixture(spark)
    ev = ev44.transform(
        env.withColumn("pixel_ids", F.col("time_of_flight"))
        .withColumn("reference_time", F.array(F.col("offset")))
        .withColumn("reference_time_index", F.array(F.lit(0)))
    )
    _assert_no_stream_global_window(ev["events"])
    _assert_no_stream_global_window(ev["pulses"])
    f = f144.transform(env, {"cue_interval": 16})
    _assert_no_stream_global_window(f["log"])
    _assert_no_stream_global_window(f["cue"])
    _assert_no_stream_global_window(se00.cue(env))
    _assert_no_stream_global_window(tdct.cue(env))
    _assert_no_stream_global_window(with_row_index(env))


def test_cumulative_index_matches_global_window(spark):
    """Two-pass per-shard form must equal the exact global-order running sum."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.functions import with_cumulative_before

    from kafka_to_nexus_spark.operators.stats import partition_bases

    env = _envelope_fixture(spark, n=300, parts=7)
    got = {
        (r["partition"], r["offset"]): r["cum"]
        for r in with_cumulative_before(env, F.size("timestamps"), "cum").collect()
    }
    # the driver-side form: bases from per-partition totals the caller
    # already holds (the runner's stats action)
    totals = {
        r["partition"]: r["n"]
        for r in env.groupBy("partition").agg(F.sum(F.size("timestamps")).alias("n")).collect()
    }
    got_bases = {
        (r["partition"], r["offset"]): r["cum"]
        for r in with_cumulative_before(
            env, F.size("timestamps"), "cum", bases=partition_bases(totals)
        ).collect()
    }
    w = Window.orderBy("partition", "offset").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        (r["partition"], r["offset"]): r["cum"]
        for r in env.withColumn(
            "cum", F.coalesce(F.sum(F.size("timestamps")).over(w), F.lit(0)).cast("long")
        ).collect()
    }
    assert got == want
    assert got_bases == want


def test_grouped_cumulative_index_matches_per_group_window(spark):
    """With ``group_col`` every group runs its own counter: the broadcast
    form and the driver-side ``{group: {shard: base}}`` form both equal a
    per-group running sum in global (partition, offset) order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.functions import with_cumulative_before
    from kafka_to_nexus_spark.operators.stats import partition_bases

    env = _envelope_fixture(spark, n=300, parts=7).withColumn(
        "__source", F.concat(F.lit("s"), (F.col("offset") % 3).cast("string"))
    )
    weight = F.size("timestamps")
    totals: dict = {}
    for r in env.groupBy("__source", "partition").agg(F.sum(weight).alias("n")).collect():
        totals.setdefault(r["__source"], {})[r["partition"]] = r["n"]
    w = (Window.partitionBy("__source").orderBy("partition", "offset")
         .rowsBetween(Window.unboundedPreceding, -1))
    want = {
        r["offset"]: r["cum"]
        for r in env.withColumn(
            "cum", F.coalesce(F.sum(weight).over(w), F.lit(0)).cast("long")
        ).collect()
    }
    for bases in (None, {s: partition_bases(t) for s, t in totals.items()}):
        got = {
            r["offset"]: r["cum"]
            for r in with_cumulative_before(
                env, weight, "cum", bases=bases, group_col="__source"
            ).collect()
        }
        assert got == want, bases is None


# ---------------------------------------------------------------------------
# New-op plan shapes: SRP, k-means assignment, decontamination
# ---------------------------------------------------------------------------

def test_srp_signatures_plan_is_shuffle_free(spark):
    """The SRP signature is a pure map over literal hyperplanes — any
    Exchange in the plan means a regression to a join/shuffle form."""
    from kafka_to_nexus_spark.llm import similarity as sim

    df = sim.srp_signatures(spark.read.parquet(f"{SF_DIR}/embeddings.parquet"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_kmeans_assignment_stage_is_map_only(spark):
    """Centroid assignment must not shuffle the vectors: the centroid
    matrix rides in the UDF closure; the only Exchange allowed is the
    k×dim partial aggregation AFTER assignment."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = [(i, [float(i + 1)] * 64) for i in range(4)]
    assigned = emb.select(
        sim._assign_pandas_col("embedding", cents).alias("cid")
    )
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan or "EvalPython" in plan, plan


def test_decontamination_broadcasts_benchmark_side(spark):
    """The benchmark shingle set is small by construction — the overlap
    join must be a BroadcastHashJoin, never a shuffle of the corpus."""
    plan = _plan(spark, Q.SPARK_SQL["decontamination_overlap"])
    assert "BroadcastHashJoin" in plan, plan


def test_repetition_signals_aggregates_partially(spark):
    """Explode + two hash aggs — each must have a partial_ (map-side)
    phase so the shuffle carries per-word partial counts."""
    plan = _plan(spark, Q.SPARK_SQL["repetition_signals"])
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_ivf_partitioned_probe_prunes_partitions(spark, tmp_path):
    """The stored-IVF probe must reach the layout scan as PartitionFilters
    on centroid_id — only the probed bucket directories are read."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    crows = (
        emb.filter(F.col("vec_id") < 4)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("ce"))
        .collect()
    )
    centroids = sorted((int(r["vec_id"]), list(r["ce"])) for r in crows)
    layout = str(tmp_path / "ivf_layout")
    sim.write_ivf_layout(emb, centroids, layout)

    probe = sim.ivf_partitioned_probe(
        spark, layout, centroids, centroids[0][1], k=5, n_probe=2
    )
    qe = probe._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = qe.explainString(mode)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "centroid_id" in pf[-1], plan
    # pruned read touches only the probed buckets
    read_cids = {r["centroid_id"] for r in
                 spark.read.parquet(layout).limit(0).select("centroid_id").collect()}
    probed = {
        r["centroid_id"]
        for r in probe.join(
            spark.read.parquet(layout).select("vec_id", "centroid_id"), "vec_id"
        ).collect()
    }
    assert len(probed) <= 2


def test_ivf_pq_stored_probe_plan_is_pruned_and_training_free(spark, tmp_path):
    """The stored IVF-PQ read path (VERDICT r8 #2): the probe plan must
    reach the layout scan as PartitionFilters on list_id (only probed
    list directories read), read ONLY the code columns (no float
    vectors), contain NO aggregation or join (training left the read
    path entirely), and finish with TakeOrderedAndProject."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(300)
    coarse = sim.kmeans_train_portable(emb, k=4, n_iter=1)
    resid = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    books = sim.pq_train_portable(resid, m=4, k=8, n_iter=1)
    layout = str(tmp_path / "ivfpq_layout")
    sim.write_ivf_pq_layout(emb, coarse, books, layout)

    qv = coarse[0][1]
    probe = sim.ivf_pq_stored_probe(spark, layout, coarse, books, qv,
                                    probes=2, topk=5)
    qe = probe._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = qe.explainString(mode)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "list_id" in pf[-1], plan
    rs = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert rs and "embedding" not in rs[-1] and "code_0" in rs[-1], plan
    assert "HashAggregate" not in plan and "Join" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # results confined to the probed lists
    rows = probe.collect()
    assert rows and len({r.list_id for r in rows}) <= 2


def test_quantization_round_trip_error_bounded(spark):
    """Dequantized int8 codes must sit within scale/2 of the original in
    every dimension (the defining property of floor(x+0.5) quantization)."""
    import numpy as np

    from kafka_to_nexus_spark.llm import similarity as sim
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    prows = sorted(sim.quantize_params(emb).collect(), key=lambda r: r["dim_pos"])
    mins = [float(r["dim_min"]) for r in prows]
    scales = [(float(r["dim_max"]) - float(r["dim_min"])) / 255.0 for r in prows]
    sample = emb.limit(32).select(
        F.col("embedding").cast("array<double>").alias("e"),
        sim.quantize_codes_col(
            F.col("embedding").cast("array<double>"), mins, scales
        ).alias("codes"),
    ).collect()
    mn, sc = np.asarray(mins), np.asarray(scales)
    for r in sample:
        orig = np.asarray(r["e"], dtype=np.float64)
        deq = mn + (np.asarray(r["codes"], dtype=np.float64) + 128.0) * sc
        tol = np.where(sc > 0, sc / 2 + 1e-12, np.inf)
        assert (np.abs(orig - deq) <= tol).all()


def test_adc_topk_agrees_with_exact_topk(spark):
    """int8 ADC keeps enough precision that the approximate top-10 (by
    dot) overlaps the exact dot-product top-10 on the test corpus."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    prows = sorted(sim.quantize_params(emb).collect(), key=lambda r: r["dim_pos"])
    mins = [float(r["dim_min"]) for r in prows]
    scales = [(float(r["dim_max"]) - float(r["dim_min"])) / 255.0 for r in prows]
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0)
          .select(F.col("embedding").cast("array<double>")).collect()[0][0]]
    corpus = emb.filter(F.col("vec_id") != 0)
    adc = {r["vec_id"] for r in sim.adc_topk(corpus, qv, mins, scales, k=10).collect()}
    q = F.array(*[F.lit(float(x)) for x in qv])
    exact = {
        r["vec_id"]
        for r in corpus.select(
            "vec_id", sim.dot(F.col("embedding").cast("array<double>"), q).alias("d")
        ).orderBy(F.desc("d"), "vec_id").limit(10).collect()
    }
    assert len(adc & exact) >= 7, (adc, exact)


def test_cms_heavy_hitters_single_scan_no_join(spark):
    """L29: Spark inlines CTEs, so the naive UNION/self-join CMS form cost
    8 scans; the single-reference chain (explode rows + sum window over
    (r, b)) must read documents exactly once, join nothing, and combine the
    word count map-side."""
    import re

    plan = _plan(spark, Q.SPARK_SQL["cms_heavy_hitters"])
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "partial_count" in plan, plan


def test_dup_span_coverage_single_scan_no_join(spark):
    """L30: the gram explode is the corpus-sized stage — it must run once
    (no join back to the corpus, no re-evaluated CTE), with the duplicate
    test riding a count window over the (gram, doc) relation."""
    import re

    plan = _plan(spark, Q.SPARK_SQL["dup_span_coverage"])
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "partial_count" in plan, plan


def test_sequence_packing_single_scan_sharded_window(spark):
    """L33: the packing cumsum must be a per-shard window (parallel over
    shards), not a global-order single-reducer window, over one scan."""
    import re

    plan = _plan(spark, Q.SPARK_SQL["sequence_packing"])
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    # the window's required ordering is within a hash-partitioned shard:
    # no SinglePartition exchange feeding a Window
    assert "SinglePartition" not in plan, plan


def test_hll_sketch_registers_combine_map_side(spark):
    """L36: the only corpus-sized stage is the (group, register) max — it
    must partial-aggregate before its shuffle; the est x exact join is over
    O(groups) rows so any join strategy is fine, but nothing may be a
    nested-loop over the corpus."""
    plan = _plan(spark, Q.SPARK_SQL["hll_distinct_sketch"])
    assert "partial_max" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_temperature_mix_broadcasts_rates(spark):
    """L37: the derived per-domain rates relation is O(domains) — the join
    back to the corpus must broadcast it, and the domain counts must
    combine map-side before their shuffle."""
    plan = _plan(spark, Q.SPARK_SQL["temperature_mix_sample"])
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_semantic_dedup_joins_on_cluster_key(spark):
    """L38 (SemDeDup): the near-dup test must be an equi-join on the
    cluster key (per-cluster candidate generation), never a corpus-level
    nested loop; centroid assignment is a literal-fold map stage."""
    from kafka_to_nexus_spark.llm import similarity as sim

    emb = spark.table("embeddings")
    centroids = sim.kmeans_train_portable(emb, k=4, n_iter=1)
    df = sim.semantic_dedup_prune(emb, centroids, threshold=0.4)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "centroid_id" in plan, plan


def test_neardup_admission_builds_on_arrival_side(spark, tmp_path):
    """r13: the admission verify join must BUILD on the candidate
    (arrival-sized) side and STREAM the stored shingle relation. At
    bench SFs the un-hinted planner auto-broadcast the STANDING
    relation (its size estimate sits under the threshold) — a per-batch
    BroadcastExchange over the whole standing corpus; past the
    threshold it would shuffle the standing arrays every micro-batch.
    Pin: the BroadcastHashJoin keyed on id_b (the stored-side doc) is
    BuildLeft."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import dedup

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("standing text body "), F.col("id")).alias("text"),
    )
    nd = str(tmp_path / "nd")
    dedup.write_neardup_banding_layout(docs, nd)
    arrivals = spark.range(5).select(
        (F.col("id") + 100).alias("doc_id"),
        F.concat(F.lit("standing text body "), F.col("id")).alias("text"),
    )
    df = dedup.neardup_admission(spark, nd, arrivals, tau=0.5)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    m = re.search(r"\((\d+)\) BroadcastHashJoin\nLeft keys \[1\]: \[id_b", plan)
    assert m, plan
    assert re.search(
        rf"BroadcastHashJoin Inner BuildLeft \({m.group(1)}\)", plan
    ), plan


def test_token_budget_histogram_is_tiny_window(spark):
    """L39: the cumulative sum runs over the 1000-bin histogram, never the
    corpus — the SinglePartition exchange must sit ABOVE the per-bin
    aggregate (which itself partial-aggregates before its shuffle), and
    the kept-bin set joins back as a broadcast."""
    plan = _plan(spark, Q.SPARK_SQL["token_budget_select"])
    assert "partial_sum" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # exactly one single-partition exchange (the histogram cumsum); the
    # corpus-side scan feeds a hash aggregate, not that exchange
    assert plan.count("SinglePartition") == 1, plan


def test_incremental_merge_joins_are_hash_equi(spark):
    """L40: the admission check is two equi-joins on the content hash with
    the reduced sides built first — no sort-merge, no nested loop, and the
    incoming-batch predicate reaches the scan."""
    plan = _plan(spark, Q.SPARK_SQL["incremental_dedup_merge"])
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("doc_id" in l for l in pushed), plan


def test_register_views_rebinds_on_sf_dir_switch(spark):
    """A session that alternates sf dirs must re-bind the temp views: the
    old seen-set memo skipped the re-registration and silently served the
    LAST dir's data for every earlier dir (caught when the scaling tool
    timed 'x1' queries that actually scanned the x100 corpus)."""
    Q.register_views(spark, "/root/testdata/sf0.001", tables=("events",))
    n_small = spark.table("events").count()
    Q.register_views(spark, "/root/testdata/sf0.01", tables=("events",))
    n_big = spark.table("events").count()
    Q.register_views(spark, "/root/testdata/sf0.001", tables=("events",))
    n_small_again = spark.table("events").count()
    assert n_small == n_small_again
    assert n_big > n_small


def test_embedding_moments_plan_has_no_exchange(spark, sf_dir):
    """L41: the distributed-covariance partials are a pure mapInPandas over
    the scan — any Exchange would mean the corpus is being shuffled to
    compute a dim²-sized result."""
    from kafka_to_nexus_spark import queries as Q
    from kafka_to_nexus_spark.llm import similarity as sim

    # read the parquet directly: register_views adds its documented
    # ingest-spread RoundRobin repartition for single-row-group corpus
    # tables, which is not part of the operator's plan
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    schema = "n long, s array<double>, xtx array<double>"
    import numpy as np
    import pandas as pd

    def partials(it):
        for pdf in it:
            if len(pdf):
                M = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
                yield pd.DataFrame({"n": [len(M)], "s": [M.sum(0).tolist()],
                                    "xtx": [(M.T @ M).ravel().tolist()]})

    plan = (
        df.select("embedding").mapInPandas(partials, schema)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan.replace("ReusedExchange", ""), plan
    # and the real operator agrees with itself across partitionings
    n1, m1, c1 = sim.embedding_moments(df.limit(200))
    n2, m2, c2 = sim.embedding_moments(df.limit(200).repartition(7))
    assert n1 == n2 and np.allclose(m1, m2) and np.allclose(c1, c2)


def test_chunk_documents_plan_is_narrow(spark, sf_dir):
    """L42: chunking is one codegen map + posexplode — no shuffle."""
    from kafka_to_nexus_spark import queries as Q
    from kafka_to_nexus_spark.llm import text as llm_text

    out = llm_text.chunk_documents(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), 32, 8
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.replace("ReusedExchange", ""), plan


def test_jaccard_verify_joins_are_sort_merge(spark):
    """The capped ngram_jaccard registry default's two verify joins
    (candidate pairs -> doc shingle-hash relation) must be SortMergeJoin:
    shuffle_hash hard-fails at scale once a partition's hash build
    exceeds its execution-memory slice (observed at the x1000 growth
    tier), and auto-broadcast of the corpus-wide relation is the small-SF
    plan a 100 TB run cannot use. SMJ spills instead. This pins the r5
    swap (commit 0009a32) so it cannot silently revert."""
    from kafka_to_nexus_spark import queries as Q

    for name in ("ngram_jaccard_pairs", "ngram_jaccard_uncapped"):
        df = Q.queries()[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the two verify joins key candidate (id_a|id_b) -> doc_id; the
        # bucket self-join inside lsh_candidate_pairs keys (band,
        # band_key) and may auto-broadcast at tiny SF (AQE re-picks SMJ
        # once the relation outgrows the threshold) — pin the verify
        # joins only
        verify_joins = re.findall(r"(\w+Join) \[id_[ab]#\d+L?\], \[doc_id#\d+L?\]", plan)
        assert len(verify_joins) == 2, f"{name}: expected 2 verify joins\n{plan}"
        assert all(j == "SortMergeJoin" for j in verify_joins), (
            f"{name}: verify joins must be SortMerge (shuffle_hash "
            f"hard-fails at scale, broadcast of the corpus relation is "
            f"invalid at 100 TB), got {verify_joins}\n{plan}"
        )
        assert "ShuffledHashJoin" not in plan, f"{name}: memory-fragile shuffle_hash join is back\n{plan}"


def test_dedup_pipeline_plan_shape(spark):
    """The composed dedup_pipeline (signatures → capped buckets → verify
    → CC → keep): no all-pairs join anywhere (candidate generation is
    bucket-keyed, so no cartesian/nested-loop node may appear), both
    verify joins sort-merge (hinted — the shingle relation is
    corpus-sized, auto-broadcast is the small-SF plan a 100 TB run
    cannot use), and the CC stage picks its regime from the materialized
    edge count (driver union-find at this SF — the labels relation joins
    back as a BROADCAST, the one legitimately tiny side)."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark import queries as Q
    from kafka_to_nexus_spark.llm import dedup as llm_dedup

    # the CC stage localCheckpoints its edge input (lineage truncation is
    # the point), so the FINAL plan cannot show the upstream stages: pin
    # the verify-stage plan on the pre-CC frame, exactly as the pipeline
    # builds it
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sig = llm_dedup.minhash_signatures(docs, num_hashes=8, hash_engine="md5")
    pairs = llm_dedup.lsh_candidate_pairs(
        sig, bands=4, rows_per_band=2, max_bucket=Q._JACCARD_MAX_BUCKET
    )
    verified = llm_dedup.ngram_jaccard(docs, pairs, join_hint="merge").filter(
        F.round(F.col("jaccard"), 6) >= 0.5
    )
    vplan = verified._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in vplan and "NestedLoop" not in vplan, vplan
    verify_joins = re.findall(
        r"(\w+Join) \[id_[ab]#\d+L?\], \[doc_id#\d+L?\]", vplan
    )
    assert len(verify_joins) == 2 and all(
        j == "SortMergeJoin" for j in verify_joins
    ), (verify_joins, vplan)

    # the registry entry end-to-end: the CC stage picked the union-find
    # regime from the materialized edge count at this SF, so the final
    # plan is the labels relation broadcast back onto the corpus — the
    # one legitimately tiny side — and nothing all-pairs
    df = Q.queries()["dedup_pipeline"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_curation_pipeline_plan_shape(spark):
    """The composed curation pipeline (scrub → quality → lang-ID →
    fingerprint dedup → selection → BPE count) must be ONE narrow
    codegen map plus ONE fingerprint shuffle: no joins of any kind, and
    the rk==1 dedup filter must compile to the WindowGroupLimit pair
    (Partial before the exchange, so each fingerprint ships at most one
    row per map partition — the exact-dup clusters are the skew)."""
    from kafka_to_nexus_spark import queries as Q

    df = Q.queries()["curation_pipeline"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("WindowGroupLimit") == 2, plan  # Partial + Final
    assert "Partial" in plan[plan.rindex("WindowGroupLimit"):].split("\n")[0], plan


def test_curation_pipeline_every_stage_filters(spark):
    """Non-vacuousness: each composed stage drops a non-empty set at
    sf0.001 — clones dedup away, zero-en-stopword docs lang-route away,
    the PII cap and quality bar each bite."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    out = Q.queries()["curation_pipeline"](spark, sf)
    kept = [r.doc_id for r in out.select("doc_id").collect()]
    n_base = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert 0 < len(kept) < n_base  # selection is a real filter
    # every clone (doc_id >= 1M) lost the rk==1 race to its original
    assert all(d < 1_000_000 for d in kept)
    # PII columns present and the cap really excluded someone: re-run the
    # enrichment side unfiltered via the oracle's complement
    assert out.filter(F.col("n_pii") > Q._CURATION_PII_CAP).count() == 0


def test_source_cap_window_limit_is_pushed_partial(spark):
    """source_cap_sample's per-source cap must compile to the
    WindowGroupLimit pair — a Partial limit BEFORE the source exchange
    and a Final one after — so a hot source ships at most N rows per map
    partition instead of its whole document set (the skew-safe top-N
    shape at 100 TB)."""
    plan = _plan(spark, Q.SPARK_SQL["source_cap_sample"])
    assert "row_number(), 8, Partial" in plan, plan
    assert "row_number(), 8, Final" in plan, plan


def test_bm25_topk_plan_shape(spark):
    """bm25_topk: the final top-k must be TakeOrderedAndProject
    (per-partition top-k + k-row merge, never a single-partition global
    sort or a row_number window); the 4-row df relation must broadcast;
    and the query-term IN predicate must sit below the first aggregate
    so the posting list is pruned before any shuffle."""
    df = Q.queries()["bm25_topk"](spark, SF_DIR)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = qe.explainString(mode)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the IN filter appears before (above in text = physical below) the
    # first HashAggregate in each explode subtree
    first_agg = plan.index("HashAggregate")
    assert "IN (join,window,filter,vector)" in plan[:first_agg] or re.search(
        r"Condition : term#\d+ IN", plan
    ), plan


def _executed_plan(spark, name):
    df = Q.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_nb_classifier_plan_shape(spark):
    """nb_lang_classifier: model relations (classes×vocab, classes) join
    back as BroadcastHash, aggregations carry map-side partials, and the
    only nested-loop joins are the 1-row/5-row constant relations (vocab
    size, totals, priors) — never a corpus-sized cartesian."""
    plan = _executed_plan(spark, "nb_lang_classifier")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan or "partial_count" in plan, plan


def test_dsir_plan_shape(spark):
    """dsir_importance_weights: the two 1024-row distributions broadcast
    back onto the bucket relation; gram→bucket counting is partial-agged;
    no cartesian anywhere."""
    plan = _executed_plan(spark, "dsir_importance_weights")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan or "partial_count" in plan, plan


def test_incremental_neardup_plan_shape(spark):
    """incremental_neardup_merge: candidate generation is bucket-keyed
    equi-joins with the hinted broadcast arrival side — no cartesian, and
    the capped standing side keeps the join bucket-bounded."""
    plan = _executed_plan(spark, "incremental_neardup_merge")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_unigram_logprob_sums_decimal_with_partials(spark):
    """unigram_logprob_score: per-term contributions must be summed as
    DECIMAL (exact, order-independent — the cross-engine float-parity
    guarantee) with map-side partial aggregation, and the term join must
    be hash-based (broadcast at small SF; never a nested loop)."""
    df = Q.queries()["unigram_logprob_score"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan, plan
    assert "decimal(28,6)" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan


def test_neardup_admission_plan_is_window_free_and_scans_layout(
    spark, tmp_path
):
    """The stored near-dup admission (VERDICT r9 #1): per admission batch
    the plan must contain NO Window operator — the inline L66 twin
    re-caps the ENTIRE standing corpus with a row_number window every
    batch; the stored path's cap was paid once at layout-build time —
    and must read its standing side from the layout parquet (banding /
    fingerprints / shingle_hashes scans present, broadcast arrival
    side)."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import dedup as llm_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    standing = docs.filter(F.col("doc_id") % 10 != 0)
    arrivals = docs.filter(F.col("doc_id") % 10 == 0)
    layout = str(tmp_path / "neardup_layout")
    llm_dedup.write_neardup_banding_layout(standing, layout)

    adm = llm_dedup.neardup_admission(spark, layout, arrivals, tau=0.5)
    qe = adm._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = qe.explainString(mode)
    assert "Window" not in plan, plan  # no per-batch standing-corpus recap
    for rel in ("banding", "fingerprints", "shingle_hashes"):
        assert f"neardup_layout/{rel}" in plan, (rel, plan)
    assert "BroadcastHashJoin" in plan, plan
    # admissions equal the inline per-batch recompute on the same corpus
    from kafka_to_nexus_spark import queries as Q

    inline = Q.QUERY_FUNCS["incremental_neardup_merge"](spark, SF_DIR)
    got = {
        r.doc_id: (r.admitted, r.best_jaccard) for r in adm.collect()
    }
    want = {
        r.doc_id: (r.admitted, r.best_jaccard) for r in inline.collect()
    }
    assert got == want


def test_neardup_append_keeps_cap_and_probe_equality(spark, tmp_path):
    """append_neardup_banding (the L64 move): building the layout in two
    appends must (a) never exceed max_bucket rows per (band, band_key),
    (b) keep every fingerprint and shingle set (the exact-dup backstop is
    uncapped), and (c) keep admissions cap-proof for exact duplicates."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import dedup as llm_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    standing = docs.filter(F.col("doc_id") % 10 != 0)
    first = standing.filter(F.col("doc_id") % 3 != 0)
    second = standing.filter(F.col("doc_id") % 3 == 0)
    layout = str(tmp_path / "incr_layout")
    llm_dedup.write_neardup_banding_layout(first, layout)
    llm_dedup.append_neardup_banding(spark, layout, second)

    band = spark.read.parquet(f"{layout}/banding")
    over = (
        band.groupBy("band", "band_key").count().filter(F.col("count") > 8)
    )
    assert over.count() == 0
    fp = spark.read.parquet(f"{layout}/fingerprints")
    assert fp.count() == standing.count()
    sh = spark.read.parquet(f"{layout}/shingle_hashes")
    assert sh.count() == standing.count()

    # an arrival identical to a standing doc is rejected even when its
    # LSH buckets were capped away — the fingerprint leg backstops it
    dup_src = standing.limit(1).collect()[0]
    arrivals = spark.createDataFrame(
        [(999_999, dup_src.text)], "doc_id long, text string"
    )
    adm = llm_dedup.neardup_admission(spark, layout, arrivals, tau=0.5)
    row = adm.collect()[0]
    assert row.admitted is False and row.best_jaccard == 1.0


def test_neardup_banding_layout_compacts_with_explicit_key(spark, tmp_path):
    """The generalized compactor also serves the near-dup banding layout
    (partition key 'band' — not sniffable, passed explicitly): appends
    accumulate per-batch small files exactly like the streamed index
    layouts, and probe cost is files-opened. Contents survive exactly
    and the partition filter still prunes on the compacted copy."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import dedup as llm_dedup
    from kafka_to_nexus_spark.llm import similarity as sim

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    standing = docs.filter(F.col("doc_id") % 10 != 0)
    layout = str(tmp_path / "nd_layout")
    llm_dedup.write_neardup_banding_layout(
        standing.filter(F.col("doc_id") % 3 != 0), layout)
    llm_dedup.append_neardup_banding(
        spark, layout, standing.filter(F.col("doc_id") % 3 == 0))

    import pathlib

    src = f"{layout}/banding"
    dst = str(tmp_path / "nd_compact")
    sim.compact_ivf_layout(spark, src, dst, partition_col="band")
    n_src = len(list(pathlib.Path(src).rglob("*.parquet")))
    n_dst = len(list(pathlib.Path(dst).rglob("*.parquet")))
    assert n_dst < n_src
    cols = ["doc_id", "band", "band_key"]
    before = {tuple(r) for r in spark.read.parquet(src).select(*cols).collect()}
    after = {tuple(r) for r in spark.read.parquet(dst).select(*cols).collect()}
    assert before == after
    plan = (spark.read.parquet(dst).filter(F.col("band") == 1)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters: [" in plan and "band" in plan.split(
        "PartitionFilters")[1][:120]


def test_bloom_membership_plan_shape(spark):
    """bloom_admission_filter: the words bitmap and the 1-row params
    relation join in as BroadcastHash / broadcast-loop-on-1-row — never a
    cartesian over data-sized relations — and both the build's word
    bit_or and the probe's bool_and carry map-side partials."""
    plan = _executed_plan(spark, "bloom_admission_filter")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_bit_or" in plan or "bit_or" in plan, plan
    # Catalyst rewrites bool_and over booleans to min — either spelling
    # proves the probe's all-bits-set fold partial-aggregates
    assert "partial_bool_and" in plan or "partial_min" in plan, plan


def test_bloom_decontamination_plan_shape(spark):
    """bloom_decontamination: the bloom leg is pure codegen over a
    literal word map — the ONLY join in the plan is the exact
    ground-truth leg's broadcast against the benchmark grams (no
    sort-merge, no cartesian), and the probe side never shuffles gram
    instances (no explode of position rows into an aggregate)."""
    plan = _executed_plan(spark, "bloom_decontamination")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the probe is expression-level: no per-position generator feeding
    # an aggregate (the rejected 31M-row form's shape)
    assert "Generate explode(pos" not in plan, plan


def test_weighted_sample_plan_is_take_ordered(spark):
    """weighted_sample_ars: ORDER BY + LIMIT must plan as
    TakeOrderedAndProject (per-partition top-k, driver merge) — never a
    rangepartitioning Exchange + global Sort, which would shuffle the
    corpus to sample 100 rows."""
    plan = _executed_plan(spark, "weighted_sample_ars")
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_admission_pipeline_plan_shape(spark):
    """admission_pipeline: the composed gate inherits every stage's scale
    shape. r13 split: the PROBE DAG (bloom membership + exact check +
    near-dup admission) is materialized once behind a localCheckpoint,
    so its shape is asserted on the un-checkpointed decision relation —
    arrival sides broadcast into the stored relations, the Bloom bitmap
    read from the stored layout (never rebuilt inline) — while the
    final plan must be checkpoint-scan + the arrival-sized quota rank +
    a broadcast stage join, with no cartesian anywhere."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import dedup as llm_dedup

    # probe DAG, exactly as the builder composes it before its checkpoint
    dec, _ = Q._bloom_decisions(spark, SF_DIR)
    layout = Q._neardup_layout(spark, SF_DIR)
    arrivals = spark.table("documents").filter(F.col("doc_id") % 10 == 0)
    nd = llm_dedup.neardup_admission(
        spark, layout, arrivals, tau=Q._INC_ND_TAU
    ).select("doc_id", F.col("admitted").alias("_nd_ok"))
    pass2 = (
        arrivals.select("doc_id", "source").join(dec, "doc_id").join(nd, "doc_id")
    )
    probe = pass2._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in probe, probe
    assert "BroadcastHashJoin" in probe, probe
    # the Bloom bitmap is a STORED layout — the probe must read it from
    # the layout dir, never run the corpus-sized build inline. (The
    # read path's small generation fold — bit_or over the ~n_keys/10-row
    # words parquet — is a legitimate part of the stored read; the
    # forbidden shape is a distinct over corpus fingerprints feeding
    # it, which would show as an extra corpus-text scan.)
    assert "k2n_bloom_layout" in probe, probe[:3000]

    plan = _executed_plan(spark, "admission_pipeline")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # the broadcast stage join
    assert plan.count("Window") <= 2, plan
    # the probe ran once at checkpoint time: the final plan reads the
    # materialized decision relation, not the probe joins
    assert "Scan ExistingRDD" in plan, plan


def test_image_phash_near_dup_plan_is_banded_equi_join(spark):
    """The perceptual near-dup pair generation must be the BANDED
    equi-join (shuffle on (band_idx, band_val)), never a cartesian or
    nested-loop sweep of the hash relation — the property that keeps it
    linear-ish at 100 TB. The exact bit_count verify may appear only as
    a post-join Filter, and the ONLY windows are the two sides'
    per-bucket occupancy caps (partitioned by (band_idx, band_val), so
    per-bucket parallel and bounded — the flood guard, VERDICT r11 #2),
    never a corpus-wide rank."""
    plan = _executed_plan(spark, "image_phash_near_dup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "band_idx" in plan and "band_val" in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), plan
    assert 1 <= plan.count("Window [") <= 2, plan
    # Spark pushes the row_number cap into WindowGroupLimit nodes (a
    # partial limit BEFORE the shuffle) — the best possible shape: a
    # flooded bucket is truncated map-side, never fully shuffled
    assert "WindowGroupLimit" in plan, plan
    assert "hashpartitioning(band_idx" in plan, plan[:2000]


def test_image_phash_near_dup_uncapped_plan_window_free(spark):
    """The exactness twin must stay the pure banded join — no cap
    window, no cartesian — so the capped/uncapped value agreement
    isolates exactly the cap's effect."""
    plan = _executed_plan(spark, "image_phash_near_dup_uncapped")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" not in plan, plan


def test_image_phash_fixture_is_single_pass(spark):
    """image_phash: the SQL-built PNG fixture plus decode is one
    projection chain over the documents scan — a single Python stage
    (the codec) and no Exchange before it (the explode-to-two-variants
    and payload build are narrow)."""
    plan = _executed_plan(spark, "image_phash")
    assert "MapInPandas" in plan, plan
    # the only allowed Exchange is the round-robin spread of the tiny
    # documents scan across cores (the Python codec is the bottleneck);
    # a KEYED shuffle (hashpartitioning/range) would mean the fixture
    # build or decode regressed to a join/agg form
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, plan
    assert plan.count("Exchange") <= 1, plan
    assert "CartesianProduct" not in plan, plan


def test_kll_grouped_plan_partitions_by_group_and_shard(spark):
    """kll_quantiles_by_lang: the corpus-sized compaction stage shuffles
    on (lang, shard, ...) — per-group parallelism — and no stage windows
    over an un-partitioned corpus; no cartesian product anywhere."""
    plan = _executed_plan(spark, "kll_quantiles_by_lang")
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(lang" in plan, plan[:2000]


def test_admission_session_probe_reads_cache_not_parquet(spark, tmp_path):
    """VERDICT r11 #5: the AdmissionSession exists to kill the per-batch
    FIXED costs — so its decision plan must probe the PERSISTED
    in-memory layout relations (InMemoryTableScan), never re-scan the
    layout parquet dirs, while the per-batch-reread twin (admit_batch)
    keeps its parquet scans. After a fold, the session plan may union
    cached increments but still must not touch the dirs."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import dedup as llm_dedup
    from kafka_to_nexus_spark.streaming import stateful

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    standing = docs.filter(F.col("doc_id") % 10 != 0)
    arrivals = docs.filter(F.col("doc_id") % 10 == 0).limit(50)
    nd = str(tmp_path / "neardup_layout")
    llm_dedup.write_neardup_banding_layout(standing, nd)
    bloom = str(tmp_path / "bloom_layout")
    llm_dedup.write_bloom_layout(
        standing.select(F.md5("text").alias("_fp")), bloom, "_fp",
        k=4, bits_per_key=6,
    )

    sess = stateful.AdmissionSession(spark, bloom, nd, quota=5, tau=0.5)
    try:
        def plan_of(df):
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
                .fromString("formatted")
            return df._jdf.queryExecution().explainString(mode)

        # layout-relation reads all come off the cache: one
        # InMemoryTableScan per stored relation probed (words, params,
        # banding, fingerprints, shingle_hashes) — the parquet paths may
        # still APPEAR inside the InMemoryRelation provenance blocks,
        # but execution never re-lists the dirs. The reread twin has
        # ZERO cache scans: every probe pays the parquet scan.
        dec = stateful._admit_batch_against(sess._state(), arrivals, 5, 0.5)
        plan = plan_of(dec)
        assert plan.count("InMemoryTableScan") >= 5, plan

        # after a fold the probe unions the base cache with the
        # localCheckpoint-ed increments (lineage-truncated: they scan as
        # ExistingRDD, which is what keeps batch N's plan O(pieces)
        # instead of exponentially nested) — still zero dir re-lists
        sess.admit_and_fold(arrivals, 0, str(tmp_path / "dec"))
        dec2 = stateful._admit_batch_against(sess._state(), arrivals, 5, 0.5)
        plan2 = plan_of(dec2)
        assert plan2.count("InMemoryTableScan") >= plan.count(
            "InMemoryTableScan"
        ), plan2
        assert "ExistingRDD" in plan2, plan2
    finally:
        sess.close()

    # the reread twin really does pay the parquet scans the session
    # saves — planned AFTER close() so Spark's cache substitution can't
    # hand it the session's relations (which is what production gets:
    # no session, no cache)
    twin = plan_of(stateful.admit_batch(spark, arrivals, bloom, nd, 5, 0.5))
    assert "InMemoryTableScan" not in twin, twin
    assert "neardup_layout/banding" in twin, twin


def test_phash_stored_admission_plan_shape(spark, tmp_path):
    """L91: the stored image-fingerprint probe must be Window-free (the
    occupancy cap was paid at layout-build time, never per batch), read
    its standing side from the layout parquet, and broadcast the
    arrival bands — the neardup_admission plan contract for the image
    family."""
    layout = str(tmp_path / "phash_layout")
    standing = spark.range(2000).selectExpr(
        "id AS media_id",
        "CAST((id * 2654435761 % 2147483629) * (id * 2654435761"
        " % 2147483629) % 2147483629 + (id * 1103515245 % 2147483629)"
        " * (id * 1103515245 % 2147483629) % 2147483629 * 2147483648"
        " AS LONG) AS dhash64",
    )
    multimodal_write = __import__(
        "kafka_to_nexus_spark.llm.multimodal", fromlist=["x"])
    multimodal_write.write_phash_layout(standing, layout)
    arrivals = spark.range(50).selectExpr(
        "id + 10000 AS media_id", "CAST(id * 7 + 1 AS LONG) AS dhash64")
    adm = multimodal_write.phash_admission(spark, layout, arrivals)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = adm._jdf.queryExecution().explainString(mode)
    assert "Window" not in plan, plan
    assert "phash_layout/banding" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_video_frames_is_single_python_chain(spark):
    """multimodal_video_frames: fixture build (encode) and decode are a
    chain of Python stages over ONE narrow documents scan — no keyed
    shuffle anywhere (the op is partition-preserving; a
    hashpartitioning Exchange would mean the per-frame expansion
    regressed to a join/agg form), no join at all."""
    plan = _executed_plan(spark, "multimodal_video_frames")
    assert "MapInPandas" in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("Exchange") <= 1, plan
    assert "Join" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan


def test_video_near_dup_plan_shape(spark):
    """video_phash_near_dup: the frame-aligned banded join — equi-join
    on (frame, band_idx, band_val), never a cartesian/nested-loop over
    videos; the occupancy cap rides WindowGroupLimit (map-side bucket
    truncation BEFORE the shuffle, the image-family shape) partitioned
    by the frame-aware bucket key."""
    plan = _executed_plan(spark, "video_phash_near_dup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "band_idx" in plan and "band_val" in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), plan
    assert "WindowGroupLimit" in plan, plan
    assert "hashpartitioning(_f" in plan, plan[:2000]


def test_video_stored_admission_plan_shape(spark, tmp_path):
    """L94: the stored video-fingerprint probe must be Window-free (the
    occupancy cap was paid at layout-build time, never per batch), read
    its standing side from the layout parquet, and broadcast the
    arrival bands — the phash_admission plan contract with the frame
    vote on top."""
    from kafka_to_nexus_spark.llm import multimodal as mm

    layout = str(tmp_path / "video_layout")
    standing = spark.range(2000).selectExpr(
        "id AS media_id",
        "CAST(id % 3 AS INT) AS frame_idx",
        "CAST(3 AS INT) AS n_frames",
        "CAST((id * 2654435761 % 2147483629) * (id * 2654435761"
        " % 2147483629) % 2147483629 + (id * 1103515245 % 2147483629)"
        " * (id * 1103515245 % 2147483629) % 2147483629 * 2147483648"
        " AS LONG) AS dhash",
    )
    mm.write_video_phash_layout(standing, layout)
    arrivals = spark.range(50).selectExpr(
        "id + 10000 AS media_id", "CAST(0 AS INT) AS frame_idx",
        "CAST(1 AS INT) AS n_frames", "CAST(id * 7 + 1 AS LONG) AS dhash")
    adm = mm.video_phash_admission(spark, layout, arrivals)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = adm._jdf.queryExecution().explainString(mode)
    assert "Window" not in plan, plan
    assert "video_layout/banding" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_duplicate_span_removal_plan_shape(spark):
    """duplicate_span_removal: no cartesian/nested-loop anywhere; at
    most three cheap corpus scans (frequency pass, instance-join pass,
    rebuild pass); the distinct-doc frequency is an AGGREGATION with
    map-side partials, never a window over the gram key (a gram shared
    by millions of docs would be one sorted window partition — the
    single-task skew that measured +1.39 superlinear at the 5M-doc
    tier); every window in the plan is doc-keyed."""
    plan = _executed_plan(spark, "duplicate_span_removal")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert plan.count("Scan parquet") <= 3, plan
    assert "partial_count(distinct" in plan, plan
    assert plan.count("windowspecdefinition(_id") == plan.count(
        "windowspecdefinition("
    ), plan


def test_html_text_extract_plan_shape(spark):
    """html_text_extract: a pure narrow map — ZERO exchanges, zero
    joins, zero Python; the whole regex/entity/collapse chain lives in
    one whole-stage-codegen projection over a single scan."""
    plan = _executed_plan(spark, "html_text_extract")
    # the only exchange allowed is the view's round-robin scan
    # repartition — never a hash shuffle (no agg/join in the op)
    assert "hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Scan parquet") == 1, plan


def test_span_rewrite_stored_plan_shape(spark):
    """span_rewrite_stored: the arrival gram relation BROADCASTS
    against the stored bank (no shuffle of either probe side), the
    bank scan reads only its 16-byte key column, no corpus-sized
    window (every window is doc-keyed on the arrival batch), no
    cartesian."""
    plan = _executed_plan(spark, "span_rewrite_stored")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "k2n_dupgram_layout" in plan, plan
    assert "ReadSchema: struct<g:binary>" in plan, plan
    assert plan.count("windowspecdefinition(_id") == plan.count(
        "windowspecdefinition("
    ), plan


def test_normalized_dedup_plan_shape(spark):
    """normalized_dedup: narrow normalization map + exactly ONE hash
    shuffle (the keep-lowest window on the 32-hex key) — no join, no
    Python, single scan (the url_canonical_dedup shape)."""
    plan = _executed_plan(spark, "normalized_dedup")
    assert plan.count("hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Scan parquet") == 1, plan


def test_url_canonical_dedup_plan_shape(spark):
    """url_canonical_dedup: narrow canonicalization map + exactly ONE
    hash shuffle (the keep-lowest window on the canonical key) — no
    join, no Python, single scan."""
    plan = _executed_plan(spark, "url_canonical_dedup")
    assert plan.count("hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Scan parquet") == 1, plan


def test_line_boilerplate_plan_shape(spark):
    """line_boilerplate_removal: the frequent-line set comes back as a
    BROADCAST join (never a corpus-shuffled join for the filter), no
    window anywhere (the rebuild is an order-restoring array_sort
    inside one groupBy), no cartesian."""
    plan = _executed_plan(spark, "line_boilerplate_removal")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
