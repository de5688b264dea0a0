"""Physical-plan regression tests: the properties that make these
pipelines scale must stay visible in the plan — time predicates pushed to
the parquet scan, dimension lookups as broadcast joins (never sort-merge),
top-k as TakeOrderedAndProject, and no Python UDFs in the core path."""

import os

import pytest
from pyspark.sql import functions as F

from ringo_spark.testbed import (
    fact_events_by_minute_df, fact_lineitem_by_day_df,
)
from ringo_spark.operators.relational import topk_df
from ringo_spark.operators.dedup import dedup_exact_df
from tests.fixtures import (
    assert_dynamic_pruning, index_scan_partition_filters, partitions_read,
)

SF = "/root/testdata/sf0.001"


def plan_of(spark, df, mode="formatted"):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


def test_time_filter_pushed_to_scan(spark):
    plan = plan_of(spark, fact_events_by_minute_df(spark, SF))
    # nanos-encoded ts: the raw-shadow predicate must reach PushedFilters
    assert "LessThan(ts," in plan
    # declared-schema projection prunes unused source columns at the scan
    assert "props" not in plan


def test_dim_lookup_is_broadcast_not_sortmerge(spark):
    plan = plan_of(spark, fact_lineitem_by_day_df(spark, SF))
    assert "BroadcastHashJoin" in plan
    # dim lookups must never degrade to a shuffle of the big side
    assert "SortMergeJoin" not in plan


def test_pushdown_on_plain_timestamp_scan(spark):
    plan = plan_of(spark, fact_lineitem_by_day_df(spark, SF))
    assert "LessThan(l_shipdate" in plan


def test_topk_is_take_ordered(spark):
    plan = plan_of(spark, topk_df(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_core_path_has_no_python_udfs(spark):
    for df in (fact_events_by_minute_df(spark, SF),
               fact_lineitem_by_day_df(spark, SF),
               dedup_exact_df(spark, SF)):
        plan = plan_of(spark, df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_aggregation_has_partial_and_final(spark):
    # map-side partial aggregation must precede the exchange
    plan = plan_of(spark, fact_events_by_minute_df(spark, SF), "simple")
    before_exchange = plan.split("Exchange")[-1]
    assert "HashAggregate" in before_exchange


def test_chain_fact_keeps_core_plan_shape(spark):
    """The two-level parent chain must keep the core guarantees: every
    dim lookup broadcast (no sort-merge anywhere), the time filter pushed
    to the lineitem scan, no Python."""
    from ringo_spark.operators.rollup_grain import (
        fact_events_by_second_df, fact_lineitem_chain_df,
    )

    plan = plan_of(spark, fact_lineitem_chain_df(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "LessThan(l_shipdate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    sec = plan_of(spark, fact_events_by_second_df(spark, SF))
    assert "LessThan(ts," in sec  # raw-nanos shadow predicate at the scan
    assert "BatchEvalPython" not in sec


def test_corpus_curation_is_one_fused_plan(spark):
    """The composed curation pipeline must stay one Catalyst plan: lang
    filter pushed to the scan, no Python, and exactly two exchanges (the
    dedup hash partition + the final accounting agg)."""
    from ringo_spark.operators.pipeline import corpus_curation_df

    plan = plan_of(spark, corpus_curation_df(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "In(lang" in plan  # language IN-filter reaches PushedFilters
    simple = plan_of(spark, corpus_curation_df(spark, SF), "simple")
    assert simple.count("Exchange") == 2
    # the r13 dedup shave: min-struct hash aggregate, not a row_number
    # window — no per-key Sort, and the doc text never rides the shuffle
    assert "Window" not in simple
    assert "partial_min" in simple  # map-side combine before the exchange


def test_ann_lsh_is_bucket_equijoin(spark):
    """Every LSH configuration must plan the candidate search as an
    equi-join on the bucket key (broadcast of the tiny query side), never
    a cross/nested-loop join of the corpus."""
    from ringo_spark.operators.similarity import (
        ann_lsh_bucketed_df, ann_lsh_multiprobe_df,
    )

    for df in (ann_lsh_bucketed_df(spark, SF),
               ann_lsh_bucketed_df(spark, SF, bits=12),
               ann_lsh_multiprobe_df(spark, SF)):
        plan = plan_of(spark, df, "simple")
        assert "BroadcastHashJoin [bucket" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_indexed_query_prunes_partitions(spark):
    """The persisted-IVF query path must read ONLY the probed cells:
    the index scan carries a dynamic-pruning filter on ``cell`` (no
    literal cell list, no corpus-wide rescan), the probe side stays
    broadcast, and once run the scan has read exactly as many cell
    partitions as the queries probe."""
    from ringo_spark.operators import similarity as sim

    plan = plan_of(spark, sim.ann_ivf_indexed_df(spark, SF))
    assert_dynamic_pruning(
        index_scan_partition_filters(plan, ".ivf_index"), "cell")
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # the seed centroids are the first K vectors, so at the default K=16
    # the 20 queries probe every cell; 32 cells and one probe per query
    # leave cells for the pruning to skip
    p = sim.build_ivf_index(spark, SF, k=32)
    probed = (sim._query_probes(spark, SF, sim._stored_centroids(p), 1)
              .select("cell").distinct().count())
    assert 0 < probed < sum(1 for d in os.listdir(p) if d.startswith("cell="))
    df = sim.ann_ivf_indexed_df(spark, SF, k=32, nprobe=1)
    df.collect()
    assert partitions_read(df) == [probed]


def test_training_ops_plan_shapes(spark):
    """text_scrub / embed_quantize / doc_chunk are map-only (zero
    Exchange); seq_pack's only exchange is the shard-partitioned window
    (never a global single-partition sort); none of them touch Python."""
    from ringo_spark.operators.training import (
        doc_chunk_df, embed_quantize_df, seq_pack_df, text_scrub_df,
    )

    for fn in (text_scrub_df, embed_quantize_df, doc_chunk_df):
        plan = plan_of(spark, fn(spark, SF))
        assert "Exchange" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plan = plan_of(spark, seq_pack_df(spark, SF))
    assert "SinglePartition" not in plan  # the global-window anti-pattern
    assert "hashpartitioning(shard" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lsh_indexed_query_prunes_partitions(spark):
    """The persisted LSH index query must read only the query batch's
    bucket directories: a dynamic-pruning filter on ``bucket``, and
    once run exactly as many bucket partitions read as the queries hash
    to — the IVF index plan property."""
    from ringo_spark.operators import similarity as sim

    plan = plan_of(spark, sim.ann_lsh_indexed_df(spark, SF))
    assert_dynamic_pruning(
        index_scan_partition_filters(plan, ".lsh_index"), "bucket")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    bits = sim._auto_ann_bits(spark, SF)
    p = sim.build_lsh_index(spark, SF, bits)
    probed = (spark.read.parquet(f"{SF}/embeddings.parquet")
              .where(F.col("vec_id") < sim.LSH_N_QUERIES)
              .select(sim._bucket_expr(F.col("embedding"), bits))
              .distinct().count())
    buckets = sum(1 for d in os.listdir(p) if d.startswith("bucket="))
    assert 0 < probed < buckets
    df = sim.ann_lsh_indexed_df(spark, SF)
    df.collect()
    assert partitions_read(df) == [probed]


def test_tpch_join_query_plan_shapes(spark):
    """The multi-join TPC-H shapes keep every dim join broadcast (no SMJ
    at test scale), aggregate through exactly ONE hash shuffle, and q3's
    top-k is TakeOrderedAndProject — never a global sort."""
    from ringo_spark.operators.tpch import (
        q3_shipping_priority_df, q5_local_supplier_volume_df,
        q10_returned_items_df,
    )

    p3 = plan_of(spark, q3_shipping_priority_df(spark, SF), "simple")
    assert "TakeOrderedAndProject" in p3 and "Sort " not in p3
    for fn in (q3_shipping_priority_df, q5_local_supplier_volume_df,
               q10_returned_items_df):
        plan = plan_of(spark, fn(spark, SF), "simple")
        assert "SortMergeJoin" not in plan, fn.__name__
        assert plan.count("Exchange hashpartitioning") == 1, fn.__name__
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpch_broadcast_gate_degrades(spark):
    """Scale regime: with the broadcast gate closed (simulating customer/
    supplier having outgrown broadcastability) the scale-proportional
    sides must NOT carry a forced broadcast hint — the planner degrades
    to a shuffle join instead of OOMing — while the constant-size
    nation/region chain may keep broadcasting.  Results are identical in
    both regimes."""
    from ringo_spark.functions.broadcast_gate import GATE_CONF_KEY
    from ringo_spark.operators.tpch import (
        q3_shipping_priority_df, q5_local_supplier_volume_df,
        q10_returned_items_df,
    )

    conf = spark.conf
    old_auto = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set(GATE_CONF_KEY, "0")
        # also silence Catalyst's own auto-broadcast so the degraded
        # strategy is visible in the static plan (AQE could still convert
        # back at runtime from real sizes — that's the graceful path)
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # q5 keeps two constant-size broadcasts (region→nation, then the
        # nr chain into the fact); q10 keeps one (nation); q3 none
        for fn, n_const_bcast in ((q3_shipping_priority_df, 0),
                                  (q5_local_supplier_volume_df, 2),
                                  (q10_returned_items_df, 1)):
            plan = plan_of(spark, fn(spark, SF), "simple")
            assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan), \
                fn.__name__
            # only the constant-size (nation/region) joins stay broadcast
            assert plan.count("BroadcastHashJoin") == n_const_bcast, fn.__name__
        degraded = {tuple(r)
                    for r in q5_local_supplier_volume_df(spark, SF).collect()}
    finally:
        conf.unset(GATE_CONF_KEY)
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_auto)
    hinted = {tuple(r) for r in q5_local_supplier_volume_df(spark, SF).collect()}
    assert degraded and degraded == hinted


def test_broadcast_gate_unit(spark, tmp_path):
    """Gate mechanics: under the gate the hint is attached (ResolvedHint
    in the analyzed plan), over it the frame is returned unhinted; the
    size_path route measures the recursive on-disk size (TTL=0 default:
    every call re-measures, so rewrites are always seen)."""
    from ringo_spark.functions import broadcast_gate as bg

    p = str(tmp_path / "t.parquet")
    spark.range(1000).write.parquet(p)
    df = spark.read.parquet(p)

    hinted = bg.broadcast_if_small(df, gate_bytes=1 << 30)
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    unhinted = bg.broadcast_if_small(df, gate_bytes=0)
    assert "ResolvedHint" not in unhinted._jdf.queryExecution().analyzed().toString()

    s1 = bg.table_size_bytes(spark, p)
    assert s1 > 0 and bg._SIZE_CACHE[p][1] == s1
    assert bg.table_size_bytes(spark, p) == s1  # re-measured, unchanged
    # staleness (r06 ADVICE): rewriting the table under the same path
    # must re-measure — a stale small size would force-broadcast a
    # now-large table
    spark.range(200_000).write.mode("overwrite").parquet(p)
    s2 = bg.table_size_bytes(spark, p)
    assert s2 != s1 and bg._SIZE_CACHE[p][1] == s2
    spark.read.parquet(p).limit(1000).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    s1 = bg.table_size_bytes(spark, p)
    via_path = bg.broadcast_if_small(df, gate_bytes=s1, size_path=p)
    assert "ResolvedHint" in via_path._jdf.queryExecution().analyzed().toString()
    via_path2 = bg.broadcast_if_small(df, gate_bytes=s1 - 1, size_path=p)
    assert "ResolvedHint" not in via_path2._jdf.queryExecution().analyzed().toString()


def test_training_prep_plan_shape(spark):
    """The composed prep pipeline stays JVM-side with its filters at the
    scan: language IN-filter pushed down, benchmark shingle set joined
    broadcast, no Python evaluator anywhere."""
    from ringo_spark.operators.pipeline import training_prep_df

    plan = plan_of(spark, training_prep_df(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "In(lang" in plan
    assert "BroadcastHashJoin" in plan


def test_q18_semi_join_plan_shape(spark):
    """Q18's decorrelated HAVING subquery: the qualifying-keys set joins
    as a broadcast LEFT SEMI (never a shuffle of lineitem against
    itself), the aggregate is partial+final, top-k is
    TakeOrderedAndProject."""
    from ringo_spark.operators.tpch import q18_large_volume_customer_df

    plan = plan_of(spark, q18_large_volume_customer_df(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q13_outer_join_count_plan_shape(spark):
    """Q13's left-outer + count-over-empty-groups: the order-priority
    filter stays in the join condition (customers keep their row), the
    join is a single equi-join (no cartesian), and the custkey
    aggregation reuses the join's hash partitioning — exactly one
    Exchange on the custkey column, plus the tiny final distribution
    agg's."""
    from ringo_spark.operators.tpch import q13_customer_distribution_df

    import re

    df = q13_customer_distribution_df(spark, SF)
    plan = plan_of(spark, df, "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # the priority filter reaches the orders scan as a pushed predicate
    # (it lives in the join CONDITION — a WHERE would drop empty groups)
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan
    assert "LeftOuter" in plan
    # customer-side data shuffles on custkey at most once: the
    # groupBy(c_custkey) either reuses the join exchange (SMJ case) or is
    # the only custkey exchange (broadcast case)
    assert len(re.findall(r"Exchange hashpartitioning\(c_custkey", plan)) <= 1


def test_q21_semi_anti_double_correlation_plan_shape(spark):
    """Q21's EXISTS + NOT EXISTS on the same key: BOTH probes plan as
    equi hash joins (LeftSemi then LeftAnti) with the suppkey inequality
    as a residual — never a nested-loop/cartesian."""
    from ringo_spark.operators.tpch import q21_suppliers_kept_waiting_df

    plan = plan_of(spark, q21_suppliers_kept_waiting_df(spark, SF), "simple")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q22_scalar_avg_anti_join_plan_shape(spark):
    """Q22's scalar-AVG threshold broadcasts as a 1-row join (not a
    per-row subquery), the NOT EXISTS is a LeftAnti with the date filter
    pushed to the orders scan."""
    from ringo_spark.operators.tpch import q22_global_sales_opportunity_df

    plan = plan_of(spark, q22_global_sales_opportunity_df(spark, SF))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # orders-side pushdown: the cutoff reaches PushedFilters
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q15_max_revenue_plan_shape(spark):
    """Q15's correlated-max decorrelation: the 1-row max broadcasts into
    an equality join against the revenue agg; supplier lookup broadcasts;
    no re-aggregation of lineitem."""
    from ringo_spark.operators.tpch import q15_top_supplier_df

    plan = plan_of(spark, q15_top_supplier_df(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_q17_correlated_avg_decorrelation_plan_shape(spark):
    """Q17's per-key scalar-AVG subquery: lineitem is planned twice (one
    agg side, one probe side) joined on partkey — a hash/SMJ equi join,
    never a per-row subquery or cartesian."""
    from ringo_spark.operators.tpch import q17_small_quantity_revenue_df

    plan = plan_of(spark, q17_small_quantity_revenue_df(spark, SF), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "HashAggregate" in plan


def test_q19_disjunctive_brackets_stay_hash_join(spark):
    """Q19's OR-of-ANDs: the common partkey equality must be extracted
    into the join key with the brackets as a residual — a naive plan
    degenerates to a nested loop over lineitem x part."""
    from ringo_spark.operators.tpch import q19_discounted_revenue_df

    plan = plan_of(spark, q19_discounted_revenue_df(spark, SF), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_q14_conditional_agg_pushdown(spark):
    """Q14: the ship-month window reaches the lineitem scan; the part
    lookup joins broadcast at this SF."""
    from ringo_spark.operators.tpch import q14_promo_effect_df

    plan = plan_of(spark, q14_promo_effect_df(spark, SF))
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "CartesianProduct" not in plan


def test_size_cache_catches_same_mtime_rewrite(spark, tmp_path):
    """r07 ADVICE lineage: mtime alone misses an in-place rewrite within
    the filesystem's mtime granularity.  Since r10 the gate re-measures
    the recursive content-summary length on every call (TTL=0 default),
    so no mtime/token heuristic exists to fool — simulate the worst
    case anyway (every mtime frozen across the rewrite) and assert the
    size moves."""
    import os

    from ringo_spark.functions import broadcast_gate as bg

    p = str(tmp_path / "coarse.parquet")
    spark.range(100).coalesce(1).write.parquet(p)
    s1 = bg.table_size_bytes(spark, p)
    frozen = os.stat(p).st_mtime
    spark.range(300_000).coalesce(1).write.mode("overwrite").parquet(p)
    for name in os.listdir(p):
        os.utime(os.path.join(p, name), (frozen, frozen))
    os.utime(p, (frozen, frozen))
    s2 = bg.table_size_bytes(spark, p)
    assert s2 != s1, "rewrite under identical mtimes served a stale size"
    # explicit invalidation hook for engine paths that rewrite in place
    bg.invalidate_size_cache(p)
    assert p not in bg._SIZE_CACHE


def test_size_ttl_amortizes_measurement(spark, tmp_path, monkeypatch):
    """r09 ADVICE: with the recursive summary AS the measurement, the
    cache only earns its keep with a TTL.  Under ringo.sizeTtlSeconds
    the second call within the window does NO filesystem round-trip;
    invalidate_size_cache punches through the window; TTL unset (the
    default) re-measures every call."""
    from ringo_spark.functions import broadcast_gate as bg

    p = str(tmp_path / "ttl.parquet")
    spark.range(1000).write.parquet(p)
    calls = {"n": 0}
    real = bg._measure_size

    def counting(spark_, path_):
        calls["n"] += 1
        return real(spark_, path_)

    monkeypatch.setattr(bg, "_measure_size", counting)
    bg.invalidate_size_cache()

    spark.conf.set(bg.SIZE_TTL_CONF_KEY, "3600")
    try:
        s1 = bg.table_size_bytes(spark, p)
        s2 = bg.table_size_bytes(spark, p)
        assert s1 == s2 and calls["n"] == 1          # second call: cache hit
        bg.invalidate_size_cache(p)
        bg.table_size_bytes(spark, p)
        assert calls["n"] == 2                       # invalidation re-measures
    finally:
        spark.conf.unset(bg.SIZE_TTL_CONF_KEY)
    bg.table_size_bytes(spark, p)
    bg.table_size_bytes(spark, p)
    assert calls["n"] == 4                           # TTL off: every call


def test_size_cache_catches_partition_subdir_rewrite(spark, tmp_path):
    """r08 ADVICE lineage: the one-level listStatus digest missed
    rewrites INSIDE partition subdirectories.  The recursive
    content-summary measurement (now re-run per call at TTL=0) must see
    them: rewrite one partition's files under frozen mtimes at every
    level and assert the size is re-measured."""
    import os

    from pyspark.sql import functions as F

    from ringo_spark.functions import broadcast_gate as bg

    p = str(tmp_path / "parted.parquet")
    spark.range(100).withColumn("k", F.col("id") % 2) \
        .write.partitionBy("k").parquet(p)
    s1 = bg.table_size_bytes(spark, p)
    # freeze every mtime in the tree, then blow up ONE partition subdir
    frozen = os.stat(p).st_mtime
    sub = os.path.join(p, "k=0")
    spark.range(300_000).coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(str(tmp_path), "big"))
    bigfile = next(f for f in os.listdir(os.path.join(str(tmp_path), "big"))
                   if f.endswith(".parquet"))
    import shutil
    shutil.copy(os.path.join(str(tmp_path), "big", bigfile),
                os.path.join(sub, "part-extra.parquet"))
    for root, dirs, files in os.walk(p):
        for n in dirs + files:
            os.utime(os.path.join(root, n), (frozen, frozen))
    os.utime(p, (frozen, frozen))
    s2 = bg.table_size_bytes(spark, p)
    assert s2 > s1, ("partition-subdir rewrite under frozen mtimes "
                     "served a stale size")


def test_q8_market_share_plan_shape(spark):
    """Q8's 8-table join tree (VERDICT r07 item 1): every dim side —
    part, supplier, customer, nation (both roles), region — joins as a
    broadcast hash join at this SF, lineitem is never sort-merged, the
    selective p_type filter reaches the part scan as a pushed predicate,
    and the order-date window reaches the orders scan."""
    from ringo_spark.operators.tpch import q8_national_market_share_df

    plan = plan_of(spark, q8_national_market_share_df(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("BroadcastHashJoin") >= 5
    assert "EqualTo(p_type,ECONOMY)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q12_lateness_residual_plan_shape(spark):
    """Q12's defining predicate compares timestamps from BOTH join
    sides, so it can only be a residual on the equi join — assert the
    join stays an equi hash/SMJ join (no cartesian), the single-table
    year window IS pushed to the lineitem scan, and nothing falls back
    to Python."""
    from ringo_spark.operators.tpch import q12_late_shipments_df

    plan = plan_of(spark, q12_late_shipments_df(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    # the cross-table lag comparison survives as a join-time filter
    assert "unix_timestamp" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_r08_event_analytics_plan_shapes(spark):
    """The three r08 event analytics stay JVM-side and equi-joined:
    retention's only corpus shuffle is the (user, week) distinct, the
    funnel chain never goes nested-loop, and the z-score join carries no
    Python evaluator anywhere."""
    from ringo_spark.operators.relational import anomaly_zscore_df
    from ringo_spark.operators.session import (
        active_users_rolling_df, event_funnel_df, retention_cohorts_df,
    )

    for builder in (retention_cohorts_df, event_funnel_df,
                    anomaly_zscore_df, active_users_rolling_df):
        plan = plan_of(spark, builder(spark, SF), "simple")
        assert "BatchEvalPython" not in plan, builder.__name__
        assert "ArrowEvalPython" not in plan, builder.__name__
        assert "CartesianProduct" not in plan, builder.__name__
        # the funnel's conversion denominator is a DELIBERATE broadcast
        # cross join against the 1-row step-1 count (3 x 1 rows); any
        # other nested loop would be a real planning failure
        allowed_bnlj = 1 if builder is event_funnel_df else 0
        assert plan.count("BroadcastNestedLoop") <= allowed_bnlj, \
            builder.__name__


def test_r10_partsupp_mapped_decorrelation_plan_shapes(spark):
    """The five partsupp-mapped TPC-H shapes (r09 VERDICT item 3) keep
    their decorrelated plans: every scalar/membership subquery is a
    groupBy + join-back (semi/anti/equi), never a per-key re-scan or a
    nested loop; selective dim predicates reach the parquet scans; the
    single-row q11 total is the only allowed broadcast nested loop."""
    from ringo_spark.operators.tpch import (
        q2_min_cost_region_df, q9_product_profit_df, q11_important_stock_df,
        q16_supplier_part_counts_df, q20_surplus_suppliers_df,
    )

    for builder, allowed_bnlj, pushed in (
            (q2_min_cost_region_df, 0, "EqualTo(p_type,STANDARD)"),
            (q9_product_profit_df, 0, "StringContains(p_name,widget)"),
            # the grand-total scalar joins back as a 1-row broadcast
            (q11_important_stock_df, 1, "EqualTo(n_name,NATION_3)"),
            (q16_supplier_part_counts_df, 0, "LessThan(s_acctbal,0.0)"),
            (q20_surplus_suppliers_df, 0, "StringStartsWith(p_name,small)"),
    ):
        plan = plan_of(spark, builder(spark, SF))
        simple = plan_of(spark, builder(spark, SF), "simple")
        name = builder.__name__
        assert "CartesianProduct" not in plan, name
        assert simple.count("BroadcastNestedLoopJoin") <= allowed_bnlj, name
        assert pushed in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name

    # the NOT-IN exclusion decorrelates to an anti join, the nested INs
    # to semi joins
    assert "LeftAnti" in plan_of(spark, q16_supplier_part_counts_df(spark, SF))
    assert "LeftSemi" in plan_of(spark, q20_surplus_suppliers_df(spark, SF))


def test_doc_dedup_spans_plan_shape(spark):
    """Span removal must stay hash-shuffled and JVM-side: the only
    corpus-sized Exchange keys on the 16-byte chunk hash (canonical-min
    groupBy), the removal-list join back to docs is not a sort-merge of
    the token payload, and no Python ever enters the plan.  Same
    contract for the ingestion twin."""
    from ringo_spark.operators import dedup as D

    for fn in (D.doc_dedup_spans_df, D.doc_dedup_spans_incremental_df):
        plan = plan_of(spark, fn(spark, SF))
        assert "hashpartitioning(h#" in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        # the token-array frame joins via broadcast of the (small)
        # removal lists — never a corpus sort-merge on doc_id
        assert "SortMergeJoin" not in plan


def _filters_under_round_robin(df) -> list[str]:
    """The condition of every Filter below a round-robin exchange (the
    widening ``spread_source`` adds) in ``df``'s physical plan."""
    from tests.fixtures import _plan_nodes

    out = []
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        if node.getClass().getSimpleName() == "ShuffleExchangeExec" and \
                "RoundRobinPartitioning" in \
                node.outputPartitioning().toString():
            out += [n.condition().toString() for n in _plan_nodes(node)
                    if n.getClass().getSimpleName() == "FilterExec"]
    return out


def test_shingling_stays_above_the_widening_exchange(spark):
    """The shingle arrays are computed above the round-robin exchange
    that widens the documents scan: no filter below it evaluates the
    shingle expression (``transform(sequence(…``).  An inner explode of
    ``sh`` makes the optimizer infer ``size(sh) > 0`` and push it there,
    which shingles the whole corpus in the scan's task; training_prep's
    contamination ratio did the same through an inferred
    ``isnotnull(size(sh))``."""
    from ringo_spark.operators import dedup as D
    from ringo_spark.operators.pipeline import training_prep_df

    for fn in (D.dedup_containment_df, D.dedup_lsh_recall_bounds_df,
               training_prep_df):
        conds = _filters_under_round_robin(fn(spark, SF))
        assert conds, fn.__name__      # the widened scan is in the plan
        assert not [c for c in conds if "transform(sequence(" in c], \
            fn.__name__


def test_r13_operators_plan_shapes(spark):
    """The r13 additions keep their scale contracts visible in the
    plan: weighted sampling is a TakeOrderedAndProject (per-partition
    k-heaps, no full sort of the corpus), the percentile gate shuffles
    once on the source key, and the z-order stats are codegen'd bit
    math with a map-side partial aggregate — no Python anywhere."""
    from ringo_spark.operators.layout import zorder_layout_df
    from ringo_spark.operators.sampling import sample_weighted_df
    from ringo_spark.operators.text import quality_source_percentile_df

    sw = plan_of(spark, sample_weighted_df(spark, SF))
    assert "TakeOrderedAndProject" in sw
    # the only Sort orders the k selected rows, never the corpus: it
    # must sit ABOVE the TakeOrderedAndProject in the tree (appear
    # before it in the printed plan)
    assert sw.index("Sort") < sw.index("TakeOrderedAndProject")

    qp = plan_of(spark, quality_source_percentile_df(spark, SF), "simple")
    assert qp.count("Exchange") == 1
    assert "hashpartitioning(source" in qp

    zo = plan_of(spark, zorder_layout_df(spark, SF), "simple")
    # exactly one hash shuffle (the 256-group stats rollup); the only
    # other exchange is the rangepartitioning of those 256 result rows
    assert zo.count("hashpartitioning") == 1
    assert zo.count("Exchange") == 2
    before_exchange = zo.split("Exchange")[-1]
    assert "HashAggregate" in before_exchange  # map-side partial

    from ringo_spark.operators.sampling import sample_weighted_stratified_df
    from ringo_spark.operators.text import bpe_pair_counts_df

    # per-stratum weighted draw: the rank bound must push MAP-side
    # (WindowGroupLimit), so only ~k rows per source survive each
    # partial sort — never a full per-source sort of the corpus
    st = plan_of(spark, sample_weighted_stratified_df(spark, SF))
    assert "WindowGroupLimit" in st
    assert "hashpartitioning(source" in st

    # BPE pair counting: final ranking is a top-k merge, and both
    # aggregates combine map-side (partial before each exchange)
    bp = plan_of(spark, bpe_pair_counts_df(spark, SF))
    assert "TakeOrderedAndProject" in bp
    simple_bp = plan_of(spark, bpe_pair_counts_df(spark, SF), "simple")
    for seg in simple_bp.split("Exchange")[1:]:
        assert "HashAggregate" in seg

    for plan in (sw, qp, zo, st, bp):
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_r14_operators_plan_shapes(spark):
    """r14 scale contracts in the plan: BPE tokenization joins the
    corpus against the BROADCAST vocab map (map-only tokenization —
    never a corpus-side shuffle on the word key), and the PQ search's
    refine stage broadcasts the fixed-size shortlist against the
    embeddings scan."""
    from ringo_spark.operators.similarity import ann_ivf_pq_df
    from ringo_spark.operators.text import bpe_apply_df

    ap = plan_of(spark, bpe_apply_df(spark, SF), "simple")
    assert "BroadcastHashJoin" in ap
    assert "SortMergeJoin" not in ap

    pq = plan_of(spark, ann_ivf_pq_df(spark, SF), "simple")
    assert "BroadcastHashJoin" in pq
    assert "SortMergeJoin" not in pq
    assert "BatchEvalPython" not in pq and "ArrowEvalPython" not in pq


def test_salted_tenant_rollup_is_two_combining_exchanges(spark):
    """VERDICT r14 item 5: the salted hot-tenant rollup must plan as
    EXACTLY two exchanges — (tenant, salt) then tenant — each fed by a
    map-side-combining partial HashAggregate, so the hot key's volume
    spreads over the salt buckets in phase 1 and only bucket-sized
    partials ride the phase-2 shuffle.  No Python, no extra pass."""
    from ringo_spark.operators.rollup_grain import (
        tenant_rollup_skew_salted_df,
    )

    df = tenant_rollup_skew_salted_df(spark, SF)
    simple = plan_of(spark, df, "simple")
    agg_exchanges = simple.count("Exchange hashpartitioning")
    assert agg_exchanges == 2, simple
    # every hashpartitioning exchange is preceded by a partial
    # aggregate (map-side combine) — split on the exchange markers and
    # require a partial_ function in each upstream segment
    segs = simple.split("Exchange hashpartitioning")
    assert all("partial_" in seg for seg in segs[1:]), simple
    assert "BatchEvalPython" not in simple
    assert "ArrowEvalPython" not in simple


def test_salted_join_spreads_hot_key(spark):
    """VERDICT r15 item 4: the salted hot-key join must plan as a
    ShuffledHashJoin whose key is (tenant, __salt) on BOTH sides — the
    hot tenant's rows spread over the salt buckets instead of landing
    on one reducer — with the medium side replicated by a dim-sized
    explode, map-side partial aggregation after the join, and no
    broadcast (the shape is for the medium-exceeds-broadcast-gate
    regime; the explicit hint pins it at test scale)."""
    from ringo_spark.operators.rollup_grain import (
        events_skew_salted_join_df,
    )

    simple = plan_of(spark, events_skew_salted_join_df(spark, SF), "simple")
    assert "ShuffledHashJoin" in simple, simple
    assert "BroadcastHashJoin" not in simple, simple
    assert "SortMergeJoin" not in simple, simple
    # the join key must carry the salt on both sides: the join row reads
    # ShuffledHashJoin [tenant#a, __salt#b], [tenant#c, __salt#d]
    join_line = next(l for l in simple.splitlines() if "ShuffledHashJoin" in l)
    assert join_line.count("__salt") == 2, join_line
    # medium side replicated by explode (8 rows per dim row, dim-sized)
    assert "Generate explode" in simple, simple
    # post-join rollup still map-side combines before its exchange
    assert "partial_count" in simple and "partial_sum" in simple, simple
    assert "BatchEvalPython" not in simple
    assert "ArrowEvalPython" not in simple


def test_hoisted_norms_stay_out_of_scoring_lambdas(spark):
    """r19 batch 8: the argmax/pair-scoring norms are hoisted to their
    own per-row projections, and the win evaporates if CollapseProject
    (or a future optimizer change) inlines the non-cheap sqrt(dot())
    back into the per-centroid transform lambda — it would then
    re-evaluate once per array ELEMENT despite a single syntactic
    reference.  Pin the optimized plans: no SQRT inside any lambda
    body, and the hoisted denominator (__qn * __nn) survives in the
    pair lane.

    Lambda bodies are extracted with BALANCED-paren matching (ADVICE
    r19): the greedy ``lambdafunction\\((.*)\\)`` regex swallowed the
    rest of the printed Project line, so a legitimate hoisted SQRT
    projected AFTER a lambda on the same line false-failed the pin.
    Coverage extended to an LSH lane and a seeded-IVF lane (ADVICE
    r19), and to every cell-assignment site (_with_cell and the
    _label_cells / _pq_assign_cells callers).  The PQ serve path is
    deliberately NOT pinned SQRT-free: its refine lane scores Q x R
    metadata-scale rows with the in-line cosine (left un-hoisted by
    design, r19 batch 8)."""
    import re

    from ringo_spark.operators.similarity import (
        _cent_df, _label_cells, _pq_assign_cells, _with_cell, ann_ivf_df,
        ann_lsh_bucketed_df,
    )

    def lambda_bodies(plan: str) -> list[str]:
        bodies = []
        for m in re.finditer(r"lambdafunction\(", plan):
            depth, i = 1, m.end()
            while i < len(plan) and depth:
                if plan[i] == "(":
                    depth += 1
                elif plan[i] == ")":
                    depth -= 1
                i += 1
            bodies.append(plan[m.end():i - 1])
        return bodies

    # ann_cosine_topk left this pin in r20: its pair scoring moved to
    # the bit-exact Arrow kernel (no JVM scoring lambdas remain; plan
    # shape pinned in tests/test_arrow_parity.py instead)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cent = _cent_df(spark, [(i, [float(j) for j in range(8)])
                            for i in range(4)])
    for df in (_with_cell(emb, cent), _label_cells(emb, cent),
               _pq_assign_cells(emb, cent),
               ann_lsh_bucketed_df(spark, SF),
               ann_ivf_df(spark, SF)):
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        bodies = lambda_bodies(opt)
        assert bodies, "expected scoring lambdas in the optimized plan"
        for body in bodies:
            assert "SQRT" not in body, (
                "a norm fold was inlined into a scoring lambda — "
                "re-evaluated per element, the pre-batch-8 cost")
    opt = (ann_lsh_bucketed_df(spark, SF)
           ._jdf.queryExecution().optimizedPlan().toString())
    assert re.search(r"__qn#\d+ \* __nn#\d+", opt), (
        "pair scoring lost the hoisted-norm denominator")
