"""Regenerate PLANS.md: the physical plans of the headline queries, with
the scale-relevant property called out per plan.  Run after any operator
change: ``python tools/dump_plans.py`` (writes PLANS.md at the repo root).

The point: "would this survive 100x?" is answered by the plan — pushed
filters, broadcast joins, partial aggregation before exchange, partition
pruning, absence of Python evaluators.  test_plans.py pins these
properties as assertions; this file makes them inspectable.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"
PLAN_PARALLELISM = 32

# (query name, what to look for in the plan)
SELECTION = [
    ("fact_events_by_minute",
     "time predicate in PushedFilters (through the nanos shadow column), "
     "ReadSchema pruned to used columns, BroadcastHashJoin for the dim "
     "lookup, partial_* aggregation before the single Exchange"),
    ("fact_lineitem_by_day",
     "parent-fact join: the only fact-sized shuffle; dims broadcast; "
     "exact count-distinct is the two-expand plan (persisted tables use "
     "the one-pass HLL sketch instead)"),
    ("dedup_minhash_lsh",
     "band rows carry (doc_id, band_key) only — the shingle arrays never "
     "enter the self-join Exchange; verification joins are broadcast "
     "under AQE"),
    ("ann_ivf_indexed",
     "PartitionFilters: dynamicpruningexpression(cell IN dynamicpruning) "
     "— the index scan joins the broadcast probe list on its raw cell "
     "partition column, so dynamic partition pruning reads only the "
     "probed cell directories of the persisted index at run time; no "
     "probed-cell list is collected while the frame is built"),
    ("corpus_curation",
     "the composed pipeline stays ONE fused plan: quality/lang filters "
     "in the scan stage, one dedup shuffle, map-side split"),
    ("seq_pack",
     "window partitioned by shard (hashpartitioning(shard)), never a "
     "SinglePartition global sort"),
    ("text_scrub",
     "map-only: no Exchange anywhere; regex work pipelined in the scan "
     "stage inside WholeStageCodegen"),
    ("asof_join",
     "per-key ordered matching without a range crossJoin"),
    ("dedup_winnowing",
     "the fingerprint sets cross one hashpartitioning(doc_id) exchange "
     "that both consumers read (banded-MinHash candidates and the "
     "exact verification); only (doc_id, band_key) rows enter the band "
     "self-join Exchange"),
    ("scd2_dim",
     "both windows share one hashpartitioning(o_custkey) exchange — "
     "change detection and interval close are within-partition"),
    ("quality_source_gate_gk",
     "the GK production gate's contract row: per-source sketch "
     "aggregate (map-side mergeable) + broadcast threshold join — the "
     "corpus never sorts; one hashpartitioning(source) exchange feeds "
     "both the gate counts and the bracket aggregate"),
    ("scd2_fact_incremental",
     "point-in-time join is an equi-join on the customer key with the "
     "interval predicate as a residual filter (no range crossJoin); both "
     "incremental batches pre-aggregate partials before the tiny union"),
    ("multimodal_frames",
     "two map-only MapInPandas stages, no Exchange: frame sampling "
     "decodes only every Nth frame, payloads never shuffle"),
    ("q3_shipping_priority",
     "multi-join shape: customer broadcast only while under the size "
     "gate (scale regime degrades to a shuffle join, plan-tested), one "
     "aggregation shuffle, top-k is TakeOrderedAndProject (never a "
     "global sort)"),
    ("dedup_minhash_lsh_capped",
     "scale-hardened LSH: identical texts collapse to one representative "
     "before banding (only (md5, doc_id) pairs shuffle for the collapse) "
     "and the band-bucket cap's window count rides the SAME "
     "hashpartitioning(band_key) exchange the self-join needs — the cap "
     "costs no extra shuffle, and candidate volume is bounded at "
     "C(cap,2) per bucket"),
    ("training_prep",
     "the full pretraining pass as one composition: language/quality "
     "filters at the scan, the benchmark shingle set broadcast into the "
     "contamination explode, corpus-keyed shuffles carrying only "
     "(doc_id, counts) / the md5 dedup key — chunk rows explode "
     "map-side and aggregate without ever moving text"),
    ("q13_customer_distribution",
     "left outer join + count over empty groups: the priority filter "
     "lives in the join condition so it still reaches the orders scan "
     "as a pushed predicate while zero-order customers keep their row; "
     "the custkey agg rides the join partitioning"),
    ("q21_suppliers_kept_waiting",
     "EXISTS + NOT EXISTS double correlation: both probes plan as equi "
     "hash joins (LeftSemi then LeftAnti) on orderkey with the suppkey "
     "inequality as a residual — never a nested loop"),
    ("q17_small_quantity_revenue",
     "per-key correlated scalar-avg: lineitem planned twice (agg side + "
     "probe side) joined on partkey; the threshold compares "
     "qty*cnt*5 < sum in exact decimals, no order-dependent double avg"),
    ("quantiles_approx_bounds",
     "mergeable GK quantile sketch: approx_percentile partial-aggregates "
     "map-side in the same HashAggregate as the exact percentile and "
     "the order-statistics bracket; one exchange on event_type"),
    ("sample_cluster_split_indexed",
     "split served from the persisted cluster table: one broadcast "
     "(size-gated) join on doc_id + a map-side hash projection — label "
     "propagation amortized to build time"),
    ("timeseries_gapfill",
     "per-series densify: sequence explode bounded by each series' own "
     "span (never a global calendar cross join); the grid join and the "
     "carry-forward window share the series-key partitioning"),
    ("value_histogram",
     "width_bucket shape: 1-row min/max broadcast + map-side "
     "exact-decimal edge comparisons (no quotient), one (type,bin) agg"),
    ("tenant_rollup_skew_salted",
     "salted hot-tenant rollup (r15): exactly two exchanges — "
     "(tenant, salt16) then tenant — each fed by a partial "
     "HashAggregate, so the hot key spreads over 16 reducers and only "
     "bucket-sized mergeable partials ride the second shuffle"),
    ("events_skew_salted_join",
     "salted hot-key join (r16): ShuffledHashJoin keyed (tenant, "
     "salt8) on BOTH sides — the hot tenant's rows spread over 8 "
     "reducers instead of one straggler — with the medium dim "
     "replicated by a dim-sized explode and the post-join rollup "
     "map-side combining before its exchange; the shuffle_hash hint "
     "pins the medium-exceeds-broadcast-gate shape at test scale"),
    # ann_index_staleness is EAGER (builds its dedicated index at
    # construction) so it cannot appear in a plan-only dump; its
    # Python-free report plan is pinned in
    # tests/test_operators.py::test_ivf_staleness_flags_drift_and_skew
    ("q8_national_market_share",
     "the largest TPC-H join tree (8 tables, nation twice): every dim "
     "side a BroadcastHashJoin, the selective p_type filter pushed to "
     "the part scan and riding the broadcast into lineitem, no "
     "SortMergeJoin anywhere"),
    ("q12_late_shipments",
     "the cross-table timestamp comparison survives only as a residual "
     "on the orderkey equi-join; the single-table year window IS pushed "
     "to the lineitem scan"),
    ("retention_cohorts",
     "distinct (user, week) is the only corpus-sized shuffle; the "
     "per-user min cohort rides the same user partitioning; the "
     "cohort-size self-join is against a tiny aggregate"),
    # round-10 additions
    ("q2_min_cost_region",
     "correlated scalar-min decorrelated: ONE pair-key groupBy over "
     "lineitem (part filter semi-joined BEFORE it), min-cost groupBy + "
     "equi join-back, every dim side broadcast, top-100 as "
     "TakeOrderedAndProject"),
    ("q11_important_stock",
     "group-share-of-total HAVING: the grand total re-aggregates GROUP "
     "rows (parts-sized) and joins back as the one allowed 1-row "
     "broadcast nested loop; value*1000 > total in exact decimal"),
    ("q20_surplus_suppliers",
     "doubly-nested IN decorrelated to two LeftSemi joins; the "
     "correlated half-sum threshold is one conditional year split "
     "inside the single pair-key groupBy; part-name filter pushed to "
     "the part scan"),
    ("doc_dup_chunk_fraction",
     "cross-doc copy-fraction gate: bounded map-side chunk explode "
     "(16-byte hashes), ONE corpus-sized shuffle on the chunk hash, "
     "per-doc rollup joins chunk rows back unhinted (AQE broadcasts "
     "small, shuffles big) — never quadratic"),
    # round-12 additions
    ("doc_dedup_spans",
     "duplicate-span removal: chunk rows (doc_id, i, 16-byte hash) "
     "shuffle once on the hash for the canonical least-(doc_id, i) "
     "owner; only DUPLICATED occurrences reach the per-doc removal "
     "lists, which join back on doc_id; the cleaned token stream is "
     "rebuilt by map-side higher-order expressions — the token payload "
     "never shuffles"),
    ("doc_dedup_spans_incremental",
     "ingestion twin: the corpus side is its DISTINCT chunk-hash index "
     "only (persisted at scale; appended per batch), the batch side is "
     "batch-sized end to end — owner min, index probe, removal lists, "
     "map-side reconstruction; ingestion never re-chunks the corpus"),
    ("sample_weighted",
     "weighted WOR sampling: the A-ES exponential key is a map-side "
     "expression; selection is TakeOrderedAndProject — per-partition "
     "k-heaps merged on the driver (O(k) memory everywhere, no full "
     "sort, no shuffle); the rank Window sits ABOVE the top-k, so it "
     "orders 100 rows, never the corpus"),
    ("sample_weighted_stratified",
     "per-source weighted draw: one hashpartitioning(source) exchange "
     "with WindowGroupLimit pushing the rank bound MAP-side — only ~k "
     "rows per source survive each partial sort"),
    ("quality_source_percentile",
     "per-source percent-rank gate: exactly one hashpartitioning("
     "source) exchange; quality scores are scan-stage expressions"),
    ("bpe_pair_counts",
     "BPE pair counting: pair explode runs over the DISTINCT vocab "
     "(post-aggregate), both aggregates partial+final (map-side "
     "combine), candidate ranking is TakeOrderedAndProject"),
    ("zorder_layout",
     "Morton layout stats: the interleave is codegen'd bit math in the "
     "scan stage; one hashpartitioning rollup over 256 range ids (the "
     "only other exchange range-partitions the 256 result rows)"),
]


def main():
    from ringo_spark.catalog import get_spark

    import __spark_entry__ as entrymod

    # a fixed width, not the machine's cores: spread_source widens scans
    # to defaultParallelism, so the dump would otherwise change with the
    # core count of whoever regenerates it (32 is the committed width)
    spark = get_spark("plan-dump", cpus=PLAN_PARALLELISM)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out = [
        "# PLANS — physical plans of the headline queries (sf0.001)",
        "",
        "Generated by `tools/dump_plans.py`; regenerate after operator",
        "changes.  Each section names the property that makes the plan",
        "scale (pinned as assertions in `tests/test_plans.py`).",
        "",
    ]
    from ringo_spark.operators.registry import EAGER_QUERIES

    for name, why in SELECTION:
        if name in EAGER_QUERIES:
            # constructing these RUNS the query (driver-side sketch
            # probes) — a plan dump must not trigger two corpus scans
            raise SystemExit(
                f"{name} is an eager builder (registry.EAGER_QUERIES); "
                f"it cannot appear in a plan-only dump")
        df = qs[name](spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        out += [f"## {name}", "", f"**Scale property:** {why}", "",
                "```", plan.rstrip(), "```", ""]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({sum(len(o) for o in out)} chars)")


if __name__ == "__main__":
    main()
