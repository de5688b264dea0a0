"""Empirical scaling probe for the two heaviest data-pipeline operators.

No sf1 testdata exists in this container, so the probe synthesizes
scaled corpora by replicating sf0.1 ``documents``/``embeddings`` k times
(k = 1, 2, 4, 8) with remapped ids.  Document text is salted per copy
with a copy-specific vowel permutation (``F.translate``) so every shingle
changes — cross-copy docs are NOT near-duplicates and the verified-pair
output scales linearly with k, preserving the workload's character (a
naive replication would make output pairs quadratic in k and measure the
wrong thing).  Embedding queries stay fixed (vec_id < 20 survives only in
copy 0), so the ANN probe measures corpus-scan scaling at constant query
load — the 100 TB shape.

Usage: python tools/scale_probe.py            # prints a markdown table
Scratch data lands under .scale_probe/ (inside the repo, cleaned first).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".scale_probe")
COPIES = [1, 2, 4, 8]
COPIES_DEEP = [8, 16, 32]    # `deep` mode: where bucket caps actually bite

# Per-copy salting: a FULL-ALPHABET seeded permutation per copy (copy 0
# is the identity; translate(text, SALTS[0], SALTS[c]) rewrites copy c).
# Why full-alphabet: the earlier lexicographic VOWEL permutations shared
# long prefixes (the first 6 of permutations('aeiou') all map a→a, e→e),
# so words whose vowels sat in the shared prefix were byte-identical
# across copies — cross-copy near-dup contamination, the exact artifact
# the salting exists to prevent (r08 review finding).  Two random
# 26-letter permutations agree on ~1 letter in expectation, so a shingle
# surviving identically across two copies needs EVERY letter in the
# agreeing set — vanishing probability; no pair of copies shares a
# prefix by construction of the shuffle.
import random                                               # noqa: E402

_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _salt(c: int) -> str:
    if c == 0:
        return _ALPHA
    letters = list(_ALPHA)
    random.Random(c).shuffle(letters)    # deterministic per copy
    return "".join(letters)


SALTS = [_salt(c) for c in range(max(COPIES_DEEP))]


def _replicate(parts):
    d = parts[0]
    for p in parts[1:]:
        d = d.unionByName(p)
    return d


def build(spark, k: int) -> str:
    out = os.path.join(SCRATCH, f"x{k}")
    if os.path.exists(os.path.join(out, "_OK")):
        return out
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    n_docs = docs.count()
    n_vecs = emb.count()
    d_parts, e_parts = [], []
    for c in range(k):
        d_parts.append(
            docs.select((F.col("doc_id") + c * n_docs).alias("doc_id"),
                        F.translate("text", SALTS[0], SALTS[c]).alias("text"),
                        *[col for col in docs.columns
                          if col not in ("doc_id", "text")]))
        e_parts.append(
            emb.select((F.col("vec_id") + c * n_vecs).alias("vec_id"),
                       *[col for col in emb.columns if col != "vec_id"]))
    _replicate(d_parts).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet"))
    _replicate(e_parts).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet"))

    # TPC-H star for the join-heavy probes: replicate facts with remapped
    # keys (copy c's orders/customers are a disjoint key range, so joins
    # stay 1:1 per copy and output scales linearly); dims copy once.
    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    cust = spark.read.parquet(f"{SRC}/customer.parquet")
    n_ord = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    n_cust = cust.agg(F.max("c_custkey")).collect()[0][0] + 1
    o_parts, l_parts, c_parts = [], [], []
    for c in range(k):
        o_parts.append(orders.select(
            (F.col("o_orderkey") + c * n_ord).alias("o_orderkey"),
            (F.col("o_custkey") + c * n_cust).alias("o_custkey"),
            *[col for col in orders.columns
              if col not in ("o_orderkey", "o_custkey")]))
        l_parts.append(li.select(
            (F.col("l_orderkey") + c * n_ord).alias("l_orderkey"),
            *[col for col in li.columns if col != "l_orderkey"]))
        c_parts.append(cust.select(
            (F.col("c_custkey") + c * n_cust).alias("c_custkey"),
            *[col for col in cust.columns if col != "c_custkey"]))
    _replicate(o_parts).write.mode("overwrite").parquet(
        os.path.join(out, "orders.parquet"))
    _replicate(l_parts).write.mode("overwrite").parquet(
        os.path.join(out, "lineitem.parquet"))
    _replicate(c_parts).write.mode("overwrite").parquet(
        os.path.join(out, "customer.parquet"))
    open(os.path.join(out, "_OK"), "w").close()
    return out


def _task_time_spread(spark, min_stage_id: int) -> list[tuple]:
    """Per-stage completed-task duration spread (max, median, n) for every
    stage started after ``min_stage_id`` — read from the live
    AppStatusStore (the same data the UI's task table shows)."""
    import statistics

    store = spark._jsparkSession.sparkContext().statusStore()
    gw = spark.sparkContext._gateway
    empty_d = gw.new_array(gw.jvm.double, 0)
    al = gw.jvm.java.util.ArrayList()
    out = []
    it = store.stageList(al, False, False, empty_d, al).iterator()
    while it.hasNext():
        s = it.next()
        if s.stageId() <= min_stage_id or s.numCompleteTasks() == 0:
            continue
        durs = []
        tit = store.taskList(s.stageId(), s.attemptId(), 100_000).iterator()
        while tit.hasNext():
            d = tit.next().duration()
            if d.isDefined():
                durs.append(d.get())
        if durs:
            out.append((s.stageId(), max(durs),
                        statistics.median(durs), len(durs)))
    return out


def _max_stage_id(spark) -> int:
    store = spark._jsparkSession.sparkContext().statusStore()
    gw = spark.sparkContext._gateway
    al = gw.jvm.java.util.ArrayList()
    empty_d = gw.new_array(gw.jvm.double, 0)
    mx = -1
    it = store.stageList(al, False, False, empty_d, al).iterator()
    while it.hasNext():
        mx = max(mx, it.next().stageId())
    return mx


def skew_scenario():
    """Hot-tenant probe through the ENGINE rollup path (VERDICT r05 #7):
    rewrite sf0.1 events so ONE tenant owns 50% of all rows, run the
    (tenant, hour) fact rollup, and report the per-task duration spread
    of every stage.  The claim under test (SCALE.md): the grain groupBy
    keys on (hour, tenant, event_type), so map-side partial aggregation
    collapses the hot tenant to #hours x #types groups per task and the
    reduce side hashes those GROUPS — a 50%-hot tenant must not produce
    a straggler reducer.  Bounded spread = max/median <= 3x on the agg
    stages."""
    from ringo_spark.catalog import get_spark
    from ringo_spark.operators.rollup_grain import (
        fact_events_tenant_by_hour_df,
    )

    spark = get_spark("skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    # 16x-replicated events (distinct event_ids), 32 input splits: sf0.1
    # is one 100k-row file, which would make every stage a single task
    # and hide any spread.  1.6M rows / 32 files gives each map task real
    # work while the hot tenant stays uniformly present in every split —
    # the layout a 100 TB corpus actually has.
    k = 16
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    n_ev = ev.count()
    hot = ev.agg(F.max("user_id")).collect()[0][0] + 1
    big = _replicate([
        ev.select((F.col("event_id") + c * n_ev).alias("event_id"),
                  *[col for col in ev.columns if col != "event_id"])
        for c in range(k)])
    skew_dir, bal_dir = (os.path.join(SCRATCH, d) for d in ("skew", "bal"))
    (big.repartition(32).write.mode("overwrite")
     .parquet(os.path.join(bal_dir, "events.parquet")))
    # every even event lands on one tenant -> exactly ~50% of rows
    (big.withColumn("user_id",
                    F.when(F.col("event_id") % 2 == 0, F.lit(hot))
                    .otherwise(F.col("user_id")))
     .repartition(32).write.mode("overwrite")
     .parquet(os.path.join(skew_dir, "events.parquet")))
    n = spark.read.parquet(os.path.join(skew_dir, "events.parquet")).count()
    n_hot = (spark.read.parquet(os.path.join(skew_dir, "events.parquet"))
             .where(F.col("user_id") == hot).count())
    print(f"corpus: {n} rows, hot tenant {hot} owns {n_hot} ({n_hot/n:.0%})")

    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    results = {}
    for label, d in (("balanced", bal_dir), ("hot-tenant-50pct", skew_dir)):
        fact_events_tenant_by_hour_df(spark, d).write \
            .format("noop").mode("overwrite").save()      # plan/JIT warmup
        s0 = _max_stage_id(spark)
        t0 = time.time()
        fact_events_tenant_by_hour_df(spark, d).write \
            .format("noop").mode("overwrite").save()
        wall = time.time() - t0
        spread = _task_time_spread(spark, s0)
        results[label] = (wall, spread)
        print(f"\n{label}: wall {wall:.2f}s")
        print("| stage | max task | median task | spread | tasks |")
        print("|---|---|---|---|---|")
        worst = 0.0
        for sid, mx, med, cnt in sorted(spread):
            r = mx / max(med, 1)
            # single-digit-ms stages are scheduler noise, not skew signal
            if mx >= 50:
                worst = max(worst, r)
            print(f"| {sid} | {mx}ms | {med:.0f}ms | {r:.1f}x | {cnt} |")
        print(f"worst spread (stages with max>=50ms): {worst:.1f}x")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    bal_wall, skew_wall = results["balanced"][0], results["hot-tenant-50pct"][0]
    print(f"\nwall-clock skew penalty: {skew_wall / bal_wall:.2f}x "
          f"({bal_wall:.2f}s -> {skew_wall:.2f}s)")


def saltagg_scenario():
    """Salted two-phase aggregation probe (r15, SCALE.md): WHERE the
    salt actually pays.  Map-side partial aggregation already absorbs a
    hot grouping key for sum/count/min/max (the skew lane's finding),
    but exact count_distinct cannot map-side-collapse — every distinct
    value of the hot key must reach ONE reducer, whose hash-set state
    and runtime scale with the hot key's share of the corpus.  The
    salted form from functions/skew.py groups phase 1 by
    (key, hash(distinct_col) % 16): each distinct value lands in
    exactly one salt bucket, so the per-bucket distinct counts SUM
    exactly, and the hot key's state spreads over 16 reducers.

    Corpus: 16x-replicated events (distinct event_ids) with one tenant
    owning ~50% of rows; count_distinct(event_id) per tenant — the hot
    tenant's reducer must hold ~800k distinct values in the plain
    plan.  Reported: equality, wall clocks, and per-stage task-time
    spread for both plans."""
    from ringo_spark.catalog import get_spark
    from ringo_spark.functions.skew import salted_aggregate

    spark = get_spark("saltagg-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    k = 16
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    n_ev = ev.count()
    hot = ev.agg(F.max("user_id")).collect()[0][0] + 1
    big = _replicate([
        ev.select((F.col("event_id") + c * n_ev).alias("event_id"),
                  *[col for col in ev.columns if col != "event_id"])
        for c in range(k)])
    skew_dir = os.path.join(SCRATCH, "skew")
    (big.withColumn("user_id",
                    F.when(F.col("event_id") % 2 == 0, F.lit(hot))
                    .otherwise(F.col("user_id")))
     .repartition(32).write.mode("overwrite")
     .parquet(os.path.join(skew_dir, "events.parquet")))
    df = (spark.read.parquet(os.path.join(skew_dir, "events.parquet"))
          .select(F.coalesce(F.col("user_id"), F.lit(-1)).alias("tenant"),
                  "event_id"))
    n = df.count()
    n_hot = df.where(F.col("tenant") == hot).count()
    print(f"corpus: {n} rows, hot tenant {hot} owns {n_hot} "
          f"({n_hot/n:.0%}) — all event_ids distinct")

    def plain():
        return df.groupBy("tenant").agg(
            F.count_distinct("event_id").alias("n_distinct"))

    def salted():
        return salted_aggregate(
            df, ["tenant"],
            {"n_distinct": F.count_distinct("event_id")},
            salt_col="event_id", buckets=16)

    a = {(r.tenant, r.n_distinct) for r in plain().collect()}
    b = {(r.tenant, r.n_distinct) for r in salted().collect()}
    assert a == b, "salted distinct must be EXACT (value-hash salt)"
    print(f"equality: {len(a)} tenants, hot distinct = "
          f"{dict(a)[hot]} — identical under both plans")

    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    for label, fn in (("plain count_distinct", plain),
                      ("salted 16-bucket", salted)):
        fn().write.format("noop").mode("overwrite").save()  # plan/JIT warm
        s0 = _max_stage_id(spark)
        t0 = time.time()
        fn().write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        print(f"\n{label}: wall {wall:.2f}s")
        print("| stage | max task | median task | spread | tasks |")
        print("|---|---|---|---|---|")
        for sid, mx, med, cnt in sorted(_task_time_spread(spark, s0)):
            if mx < 20:
                continue                     # scheduler noise
            print(f"| {sid} | {mx}ms | {med:.0f}ms | "
                  f"{mx / max(med, 1):.1f}x | {cnt} |")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def saltjoin_scenario():
    """Salted hot-key JOIN probe (r17, VERDICT r16 item 6): WHERE
    `salted_broadcast_left_join` pays, measured — the join twin of the
    saltagg lane.  Regime: a big skewed fact side (one tenant owning
    ~50% of rows) joined to a MEDIUM dim side that exceeds the
    broadcast gate (emulated here by disabling autoBroadcast + AQE's
    own skew splitter, exactly the conditions the registered
    `events_skew_salted_join` twin pins via medium_hint at test
    scale).  Plain shuffle join keys on tenant alone, so the hot
    tenant's entire row share lands on ONE join task (the straggler
    partition); the salted form keys BOTH sides on (tenant, salt) —
    the medium side exploded buckets ways — so the hot share spreads
    over `buckets` tasks.  Reported: row-identical outputs, walls, and
    per-stage max/median task spread; plus the AQE-ON reference wall
    (at real scale AQE splits sort-merge skew on its own — the manual
    salt's domain is hash joins, non-sort-merge shapes, and engines
    without runtime replan)."""
    from ringo_spark.catalog import get_spark
    from ringo_spark.functions.skew import salted_broadcast_left_join

    spark = get_spark("saltjoin-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    # k=64 (6.4M rows, hot task 3.2M) — at k=16 the ~60ms constant
    # per-task overhead still dominated the straggler's 32x row share
    # and the crossover was invisible (first probe run, kept in
    # SCALE.md's honest-findings note)
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    n_ev = ev.count()
    hot = ev.agg(F.max("user_id")).collect()[0][0] + 1
    big_parts = [
        ev.select((F.col("event_id") + c * n_ev).alias("event_id"),
                  *[col for col in ev.columns if col != "event_id"])
        for c in range(k)]
    skew_dir = os.path.join(SCRATCH, "skew")
    (_replicate(big_parts)
     .withColumn("user_id",
                 F.when(F.col("event_id") % 2 == 0, F.lit(hot))
                 .otherwise(F.col("user_id")))
     .repartition(32).write.mode("overwrite")
     .parquet(os.path.join(skew_dir, "events.parquet")))
    big = (spark.read.parquet(os.path.join(skew_dir, "events.parquet"))
           .select(F.coalesce(F.col("user_id"), F.lit(-1)).alias("tenant"),
                   "event_id", "event_type"))
    medium = (big.select("tenant").distinct()
              .select("tenant",
                      F.pmod(F.col("tenant"), F.lit(7)).alias("segment")))
    medium.write.mode("overwrite").parquet(os.path.join(skew_dir, "dim"))
    medium = spark.read.parquet(os.path.join(skew_dir, "dim"))
    n = big.count()
    n_hot = big.where(F.col("tenant") == hot).count()
    print(f"corpus: {n} rows, hot tenant {hot} owns {n_hot} "
          f"({n_hot/n:.0%}); medium dim {medium.count()} tenants")

    agg = lambda j: (j.groupBy("segment")                    # noqa: E731
                     .agg(F.count(F.lit(1)).alias("rows"),
                          F.count_distinct("tenant").alias("tenants")))

    def plain():
        return agg(big.join(medium.hint("shuffle_hash"), "tenant",
                            "left"))

    def salted():
        return agg(salted_broadcast_left_join(
            big, medium, ["tenant"], buckets=16,
            medium_hint="shuffle_hash"))

    # the at-scale regime: medium exceeds the broadcast gate (emulated
    # by disabling autoBroadcast — at probe scale the 1,501-row dim
    # would otherwise broadcast and make BOTH plans skew-free)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    a = {tuple(r) for r in plain().collect()}
    b = {tuple(r) for r in salted().collect()}
    assert a == b, "salted join must be row-identical to the plain join"
    print(f"equality: {len(a)} segments — identical under both plans")

    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    # Two regimes.  AQE ON (the engine default): since Spark 3.2 the
    # runtime skew splitter covers shuffled-hash joins too, so the hot
    # partition is split/coalesced on its own.  AQE OFF models the
    # regimes the manual salt exists for: streaming micro-batch plans
    # (no AQE), statically-planned stages, and engines without runtime
    # replan — there the plain join's hot (tenant) partition is a real
    # straggler and the salted (tenant, salt) key spreads it.
    results = {}
    for regime, aqe in (("AQE on", "true"), ("AQE off", "false")):
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        for label, fn in (("plain shuffle-hash join", plain),
                          ("salted 16-bucket join", salted)):
            fn().write.format("noop").mode("overwrite").save()  # JIT warm
            s0 = _max_stage_id(spark)
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            results[(regime, label)] = wall = time.time() - t0
            print(f"\n[{regime}] {label}: wall {wall:.2f}s")
            print("| stage | max task | median task | spread | tasks |")
            print("|---|---|---|---|---|")
            for sid, mx, med, cnt in sorted(_task_time_spread(spark, s0)):
                if mx < 20:
                    continue                 # scheduler noise
                print(f"| {sid} | {mx}ms | {med:.0f}ms | "
                      f"{mx / max(med, 1):.1f}x | {cnt} |")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    po, so = (results[("AQE off", "plain shuffle-hash join")],
              results[("AQE off", "salted 16-bucket join")])
    print(f"\ncrossover (AQE off): salted/plain wall = {so/po:.2f}x "
          f"(plain straggler vs salted spread); AQE-on reference: "
          f"plain {results[('AQE on', 'plain shuffle-hash join')]:.2f}s, "
          f"salted {results[('AQE on', 'salted 16-bucket join')]:.2f}s",
          flush=True)
    shutil.rmtree(SCRATCH, ignore_errors=True)


def skewjoin_scenario():
    """Hot-FK probe for the parent-fact join (SCALE.md §3 claim 3): half
    of all lineitem rows point at ONE order key, so the sort-merge join's
    partition for that key holds 50% of the join input.  With AQE
    skew-join ON (thresholds scaled down to engage at probe size — at
    100 TB the defaults engage on their own), the oversized partition is
    split into multiple tasks; with it OFF, one straggler task carries
    half the data.  The probe reports both regimes' task spread on the
    join stage."""
    from ringo_spark.catalog import get_spark
    from ringo_spark.testbed import fact_lineitem_by_day_df

    spark = get_spark("skewjoin-probe")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    d = os.path.join(SCRATCH, "skewfk")
    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    hot = li.agg(F.min("l_orderkey")).collect()[0][0]
    k, n_ord = 8, orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    big_o = _replicate([orders.select(
        (F.col("o_orderkey") + c * n_ord).alias("o_orderkey"),
        *[col for col in orders.columns if col != "o_orderkey"])
        for c in range(k)])
    big_l = _replicate([li.select(
        (F.col("l_orderkey") + c * n_ord).alias("l_orderkey"),
        *[col for col in li.columns if col != "l_orderkey"])
        for c in range(k)])
    # half of ALL lineitem rows -> one hot order key
    big_l = big_l.withColumn(
        "l_orderkey",
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(hot))
        .otherwise(F.col("l_orderkey")))
    big_o.repartition(32).write.mode("overwrite") \
        .parquet(os.path.join(d, "orders.parquet"))
    big_l.repartition(32).write.mode("overwrite") \
        .parquet(os.path.join(d, "lineitem.parquet"))
    n = spark.read.parquet(os.path.join(d, "lineitem.parquet")).count()
    n_hot = (spark.read.parquet(os.path.join(d, "lineitem.parquet"))
             .where(F.col("l_orderkey") == hot).count())
    print(f"lineitem: {n} rows, hot order {hot} owns {n_hot} ({n_hot/n:.0%})")

    conf = spark.conf
    saved = {key: conf.get(key) for key in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled")}
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    try:
        # force the SMJ (dims at probe size would broadcast) and scale the
        # skew thresholds to probe size: at 100 TB the 256MB default
        # engages by itself; here partitions are ~1MB
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                 "1MB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
        for label, skew_on in (("aqe-skew-join OFF", "false"),
                               ("aqe-skew-join ON", "true")):
            conf.set("spark.sql.adaptive.skewJoin.enabled", skew_on)
            fact_lineitem_by_day_df(spark, d).write \
                .format("noop").mode("overwrite").save()     # warmup run
            s0 = _max_stage_id(spark)
            t0 = time.time()
            fact_lineitem_by_day_df(spark, d).write \
                .format("noop").mode("overwrite").save()
            wall = time.time() - t0
            print(f"\n{label}: wall {wall:.2f}s")
            print("| stage | max task | median task | spread | tasks |")
            print("|---|---|---|---|---|")
            for sid, mx, med, cnt in sorted(_task_time_spread(spark, s0)):
                print(f"| {sid} | {mx}ms | {med:.0f}ms "
                      f"| {mx / max(med, 1):.1f}x | {cnt} |")
    finally:
        for key, v in saved.items():
            conf.set(key, v)
        conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def main():
    from ringo_spark.catalog import get_spark
    from ringo_spark.operators.dedup import (
        dedup_minhash_lsh_df, dedup_winnowing_df,
    )
    from ringo_spark.operators.relational import scd2_fact_incremental_df
    from ringo_spark.operators.similarity import ann_lsh_bucketed_df
    from ringo_spark.operators.text import text_quality_df
    from ringo_spark.operators.tpch import q3_shipping_priority_df
    from ringo_spark.operators.training import seq_pack_df

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # scratch from an interrupted earlier run may predate schema additions
    # (the _OK sentinel would wrongly skip rebuilding) — clean first
    shutil.rmtree(SCRATCH, ignore_errors=True)
    from ringo_spark.operators.dedup import dedup_minhash_lsh_capped_df

    ops = {"dedup_minhash_lsh": dedup_minhash_lsh_df,
           "dedup_minhash_lsh_capped": dedup_minhash_lsh_capped_df,
           "dedup_winnowing": dedup_winnowing_df,
           "ann_lsh_bucketed": ann_lsh_bucketed_df,
           "text_quality": text_quality_df,
           "seq_pack": seq_pack_df,
           "scd2_fact_incremental": scd2_fact_incremental_df,
           "q3_shipping_priority": q3_shipping_priority_df}
    # warmup
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    rows = {}
    for k in COPIES:
        sf_dir = build(spark, k)
        for name, fn in ops.items():
            best, out_rows = None, None
            for _ in range(2):
                t0 = time.time()
                df = fn(spark, sf_dir)
                out_rows = df.count()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            rows.setdefault(name, []).append((k, best, out_rows))
            print(f"x{k:<2d} {name:20s} {best:6.2f}s  out_rows={out_rows}",
                  flush=True)
    print("\n| operator | x1 | x2 | x4 | x8 | x8/x1 |")
    print("|---|---|---|---|---|---|")
    for name, rs in rows.items():
        t = {k: b for k, b, _ in rs}
        print(f"| {name} | {t[1]:.2f}s | {t[2]:.2f}s | {t[4]:.2f}s "
              f"| {t[8]:.2f}s | {t[8] / t[1]:.1f}x |")
    for name, rs in rows.items():
        print(f"{name} out_rows by scale: {[(k, n) for k, _, n in rs]}")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def deep_scenario():
    """k=8 -> 16 -> 32 probe (r07 VERDICT item 4) for the three
    operators whose scale claims depend on sub-linear candidate growth:
    the capped LSH (band-bucket cap bounds candidates per bucket), the
    contamination sweep (benchmark shingles broadcast, corpus never
    shuffles), and the cluster label propagation (edge-set shuffles,
    O(log diameter) rounds).  At 3.2M docs (x32) the band buckets are
    ~4x fuller than the x8 run the old table stopped at — if the cap or
    the broadcast were illusory, per-row cost would inflect here.
    Pass criterion: per-row cost growth (t_k/k) / (t_8/8) <= ~1.2."""
    from ringo_spark.catalog import get_spark
    from ringo_spark.operators.dedup import (
        dedup_clusters_df, dedup_minhash_lsh_capped_df,
    )
    from ringo_spark.operators.text import benchmark_contamination_df

    spark = get_spark("scale-probe-deep")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    ops = {"dedup_minhash_lsh_capped": dedup_minhash_lsh_capped_df,
           "benchmark_contamination": benchmark_contamination_df,
           "dedup_clusters": dedup_clusters_df}
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    rows = {}
    for k in COPIES_DEEP:
        sf_dir = build(spark, k)
        for name, fn in ops.items():
            best, out_rows = None, None
            for _ in range(2):
                t0 = time.time()
                out_rows = fn(spark, sf_dir).count()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            rows.setdefault(name, []).append((k, best, out_rows))
            print(f"x{k:<2d} {name:26s} {best:7.2f}s  out_rows={out_rows}",
                  flush=True)
    print("\n| operator | x8 | x16 | x32 | per-row x32/x8 |")
    print("|---|---|---|---|---|")
    for name, rs in rows.items():
        t = {k: b for k, b, _ in rs}
        ratio = (t[32] / 32) / (t[8] / 8)
        print(f"| {name} | {t[8]:.2f}s | {t[16]:.2f}s | {t[32]:.2f}s "
              f"| {ratio:.2f}x |")
    for name, rs in rows.items():
        print(f"{name} out_rows by scale: {[(k, n) for k, _, n in rs]}")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def _shuffle_write_bytes(spark, min_stage_id: int) -> int:
    """Total shuffle-write bytes across stages started after
    ``min_stage_id`` (live AppStatusStore, same data as the UI)."""
    store = spark._jsparkSession.sparkContext().statusStore()
    gw = spark.sparkContext._gateway
    al = gw.jvm.java.util.ArrayList()
    empty_d = gw.new_array(gw.jvm.double, 0)
    total = 0
    it = store.stageList(al, False, False, empty_d, al).iterator()
    while it.hasNext():
        s = it.next()
        if s.stageId() > min_stage_id:
            total += int(s.shuffleWriteBytes())
    return total


def dimids_scenario():
    """Surrogate-id gate probe (r11): a pathological HIGH-CARDINALITY
    dimension — events replicated 16x with user_id := event_id, so the
    deduped dim is ~1.6M near-unique rows — assigned ids by (a) the
    single-task global sort and (b) the gated partitioned path, with
    wall time and per-stage task spread for both.  The claim under
    test (SCALE.md §2): above the gate the partitioned form removes the
    one serializing task while producing identical ids."""
    from pyspark.sql import functions as F  # noqa: F811

    from ringo_spark.catalog import get_spark
    from ringo_spark.populate.dimension import DIM_ID_GATE_CONF_KEY
    from ringo_spark.testbed import (
        T_FAR, VISITOR_DIM_ENV, VISITOR_DIM_FACT,
    )
    from ringo_spark.populate.dimension import dimension_population_df

    spark = get_spark("scale-probe-dimids")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    k = 16
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    n_ev = ev.count()
    big = _replicate([
        ev.select((F.col("event_id") + c * n_ev).alias("event_id"),
                  *[col for col in ev.columns if col != "event_id"])
        for c in range(k)])
    d = os.path.join(SCRATCH, "dimids")
    (big.withColumn("user_id", F.col("event_id"))     # near-unique DimVal
     .repartition(32).write.mode("overwrite")
     .parquet(os.path.join(d, "events.parquet")))
    n_dim = (spark.read.parquet(os.path.join(d, "events.parquet"))
             .select("user_id").distinct().count())
    print(f"dim cardinality: {n_dim} rows")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup

    def run(label, gate):
        spark.conf.set(DIM_ID_GATE_CONF_KEY, gate)
        warm = dimension_population_df(       # warmup/plan run
            VISITOR_DIM_ENV, VISITOR_DIM_FACT, "dim_visitor",
            {"events": spark.read.parquet(os.path.join(d, "events.parquet"))},
            time_upper=T_FAR)
        # order-insensitive (key, id) checksum: a row-count compare
        # alone cannot catch the id-corruption class this path guards
        # against (wrong offsets keep the count unchanged)
        row = warm.agg(F.count(F.lit(1)).alias("c"),
                       # hash bounded BEFORE the multiply: the raw
                       # xxhash64 x id product overflows int64 (ANSI)
                       F.sum(F.pmod(F.xxhash64("user_id"), F.lit(100_003))
                             * F.col("id")).alias("k")).collect()[0]
        cnt, chk = row["c"], row["k"]
        s0 = _max_stage_id(spark)
        t0 = time.time()
        out = dimension_population_df(
            VISITOR_DIM_ENV, VISITOR_DIM_FACT, "dim_visitor",
            {"events": spark.read.parquet(os.path.join(d, "events.parquet"))},
            time_upper=T_FAR)
        out.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        spread = _task_time_spread(spark, s0)
        worst = max((mx for _, mx, _, _ in spread), default=0)
        print(f"{label}: wall {wall:.2f}s, rows {cnt}, "
              f"longest task {worst}ms")
        for sid, mx, med, cntt in sorted(spread):
            if mx >= 200:
                print(f"  stage {sid}: max {mx}ms med {med:.0f}ms "
                      f"({cntt} tasks)")
        return wall, cnt, chk

    w_single, c1, k1 = run("single-task sort (gate=huge)", str(1 << 60))
    w_part, c2, k2 = run("partitioned ids   (gate=0)", "0")
    spark.conf.unset(DIM_ID_GATE_CONF_KEY)
    assert c1 == c2 and k1 == k2, "id assignment diverged between paths"
    print(f"\nspeedup at {n_dim}-row dim: {w_single / w_part:.2f}x "
          f"({w_single:.2f}s -> {w_part:.2f}s)")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def contracts_scenario():
    """Scale probe for the r10 contract queries (VERDICT r10 item 6):
    ``dedup_lsh_recall_bounds`` and ``doc_dup_chunk_fraction`` on the
    salted replicated corpus at k = 1, 2, 4, 8.

    Claims under test (SCALE.md):
    - the recall contract's ground-truth side is AUDIT-RESTRICTED
      (audit postings join the corpus inverted index), so per-row cost
      stays flat as the corpus replicates — and because salted copies
      share no shingles with copy 0's audit docs, n_true/n_caught/
      recall must be IDENTICAL at every k (any drift = cross-copy
      contamination or a lost audit restriction);
    - the chunk-fraction gate's one corpus-sized shuffle carries chunk
      hashes (corpus tokens / W rows), so its shuffle-write bytes scale
      ~linearly with k and per-row cost stays flat.
    Pass criterion: per-row cost (t_k/k) / (t_1/1) <= ~1.3 and the
    recall row constant."""
    from ringo_spark.catalog import get_spark
    from ringo_spark.operators.dedup import (
        dedup_lsh_recall_bounds_df, doc_dup_chunk_fraction_df,
    )

    spark = get_spark("scale-probe-contracts")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    ops = {"dedup_lsh_recall_bounds": dedup_lsh_recall_bounds_df,
           "doc_dup_chunk_fraction": doc_dup_chunk_fraction_df}
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    rows, recall_rows = {}, {}
    for k in COPIES:
        sf_dir = build(spark, k)
        for name, fn in ops.items():
            best, out_rows, sh_bytes = None, None, None
            for _ in range(2):
                s0 = _max_stage_id(spark)
                t0 = time.time()
                df = fn(spark, sf_dir)
                out_rows = df.count()
                dt = time.time() - t0
                if best is None or dt < best:
                    best = dt
                    sh_bytes = _shuffle_write_bytes(spark, s0)
            if name == "dedup_lsh_recall_bounds":
                recall_rows[k] = fn(spark, sf_dir).collect()[0].asDict()
            rows.setdefault(name, []).append((k, best, out_rows, sh_bytes))
            print(f"x{k:<2d} {name:24s} {best:7.2f}s  out_rows={out_rows}"
                  f"  shuffleMB={sh_bytes / 1e6:.1f}", flush=True)
    print("\n| operator | x1 | x2 | x4 | x8 | per-row x8/x1 "
          "| shuffleMB x1->x8 |")
    print("|---|---|---|---|---|---|---|")
    for name, rs in rows.items():
        t = {k: b for k, b, _, _ in rs}
        sh = {k: s for k, _, _, s in rs}
        ratio = (t[8] / 8) / (t[1] / 1)
        print(f"| {name} | {t[1]:.2f}s | {t[2]:.2f}s | {t[4]:.2f}s "
              f"| {t[8]:.2f}s | {ratio:.2f}x "
              f"| {sh[1] / 1e6:.1f} -> {sh[8] / 1e6:.1f} |")
    for name, rs in rows.items():
        print(f"{name} out_rows by scale: {[(k, n) for k, _, n, _ in rs]}")
    consts = {k: (r["n_true"], r["n_caught"], r["recall"],
                  r["meets_floor"]) for k, r in recall_rows.items()}
    print(f"recall row by scale (must be constant): {consts}")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def ingest_scenario():
    """Ingestion-gate probe (r11): the two ingestion twins —
    ``doc_dup_chunk_fraction_incremental`` and
    ``dedup_embedding_incremental`` — on the salted replicated corpus at
    k = 1, 2, 4.  Claims under test: the CHUNK gate is linear — its
    index scan grows with k, per-row cost flat, output exactly
    k·5000−250 rows.  The EMBEDDING gate runs TWICE per k (r12): once
    pinned at bits=4 — with a constant bucket count the batch×corpus
    bucket join's candidate volume grows ~k² (and the testdata's low
    0.4 threshold admits chance cross-copy collisions on top of the
    k·true-pair signal) — and once through the r12 AUTO gate
    (bits=None: 2^bits ≈ N/bucket_target from the corpus row
    estimate), where the bucket count doubles as the corpus does and
    per-row candidates stay flat.  The fixed lane is the measured
    PROBLEM, the auto lane the measured FIX (VERDICT r11 item 1).

    The shared build() replicates embeddings VERBATIM (the ANN lanes
    need identical copies), which would cross-match every copy against
    every other — so this lane re-salts the vectors with a PER-COPY
    DIAGONAL SIGN FLIP: an orthogonal transform that preserves every
    within-copy cosine exactly while scrambling cross-copy cosines
    (the vector analogue of the text lanes' alphabet permutation)."""
    from ringo_spark.catalog import get_spark
    from ringo_spark.operators.dedup import (
        dedup_embedding_incremental_df, doc_dup_chunk_fraction_incremental_df,
    )

    spark = get_spark("scale-probe-ingest")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    ops = {"doc_dup_chunk_fraction_incremental":
           doc_dup_chunk_fraction_incremental_df,
           "dedup_embedding_incr_fixed4":
           lambda s, d: dedup_embedding_incremental_df(s, d, bits=4),
           "dedup_embedding_incr_auto": dedup_embedding_incremental_df}
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup

    def salt_vectors(sf_dir, k):
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        n = emb.count() // k
        dim = len(emb.select("embedding").first()[0])
        parts = []
        for c in range(k):
            signs = [1.0 if random.Random(c * 10_007 + j).random() < 0.5
                     else -1.0 for j in range(dim)] if c else [1.0] * dim
            sarr = F.array(*[F.lit(x) for x in signs])
            parts.append(
                emb.where((F.col("vec_id") >= c * n)
                          & (F.col("vec_id") < (c + 1) * n))
                .select("vec_id",
                        F.zip_with("embedding", sarr,
                                   lambda a, b: a * b).alias("embedding"),
                        *[col for col in emb.columns
                          if col not in ("vec_id", "embedding")]))
        out = os.path.join(sf_dir, "embeddings_salted")
        _replicate(parts).write.mode("overwrite") \
            .parquet(os.path.join(out, "embeddings.parquet"))
        return out

    rows = {}
    for k in (1, 2, 4):
        sf_dir = build(spark, k)
        salted_dir = salt_vectors(sf_dir, k)
        for name, fn in ops.items():
            d = (salted_dir if name.startswith("dedup_embedding")
                 else sf_dir)
            best, out_rows, sh = None, None, None
            for _ in range(2):
                s0 = _max_stage_id(spark)
                t0 = time.time()
                out_rows = fn(spark, d).count()
                dt = time.time() - t0
                if best is None or dt < best:
                    best, sh = dt, _shuffle_write_bytes(spark, s0)
            rows.setdefault(name, []).append((k, best, out_rows, sh))
            print(f"x{k:<2d} {name:36s} {best:6.2f}s  out_rows={out_rows}"
                  f"  shuffleMB={sh / 1e6:.1f}", flush=True)
    print("\n| operator | x1 | x2 | x4 | per-row x4/x1 |")
    print("|---|---|---|---|---|")
    for name, rs in rows.items():
        t = {k: b for k, b, _, _ in rs}
        print(f"| {name} | {t[1]:.2f}s | {t[2]:.2f}s | {t[4]:.2f}s "
              f"| {(t[4] / 4) / (t[1] / 1):.2f}x |")
    for name, rs in rows.items():
        print(f"{name} out_rows by scale: {[(k, n) for k, _, n, _ in rs]}")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def massdup_scenario():
    """Capped-LSH mass-duplication probe (r12, VERDICT r11 item 6): the
    pytest guard proves the C(cap,2) bound structurally; this lane
    MEASURES the asymptote.  A 20% subset of the sf0.1 documents is
    replicated VERBATIM k times (no salting — identical copies are the
    point: every copy of a doc shares every band, the boilerplate/
    mirror-heavy shape of a real crawl), the remaining 80% appears
    once.  At k copies each duplicated doc contributes C(k,2) ≈ k²/2
    band-collision pairs to the UNCAPPED candidate set, while the
    capped path exact-collapses copies to one representative first and
    caps any residual hot band bucket — candidates stay ~flat.  The
    lane times candidate GENERATION (the stage that goes quadratic)
    for both paths and prints candidate counts per k."""
    from ringo_spark.catalog import get_spark
    from ringo_spark.operators.dedup import (
        _band_rows, _candidate_pairs, _shingled,
        dedup_minhash_lsh_capped_df,
    )

    spark = get_spark("scale-probe-massdup")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup

    docs0 = spark.read.parquet(f"{SRC}/documents.parquet")
    n0 = docs0.count()
    results = []
    for k in (1, 2, 4, 8):
        out = os.path.join(SCRATCH, f"massdup_x{k}")
        keep = docs0.where(F.col("doc_id") % 5 != 0)
        dup = docs0.where(F.col("doc_id") % 5 == 0)
        parts = [keep] + [
            dup.withColumn("doc_id", F.col("doc_id") + F.lit(c * n0))
            for c in range(k)]
        _replicate(parts).write.mode("overwrite") \
            .parquet(os.path.join(out, "documents.parquet"))

        def timed(fn, measure=lambda df: df.count()):
            best, n = None, None
            for _ in range(2):
                t0 = time.time()
                n = measure(fn())
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            return best, n

        def uncapped():
            from ringo_spark.operators.dedup import (
                NUM_PERM, minhash_signature, shingle_hashes,
            )

            sigs = (_shingled(spark, out)
                    .withColumn("hs", shingle_hashes(F.col("sh")))
                    .select("doc_id", minhash_signature(F.col("hs"),
                                                        NUM_PERM)
                            .alias("sig")))
            return _candidate_pairs(_band_rows(sigs))

        tu, nu = timed(uncapped)
        tc, nc = timed(lambda: dedup_minhash_lsh_capped_df(
            spark, out, return_candidates=True))
        # the r12 span-removal operator on the same mass-duplicated
        # corpus: chunk-hash shuffles only, so wall must stay ~linear
        # in k while removed chunks grow linearly (every non-canonical
        # copy's chunks are removed)
        from ringo_spark.operators.dedup import doc_dedup_spans_df

        ts, ns = timed(
            lambda: doc_dedup_spans_df(spark, out),
            measure=lambda df: int(
                df.agg(F.sum("n_removed")).collect()[0][0]))
        results.append((k, tu, nu, tc, nc, ts, ns))
        print(f"x{k:<2d} uncapped {tu:6.2f}s cand={nu:>9d}   "
              f"capped {tc:6.2f}s cand={nc:>6d}   "
              f"spans {ts:6.2f}s removed={ns}", flush=True)

    print("\n| k | uncapped s | uncapped cand | capped s | capped cand "
          "| spans s | spans removed |")
    print("|---|---|---|---|---|---|---|")
    for k, tu, nu, tc, nc, ts, ns in results:
        print(f"| {k} | {tu:.2f} | {nu} | {tc:.2f} | {nc} "
              f"| {ts:.2f} | {ns} |")

    # VERDICT r12 item 1 probe, spans lane ONLY (the giant doc would
    # distort the LSH lanes — million-token shingling — and is not what
    # they measure): the k=8 corpus PLUS one giant document of 1e5
    # chunks (1e6 tokens), fully duplicated (two verbatim copies), so
    # the non-canonical copy's reconstruction faces n_chunks =
    # n_removed = 1e5 in ONE row.  Under the old array_contains filter
    # that is 1e10 comparisons in that row; array_except keeps it
    # hash-linear — the wall staying near the plain-k=8 spans wall IS
    # the measurement.
    from ringo_spark.operators.dedup import (
        DUP_CHUNK_TOKENS, doc_dedup_spans_df,
    )

    giant_out = os.path.join(SCRATCH, "massdup_x8giant")
    base8 = spark.read.parquet(
        os.path.join(SCRATCH, "massdup_x8", "documents.parquet"))
    n_giant_chunks = 100_000
    giant = spark.range(2).select(
        (F.col("id") + F.lit(100 * n0 * 8)).alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1),
                           F.lit(n_giant_chunks * DUP_CHUNK_TOKENS)),
                lambda i: F.concat(F.lit("tok"), i.cast("string"))),
            " ").alias("text"))
    giant = giant.select(*[
        giant[c] if c in giant.columns
        else F.lit(None).cast(base8.schema[c].dataType).alias(c)
        for c in base8.columns])
    base8.unionByName(giant).write.mode("overwrite").parquet(
        os.path.join(giant_out, "documents.parquet"))
    tg, ng = timed(
        lambda: doc_dedup_spans_df(spark, giant_out),
        measure=lambda df: int(
            df.agg(F.sum("n_removed")).collect()[0][0]))
    base_removed = results[-1][6]
    print(f"\nx8+giant(1e5-chunk fully-dup doc) spans {tg:6.2f}s "
          f"removed={ng} (= x8's {base_removed} + {ng - base_removed} "
          f"giant-copy chunks)", flush=True)
    shutil.rmtree(SCRATCH, ignore_errors=True)


def ivf_scenario():
    """IVF centroid-count probe (r09 VERDICT item 5): training cost and
    recall@5 at K in {16, 64, 256} at sf0.1 (2,000 vectors; K=256 is
    past sqrt(N) — the small-cell extreme).  Two recall readings per K:
    at the FIXED contract nprobe (4) — where recall MUST fall as cells
    shrink, since 4/256 cells cover ~1.6% of the corpus vs 25% at K=16
    — and at a PROPORTIONAL nprobe (max(4, K/4), constant ~25% corpus
    fraction), where recall holding up is the actual scale claim: cells
    shrinking does not break the index, it just moves the recall knob.
    K=256 is past CELL_ASSIGN_LITERAL_MAX_K, so it also shows the
    broadcast-data cell assignment (_with_cell) holding at any K."""
    from ringo_spark.catalog import get_spark
    from ringo_spark.operators.similarity import (
        IVF_RECALL_NPROBE, ann_ivf_recall_bounds_df, train_ivf_centroids,
    )

    spark = get_spark("scale-probe-ivf")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    print("| K | train s | cells kept | recall@5 nprobe=4 "
          "| nprobe=max(4,K/4) | recall there |")
    print("|---|---|---|---|---|---|")
    for k in (16, 64, 256):
        t0 = time.time()
        cent = train_ivf_centroids(spark, SRC, k=k)
        train_s = time.time() - t0
        prop = max(4, k // 4)
        rec_fixed = ann_ivf_recall_bounds_df(
            spark, SRC, nprobe=IVF_RECALL_NPROBE, k=k) \
            .agg(F.avg("recall")).collect()[0][0]
        rec_prop = ann_ivf_recall_bounds_df(spark, SRC, nprobe=prop, k=k) \
            .agg(F.avg("recall")).collect()[0][0]
        print(f"| {k} | {train_s:.1f} | {len(cent)} | {rec_fixed:.3f} "
              f"| {prop} | {rec_prop:.3f} |", flush=True)


def facts_scenario():
    """Core populate pipeline at k-replicated fact inputs (r14): the
    engine's own rollup — events x k with per-copy user-id offsets AND
    month-shifted timestamps (so GROUPS scale x k too, not just input
    rows: the honest 1000x shape is more rows AND more distinct grain
    keys), plus the lineitem day rollup over the star replicated by
    build().  Expect ~linear wall: one partial-aggregated shuffle whose
    map side combines per (minute, user, type) before the exchange.
    Events replicate via DuckDB so the parquet timestamp physical type
    survives byte-exactly (a Spark rewrite under nanosAsLong would
    change the column type)."""
    import duckdb

    from ringo_spark.catalog import get_spark
    from ringo_spark.testbed import (
        fact_events_by_minute_df, fact_lineitem_by_day_df,
    )

    spark = get_spark("scale-probe-facts")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    n_users = 10_000          # > max user_id at sf0.1 (1,500 distinct)
    print("| k | events | ev-by-minute s | out groups | lineitem-day s "
          "| out rows |")
    print("|---|---|---|---|---|---|")
    rows = {}
    ks = COPIES + [32] if "--deep" in sys.argv else COPIES
    for k in ks:
        out = build(spark, k)           # star tables for lineitem
        ev = os.path.join(out, "events.parquet")
        if not os.path.exists(ev):
            parts = " UNION ALL ".join(
                f"SELECT event_id + {c} * 1000000 AS event_id, "
                f"ts + INTERVAL {c * 31} DAY AS ts, "
                f"user_id + {c} * {n_users} AS user_id, "
                f"event_type, value, props "
                f"FROM read_parquet('{SRC}/events.parquet')"
                for c in range(k))
            duckdb.sql(f"COPY ({parts}) TO '{ev}' "
                       f"(FORMAT PARQUET, ROW_GROUP_SIZE 131072)")
        n_ev = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{ev}')").fetchone()[0]
        best_m, best_l, gm, gl = None, None, None, None
        for _ in range(2):
            t0 = time.time()
            gm = fact_events_by_minute_df(spark, out).count()
            d1 = time.time() - t0
            best_m = d1 if best_m is None else min(best_m, d1)
            t0 = time.time()
            gl = fact_lineitem_by_day_df(spark, out).count()
            d2 = time.time() - t0
            best_l = d2 if best_l is None else min(best_l, d2)
        rows[k] = (best_m, best_l)
        print(f"| {k} | {n_ev} | {best_m:.2f} | {gm} | {best_l:.2f} "
              f"| {gl} |", flush=True)
    kmax = max(rows)
    r1, r8 = rows[min(rows)], rows[kmax]
    print(f"\nx{kmax}/x1 ratios: ev-by-minute "
          f"{r8[0] / r1[0]:.2f}, lineitem-day {r8[1] / r1[1]:.2f} "
          f"(linear = {kmax}.0)", flush=True)


def pq_scenario():
    """IVF-PQ probe (r14): the memory story and the recall/cost ladder
    at sf0.1 (2,000 vectors, auto K=32).  Reports (a) on-disk bytes of
    the codes-only PQ index vs the raw-vector IVF index — the ~64x
    per-vector payload cut is THE reason PQ exists at 100 TB (a
    3 TB float64 corpus becomes ~48 GB of codes: cache-resident); (b)
    recall@5 at the contract rerank=50, at rerank=25, and ADC-only —
    the knob a deployment turns when the refine fetches get expensive;
    (c) wall time of the reranked search."""
    import glob

    from ringo_spark.catalog import get_spark
    from ringo_spark.operators.similarity import (
        ann_ivf_pq_df, ann_pq_recall_bounds_df, build_ivf_index,
        build_pq_index, LSH_TOP_K,
    )

    spark = get_spark("scale-probe-pq")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup

    def du(path, pat):
        return sum(os.path.getsize(f) for f in
                   glob.glob(os.path.join(path, pat), recursive=True))

    pq_path = build_pq_index(spark, SRC)
    ivf_path = build_ivf_index(spark, SRC)
    pq_bytes = du(pq_path, "**/*.parquet")
    ivf_bytes = du(ivf_path, "**/*.parquet")
    print(f"| index | data bytes (cell dirs) |")
    print(f"|---|---|")
    print(f"| IVF raw vectors | {ivf_bytes:,} |")
    print(f"| PQ codes | {pq_bytes:,} ({ivf_bytes / max(1, pq_bytes):.1f}x smaller) |",
          flush=True)
    print()
    print("| rerank | mean recall@5 | search s |")
    print("|---|---|---|")
    for r in (50, 25, LSH_TOP_K):
        t0 = time.time()
        rec = ann_pq_recall_bounds_df(spark, SRC, rerank=r)             .agg(F.avg("recall")).collect()[0][0]
        label = str(r) if r != LSH_TOP_K else f"{r} (ADC-only)"
        print(f"| {label} | {rec:.3f} | {time.time() - t0:.1f} |",
              flush=True)


def bpe_scenario():
    """BPE training at k-replicated corpora (r14) — the cost-model
    claim measured: the training STATE is the distinct vocabulary, so
    replicating the corpus UNSALTED (identical text, so the vocab is
    CONSTANT while word counts scale x k) must leave the per-iteration
    merge cost flat — only the one-time word-count aggregate over the
    token stream grows with the corpus.  (The LSH lanes salt their
    copies because pair semantics demand it; BPE has no pair semantics,
    and salting would grow the vocab ~k x, measuring the wrong
    thing.)"""
    from ringo_spark.catalog import get_spark
    from ringo_spark.operators.text import _bpe_train_state

    spark = get_spark("scale-probe-bpe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    n_docs = docs.count()
    print("| k | docs | distinct vocab | train s (8 merges) | merges equal x1? |")
    print("|---|---|---|---|---|")
    base_merges = None
    for k in COPIES:
        out = os.path.join(SCRATCH, f"bpe-x{k}")
        if not os.path.exists(os.path.join(out, "_OK")):
            parts = [docs.select(
                (F.col("doc_id") + c * n_docs).alias("doc_id"),
                *[c2 for c2 in docs.columns if c2 != "doc_id"])
                for c in range(k)]
            _replicate(parts).write.mode("overwrite").parquet(
                os.path.join(out, "documents.parquet"))
            open(os.path.join(out, "_OK"), "w").close()
        vocab = (spark.read.parquet(f"{out}/documents.parquet")
                 .selectExpr("explode(split(text, '\\s+')) AS w")
                 .where("length(w) >= 1").select("w").distinct().count())
        t0 = time.time()
        merges, _ = _bpe_train_state(spark, out)
        wall = time.time() - t0
        if base_merges is None:
            base_merges = [(m[1], m[2]) for m in merges]
            same = "—"
        else:
            # counts scale x k but the MERGE SEQUENCE must be identical
            same = str([(m[1], m[2]) for m in merges] == base_merges)
        print(f"| {k} | {n_docs * k} | {vocab} | {wall:.1f} | {same} |",
              flush=True)


def gate_scenario():
    """Per-source quality gate: EXACT percent-rank (one per-source sort)
    vs the PRODUCTION GK-threshold form (mergeable sketch + broadcast
    threshold join, map-only gate) at k-replicated sf0.1 corpora.  The
    claim under test: the GK form's advantage grows with corpus size
    (the exact form pays a per-source sort of everything; the GK form
    pays one sketch aggregate), and its kept-set disagreement with the
    exact gate stays at the tie/epsilon boundary — measured, not
    asserted."""
    from ringo_spark.catalog import get_spark
    from ringo_spark.operators.text import (
        quality_source_gate_gk_df, quality_source_percentile_df,
    )

    spark = get_spark("scale-probe-gate")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    rows = []
    for k in COPIES:
        d = build(spark, k)
        # the mega-source leg: same corpus, ONE source — the skew shape
        # the GK form exists for (the exact gate must sort everything
        # inside a single window partition)
        mega = os.path.join(SCRATCH, f"mega_x{k}")
        if not os.path.exists(os.path.join(mega, "documents.parquet")):
            (spark.read.parquet(f"{d}/documents.parquet")
             .withColumn("source", F.lit("mega"))
             .write.mode("overwrite")
             .parquet(os.path.join(mega, "documents.parquet")))
        for label, dd in ((f"{k} (20 src)", d), (f"{k} (1 src)", mega)):
            n = spark.read.parquet(f"{dd}/documents.parquet").count()
            t0 = time.time()
            ex = {r.doc_id for r in
                  quality_source_percentile_df(spark, dd).collect()}
            t_ex = time.time() - t0
            t0 = time.time()
            gk = {r.doc_id for r in
                  quality_source_gate_gk_df(spark, dd).collect()}
            t_gk = time.time() - t0
            rows.append(f"| {label} | {n} | {t_ex:.2f} | {t_gk:.2f} "
                        f"| {len(ex)} | {len(gk)} | {len(ex ^ gk)} |")
    print("| k | docs | exact s | gk s | kept exact | kept gk | sym diff |")
    print("|---|---|---|---|---|---|---|")
    print("\n".join(rows), flush=True)


def zorder_scenario():
    """Z-order layout vs single-column sort, measured on REAL parquet
    footers at sf0.1: write events (a) time-sorted and (b) z-ordered on
    (user_id, hour), then count the files a min/max-stats reader must
    scan for a point-ish predicate on EACH dimension.  The claim: the
    time-sorted layout prunes only on time; the z-ordered layout prunes
    on BOTH."""
    import pyarrow.parquet as pq

    from ringo_spark.catalog import get_spark, load_catalog
    from ringo_spark.sources.layout import write_zordered
    from ringo_spark.testbed import EVENTS

    spark = get_spark("scale-probe-zorder")
    spark.sparkContext.setLogLevel("ERROR")
    n_files = 64
    ev = (load_catalog(spark, SRC, [EVENTS])["events"]
          .select("event_id", "user_id",
                  F.floor(F.unix_timestamp("ts") / 3600).alias("hour"),
                  "event_type", "value"))
    ts_dir = os.path.join(SCRATCH, "ev_timesorted")
    z_dir = os.path.join(SCRATCH, "ev_zordered")
    (ev.repartitionByRange(n_files, "hour").sortWithinPartitions("hour")
     .write.mode("overwrite").parquet(ts_dir))
    write_zordered(ev, ["user_id", "hour"], z_dir, n_files)

    def admitted(path, col, lo, hi):
        tot, hit = 0, 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            tot += 1
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            i = md.schema.to_arrow_schema().get_field_index(col)
            mn = min(md.row_group(g).column(i).statistics.min
                     for g in range(md.num_row_groups))
            mx = max(md.row_group(g).column(i).statistics.max
                     for g in range(md.num_row_groups))
            if mn <= hi and lo <= mx:
                hit += 1
        return hit, tot

    stats = ev.agg(F.min("user_id"), F.max("user_id"),
                   F.min("hour"), F.max("hour")).collect()[0]
    u_lo, u_hi = stats[0], stats[1]
    h_lo, h_hi = stats[2], stats[3]
    u_probe = (u_lo + (u_hi - u_lo) // 2, u_lo + (u_hi - u_lo) // 2
               + max(1, (u_hi - u_lo) // 100))
    h_probe = (h_lo + (h_hi - h_lo) // 2, h_lo + (h_hi - h_lo) // 2
               + max(1, (h_hi - h_lo) // 100))
    print(f"| layout | files scanned, user_id in {u_probe} "
          f"| files scanned, hour in {h_probe} |")
    print("|---|---|---|")
    for name, d in (("time-sorted", ts_dir), ("z-ordered", z_dir)):
        u_hit, tot = admitted(d, "user_id", *u_probe)
        h_hit, _ = admitted(d, "hour", *h_probe)
        print(f"| {name} | {u_hit}/{tot} | {h_hit}/{tot} |", flush=True)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "skew":
        skew_scenario()
    elif len(sys.argv) > 1 and sys.argv[1] == "saltagg":
        saltagg_scenario()
    elif len(sys.argv) > 1 and sys.argv[1] == "skewjoin":
        skewjoin_scenario()
    elif len(sys.argv) > 1 and sys.argv[1] == "saltjoin":
        saltjoin_scenario()
    elif len(sys.argv) > 1 and sys.argv[1] == "deep":
        deep_scenario()
    elif len(sys.argv) > 1 and sys.argv[1] == "ivf":
        ivf_scenario()
    elif len(sys.argv) > 1 and sys.argv[1] == "contracts":
        contracts_scenario()
    elif len(sys.argv) > 1 and sys.argv[1] == "dimids":
        dimids_scenario()
    elif len(sys.argv) > 1 and sys.argv[1] == "ingest":
        ingest_scenario()
    elif len(sys.argv) > 1 and sys.argv[1] == "massdup":
        massdup_scenario()
    elif len(sys.argv) > 1 and sys.argv[1] == "gate":
        gate_scenario()
    elif len(sys.argv) > 1 and sys.argv[1] == "zorder":
        zorder_scenario()
    elif len(sys.argv) > 1 and sys.argv[1] == "pq":
        pq_scenario()
    elif len(sys.argv) > 1 and sys.argv[1] == "bpe":
        bpe_scenario()
    elif len(sys.argv) > 1 and sys.argv[1] == "facts":
        facts_scenario()
    else:
        main()
