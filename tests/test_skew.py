"""Salted two-phase aggregation / replicated salted join equal their
unsalted counterparts (correctness; the win is partition balance)."""

import ast
import os

from pyspark.sql import functions as F

from ringo_spark.functions.skew import (
    salted_aggregate, salted_broadcast_left_join,
)


def test_salted_aggregate_matches_plain(spark):
    # 90% of rows share one key: the classic hot-key shape
    df = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            (F.col("id") % 97).cast("string")).alias("k"),
        (F.col("id") % 7).alias("v"))
    got = salted_aggregate(
        df, ["k"],
        {"n": F.count(F.lit(1)), "v_sum": F.sum("v"), "v_max": F.max("v")},
        salt_col="v", buckets=8,
        merges={"v_max": F.max("v_max")},
    )
    want = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"),
                               F.sum("v").alias("v_sum"),
                               F.max("v").alias("v_max"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_salted_join_matches_plain(spark):
    big = spark.range(5_000).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("payload"))
    medium = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("dim_val"))
    got = salted_broadcast_left_join(big, medium, on=["k"], buckets=4)
    want = big.join(medium, on=["k"], how="left")
    assert sorted(map(tuple, got.select("k", "payload", "dim_val").collect())) \
        == sorted(map(tuple, want.select("k", "payload", "dim_val").collect()))


def test_spread_is_identity_on_well_split_input(spark, tmp_path):
    """spread_source must NEVER down-shuffle a source that already has
    at least session-parallelism splits — on a real many-split corpus it
    is the identity (same DataFrame object, no added Exchange) — and it
    widens a one-file source to full parallelism."""
    from ringo_spark.functions.spread import spread_source

    target = spark.sparkContext.defaultParallelism
    many, one = str(tmp_path / "many.parquet"), str(tmp_path / "one.parquet")
    spark.range(10_000).repartition(target).write.parquet(many)
    spark.range(10_000).coalesce(1).write.parquet(one)
    wide = spark.read.parquet(many)
    assert spread_source(wide, many) is wide
    narrow = spark.read.parquet(one)
    out = spread_source(narrow, one)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == target


def test_spread_source_reads_size_suffixed_conf(spark, tmp_path):
    """maxPartitionBytes set in Spark's own "<n>mb" form is honoured:
    a one-file source whose 1mb-split estimate reaches parallelism is
    left alone (a private parser used to fail on the "b" suffix and
    silently fall back to 128 MB, widening it)."""
    from ringo_spark.functions.spread import spread_source

    target = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "t.parquet")
    spark.range(target * 200_000).select(F.rand(7).alias("v")) \
        .coalesce(1).write.parquet(p)
    assert sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(p) for f in fs
               if f.endswith(".parquet")) > (target - 1) << 20
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "1mb")
    try:
        df = spark.read.parquet(p)
        assert spread_source(df, p) is df
    finally:
        spark.conf.set(key, saved)


def test_spread_source_skips_hidden_directories(spark, tmp_path):
    """Files under ``_``-prefixed directories (index sidecars such as
    ``_centroids/``) are not data to Spark's file discovery, so they
    count toward neither the byte total nor the split estimate."""
    from ringo_spark.functions.spread import spread_source

    p = str(tmp_path / "idx")
    spark.range(1_000).coalesce(1).write.parquet(p)
    data = sum(os.path.getsize(os.path.join(p, f)) for f in os.listdir(p)
               if f.endswith(".parquet"))
    df = spark.read.parquet(p)
    assert spread_source(df, p, bytes_per_task=data) is df
    spark.range(200_000).select(F.rand(3).alias("v")).coalesce(1) \
        .write.parquet(os.path.join(p, "_sidecar"))
    assert spread_source(df, p, bytes_per_task=data) is df


def test_salted_tenant_rollup_equals_plain_rollup(spark):
    """The registered salted twin (r15, VERDICT r14 item 5) equals the
    plain one-phase rollup cell-for-cell on the skew-injected corpus —
    the salt changes the shuffle layout, never the result — and the
    injection is real: the hot tenant owns the majority of rows."""
    from pyspark.sql import functions as F

    from ringo_spark.operators.rollup_grain import (
        _skewed_tenant, tenant_rollup_skew_salted_df,
    )

    SF = "/root/testdata/sf0.001"
    got = {tuple(r) for r in
           tenant_rollup_skew_salted_df(spark, SF).collect()}

    ev = spark.read.parquet(f"{SF}/events.parquet")
    uid = F.coalesce(F.col("user_id"), F.lit(-1))
    plain = (ev.select(_skewed_tenant(uid).alias("tenant"),
                       F.col("value").cast("decimal(18,2)").alias("v"))
             .groupBy("tenant")
             .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                  F.sum("v").cast("double").alias("value_sum"),
                  F.max("v").cast("double").alias("value_max"),
                  F.min("v").cast("double").alias("value_min")))
    assert got == {tuple(r) for r in plain.collect()} and got
    counts = sorted(n for _, n, *_ in got)
    assert counts[-1] > sum(counts) / 2   # hot tenant: majority of rows


def test_salted_count_distinct_is_exact(spark):
    """Value-hash salting keeps exact-distinct EXACT (the saltagg probe
    finding, pinned): salting phase 1 by hash(distinct_col) puts each
    distinct value in exactly one bucket, so the per-bucket distinct
    counts SUM to the true distinct count — unlike a row-salt, which
    would double-count values straddling buckets."""
    from pyspark.sql import functions as F

    from ringo_spark.functions.skew import salted_aggregate

    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select(F.coalesce(F.col("user_id"), F.lit(-1)).alias("tenant"),
                  "event_type"))   # few distinct values, heavy repeats
    plain = {(r.tenant, r.n) for r in
             ev.groupBy("tenant")
             .agg(F.count_distinct("event_type").alias("n")).collect()}
    salted = {(r.tenant, r.n) for r in salted_aggregate(
        ev, ["tenant"], {"n": F.count_distinct("event_type")},
        salt_col="event_type", buckets=4).collect()}
    assert salted == plain and plain


def test_salt_expression_has_one_definition():
    """VERDICT r16 item 4: the pmod-hash salt lives ONLY in
    functions/skew.py's salt_expr — a copy-pasted fourth site could
    silently regress the INT_MIN lesson the helper pins."""
    import os

    import ringo_spark

    pkg = os.path.dirname(ringo_spark.__file__)
    offenders = []
    for root, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            src = open(path).read()
            if "pmod(F.hash" in src.replace(" ", "") and \
                    not path.endswith(os.path.join("functions", "skew.py")):
                offenders.append(path)
    assert offenders == []


def test_byte_floors_live_only_in_spread_module():
    """One widening rule, one floor table: no module but
    functions/spread.py passes a numeric literal as ``bytes_per_task``
    or calls ``repartition`` with a width derived from
    ``defaultParallelism``, and no module defines a second widener named
    ``spread`` (one that probes the plan through ``df.rdd``)."""
    import ringo_spark

    pkg = os.path.dirname(ringo_spark.__file__)
    home = os.path.join(pkg, "functions", "spread.py")
    offenders = []
    for root, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            for node in ast.walk(ast.parse(open(path).read())):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                        and node.name == "spread":
                    offenders.append((path, node.lineno))
                if isinstance(node, ast.keyword) and \
                        node.arg == "bytes_per_task" and path != home and \
                        any(isinstance(c, ast.Constant) and
                            isinstance(c.value, (int, float))
                            for c in ast.walk(node.value)):
                    offenders.append((path, node.value.lineno))
                if isinstance(node, ast.Call) and path != home and \
                        isinstance(node.func, ast.Attribute) and \
                        node.func.attr == "repartition" and \
                        any(isinstance(c, (ast.Attribute, ast.Name)) and
                            "defaultParallelism" in
                            getattr(c, "attr", getattr(c, "id", ""))
                            for a in node.args for c in ast.walk(a)):
                    offenders.append((path, node.lineno))
    assert offenders == []


def test_spread_source_bytes_per_task_caps_width(spark, tmp_path):
    """r19 opt: the data-scaled width cap — target partitions equal
    min(parallelism, ceil(total_bytes / bytes_per_task)), so a tiny
    file widens to a few tasks instead of splintering to full
    parallelism, and a source already at or past the cap is untouched
    (identity, no Exchange)."""
    import math
    import os

    from ringo_spark.functions.spread import spread_source

    p = str(tmp_path / "t.parquet")
    spark.range(20_000).selectExpr("id", "id * 2 AS v") \
        .coalesce(1).write.mode("overwrite").parquet(p)
    total = sum(os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(p) for f in fs
                if not f.startswith(("_", ".")))
    df = spark.read.parquet(p)
    bpt = max(1, total // 3)          # expect ceil(total/bpt) in {3, 4}
    out = spread_source(df, p, bytes_per_task=bpt)
    expect = min(spark.sparkContext.defaultParallelism,
                 math.ceil(total / bpt))
    assert out.rdd.getNumPartitions() == expect
    # cap larger than the file -> target 1 -> estimated splits (>= 1)
    # already satisfy it -> identity
    assert spread_source(df, p, bytes_per_task=total * 10) is df
    # widened or not, the rows are the same
    assert sorted(map(tuple, out.collect())) \
        == sorted(map(tuple, df.collect()))


def test_fact_widen_breadcrumb_equals_plain_population(spark):
    """r19 opt: fact_population widens the fact source scan via the
    catalog's _ringo_src_path/_ringo_raw breadcrumbs (round-robin
    exchange + full-width declared casts).  The widened plan must equal
    the plain one cell-for-cell — the breadcrumb changes the shuffle
    layout, never the result."""
    from ringo_spark.catalog import load_catalog

    # the declared model lives in the testbed module
    import ringo_spark.testbed as tb

    SF = "/root/testdata/sf0.001"
    wide = tb.fact_lineitem_by_day_df(spark, SF)

    cat = load_catalog(spark, SF, [tb.LINEITEM, tb.ORDERS])
    for frame in cat.values():           # strip the breadcrumbs
        for attr in ("_ringo_src_path", "_ringo_raw"):
            if hasattr(frame, attr):
                delattr(frame, attr)
    dims = tb._orders_dims(spark, SF)
    dims["dim_line_status"] = tb.dim_line_status_df(spark, SF)
    from ringo_spark.populate.fact import fact_population_df
    plain = fact_population_df(tb.ORDERS_ENV, tb.LINEITEM_FACT, cat,
                               dims=dims, time_upper=tb.T_FAR,
                               count_distinct_mode="exact")
    plain = plain.select(*wide.columns)
    assert sorted(map(tuple, wide.collect())) \
        == sorted(map(tuple, plain.collect()))
