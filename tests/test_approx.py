"""Approximate count-distinct: HLL++ estimate within the configured
relative error vs exact COUNT(DISTINCT) (BASELINE.md: checked within
ε=0.05, not by value hash)."""

import pytest

from ringo_spark.testbed import (
    EVENTS, EVENTS_ENV, EVENTS_FACT, T_FAR, dim_event_type_df,
)
from ringo_spark.catalog import load_catalog
from ringo_spark.populate.fact import fact_population_df

SF_DIR = "/root/testdata/sf0.001"


def test_approx_count_distinct_within_epsilon(spark):
    cat = load_catalog(spark, SF_DIR, [EVENTS])
    dim = dim_event_type_df(spark, SF_DIR)
    approx = fact_population_df(EVENTS_ENV, EVENTS_FACT, cat,
                                dims={"dim_event_type": dim}, time_upper=T_FAR,
                                count_distinct_mode="approx")
    exact = fact_population_df(EVENTS_ENV, EVENTS_FACT, cat,
                               dims={"dim_event_type": dim}, time_upper=T_FAR,
                               count_distinct_mode="exact")
    keys = ["ts_minute_id", "user_id", "event_type_id"]
    a = {tuple(r[k] for k in keys): r.user_count for r in approx.collect()}
    e = {tuple(r[k] for k in keys): r.user_count for r in exact.collect()}
    assert a.keys() == e.keys()
    # HLL++ rsd=0.05 → allow 3 sigma plus integer slack on tiny groups
    for k, exact_n in e.items():
        assert abs(a[k] - exact_n) <= max(2, 0.15 * exact_n), (k, a[k], exact_n)


def test_sketch_mode_produces_mergeable_state(spark):
    from pyspark.sql import functions as F

    cat = load_catalog(spark, SF_DIR, [EVENTS])
    dim = dim_event_type_df(spark, SF_DIR)
    sk = fact_population_df(EVENTS_ENV, EVENTS_FACT, cat,
                            dims={"dim_event_type": dim}, time_upper=T_FAR,
                            count_distinct_mode="sketch")
    # registers are opaque binary; merging all groups' sketches re-estimates
    # the global distinct count (the reference's re-rollup motive, §2.6)
    merged = sk.agg(F.hll_sketch_estimate(F.hll_union_agg("user_count"))
                    .alias("users"))
    total = merged.collect()[0].users
    exact = cat["events"].select("user_id").distinct().count()
    assert abs(total - exact) <= max(2, 0.15 * exact)


def test_approx_percentile_within_tolerance_of_exact(spark):
    """The sketch swap named in quantiles_df's docstring is real:
    approx_percentile tracks the exact percentile within the accuracy
    parameter's rank-error bound."""
    from pyspark.sql import functions as F

    from ringo_spark.catalog import load_catalog
    from ringo_spark.testbed import EVENTS

    ev = load_catalog(spark, "/root/testdata/sf0.01", [EVENTS])["events"] \
        .select(F.col("value").cast("double").alias("v"))
    row = ev.agg(
        F.expr("percentile(v, array(0.5D, 0.9D, 0.99D))").alias("exact"),
        F.expr("approx_percentile(v, array(0.5D, 0.9D, 0.99D), 1000)")
        .alias("approx"),
        F.count("v").alias("n"),
        F.min("v").alias("lo"), F.max("v").alias("hi")).collect()[0]
    spread = row.hi - row.lo
    for e, a in zip(row.exact, row.approx):
        # rank error 1/1000 translates to a small value-space error for a
        # smooth distribution; allow a generous 2% of the value range
        assert abs(e - a) <= 0.02 * spread, (e, a)


def test_count_min_sketch_heavy_hitter_bounds(spark):
    """Count-min sketch over the token stream: estimates never
    undercount, and overcount is bounded by eps * stream size (the CMS
    guarantee, at the sketch's confidence).  This is the scale path for
    heavy-hitter queries — vocab_topk's exact counts are the oracle."""
    from pyspark.sql import functions as F

    from ringo_spark.operators.textfn import tokens

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    n = toks.count()
    eps, conf = 0.005, 0.99
    sketch_bytes = toks.agg(
        F.count_min_sketch("token", F.lit(eps), F.lit(conf), F.lit(42))
        .alias("s")).first().s
    # the aggregate returns Spark's serialized CountMinSketch; query it
    # through the JVM sketch library (mergeable across partitions/batches
    # like the HLL registers in §2.6)
    jvm = spark._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(sketch_bytes)))
    exact = {r.token: r.c for r in
             (toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
              .orderBy(F.desc("c")).limit(20).collect())}
    for token, true_count in exact.items():
        est = cms.estimateCount(token)
        assert est >= true_count, (token, est, true_count)
        assert est <= true_count + eps * n, (token, est, true_count)


def test_approx_bounds_grain_is_falsifiable(spark):
    """r06 ADVICE (medium): the r06 bounds grain included user_id, so
    exact_count was always 0/1 and within_3eps could never flip FALSE.
    The reworked day x event_type grain must have groups whose exact
    distinct-count exceeds the tolerance floor — i.e. a drifting HLL
    estimate is actually detectable — and all groups must still pass."""
    from ringo_spark.testbed import fact_events_by_minute_approx_bounds_df

    rows = fact_events_by_minute_approx_bounds_df(spark, SF_DIR).collect()
    assert rows
    # non-degenerate: some group's exact count makes ceil(3*rsd*exact) > 2
    assert any(r.exact_count > 13 for r in rows), \
        [r.exact_count for r in rows[:20]]
    assert all(r.within_3eps for r in rows)


def test_quantile_sketch_rank_bounds_hold_and_are_falsifiable(spark):
    """quantiles_approx_bounds' contract: every group passes the
    3-epsilon rank bracket, and the bracket genuinely constrains — for a
    large group the window is a small fraction of the group, and a
    deliberately wrong 'estimate' (the group's minimum for p99) would
    fail it."""
    from ringo_spark.operators.relational import (
        QUANTILE_RANK_EPS, quantiles_approx_bounds_df,
    )
    from ringo_spark.catalog import load_catalog
    from ringo_spark.testbed import EVENTS
    from pyspark.sql import functions as F

    rows = quantiles_approx_bounds_df(spark, "/root/testdata/sf0.01").collect()
    assert rows and all(r.within_rank_bounds for r in rows)
    big = [r for r in rows if r.n >= 500]
    assert big, "need a non-degenerate group"
    # falsifiability: for p99 on a big group, the lower bracket element
    # sits far above the group's minimum — a drifting sketch returning a
    # low value would flip the boolean
    ev = load_catalog(spark, "/root/testdata/sf0.01", [EVENTS])["events"]
    g = big[0]
    vals = sorted(r.v for r in ev.where(
        F.coalesce("event_type", F.lit("__UNKNOWN_VAL__")) == g.event_type)
        .select(F.col("value").cast("double").alias("v")).collect()
        if r.v is not None)
    n = len(vals)
    lo_idx = max(1, int((0.99 - QUANTILE_RANK_EPS) * n)) - 1
    assert vals[lo_idx] > vals[0]
    # bracket window is narrow: < 5% of the group for p50
    width = (0.5 + QUANTILE_RANK_EPS) - (0.5 - QUANTILE_RANK_EPS)
    assert width * n < 0.05 * n


def test_ivf_recall_floor_holds_and_is_falsifiable(spark):
    """The IVF recall contract (r07 VERDICT item 3): at the pinned
    nprobe the mean recall@5 over the 20-query audit set clears the
    published floor on every row; at nprobe=1 the same measurement
    falls BELOW the floor — the bound is a real constraint on the
    index, not a tautology."""
    from ringo_spark.operators.similarity import (
        IVF_RECALL_FLOOR, IVF_RECALL_NPROBE, ann_ivf_recall_bounds_df,
    )

    sf = "/root/testdata/sf0.001"
    rows = ann_ivf_recall_bounds_df(spark, sf).collect()
    assert len(rows) == 20
    assert all(r.meets_floor for r in rows)
    assert rows[0].mean_recall >= IVF_RECALL_FLOOR
    # per-query hits are genuine intersections, not all-or-nothing
    assert {r.hits for r in rows} != {5}

    lowered = ann_ivf_recall_bounds_df(spark, sf, nprobe=1).collect()
    assert not lowered[0].meets_floor
    assert lowered[0].mean_recall < IVF_RECALL_FLOOR
    assert IVF_RECALL_NPROBE > 1


def test_segment_overlap_ie_bound_constrains(spark):
    """The inclusion-exclusion overlap bound is a real constraint: the
    tolerance ±3·rsd·(|A|+|B|+|A∪B|) sits well BELOW the exact overlap,
    so a collapsed estimate (e.g. a sketch drifting to 0 intersection)
    flips within_ie_bounds to FALSE."""
    import math

    from ringo_spark.operators.relational import (
        OVERLAP_EPS_MULT, OVERLAP_RSD, segment_overlap_bounds_df,
    )

    row = segment_overlap_bounds_df(spark, "/root/testdata/sf0.01") \
        .collect()[0]
    assert row.within_ie_bounds
    assert row.n_inter > 0 and row.n_union > max(row.n_a, row.n_b), \
        "segments must partially overlap for the row to mean anything"
    tol = math.ceil((row.n_a + row.n_b + row.n_union)
                    * OVERLAP_EPS_MULT * OVERLAP_RSD)
    # falsifiable: an estimate of 0 intersection is outside the bound
    assert abs(0 - row.n_inter) > tol


def test_lsh_recall_floor_holds_and_is_falsifiable(spark):
    """The banded-LSH candidate-recall contract (r09 VERDICT item 6):
    at the production band count every true near-dup pair touching the
    audit set collides in some band (recall clears the floor); with all
    NUM_PERM rows collapsed into ONE band the same measurement falls
    below it — the bound constrains the banding, not a tautology."""
    from ringo_spark.operators.dedup import (
        LSH_RECALL_FLOOR, dedup_lsh_recall_bounds_df,
    )

    sf = "/root/testdata/sf0.001"
    row = dedup_lsh_recall_bounds_df(spark, sf).collect()[0]
    assert row.n_true > 0
    assert row.meets_floor
    assert row.recall >= LSH_RECALL_FLOOR

    lowered = dedup_lsh_recall_bounds_df(spark, sf, bands=1).collect()[0]
    assert not lowered.meets_floor
    assert lowered.recall < LSH_RECALL_FLOOR
    # same ground truth both times — only the banding moved
    assert lowered.n_true == row.n_true


def test_ivf_recall_holds_at_larger_k_with_proportional_nprobe(spark):
    """r09 VERDICT item 5: growing K shrinks cells, so recall at a FIXED
    nprobe must fall — the scale claim is that recall at a PROPORTIONAL
    nprobe (constant probed-corpus fraction, nprobe=K/4) does not
    collapse.  Pin it at K=64 (past the default contract K=16; the
    sf0.1 probe table lives in SCALE.md)."""
    from ringo_spark.operators.similarity import (
        IVF_RECALL_FLOOR, ann_ivf_recall_bounds_df,
    )

    sf = "/root/testdata/sf0.001"
    rows = ann_ivf_recall_bounds_df(spark, sf, nprobe=16, k=64).collect()
    assert len(rows) == 20
    assert rows[0].mean_recall >= IVF_RECALL_FLOOR
    assert all(r.meets_floor for r in rows)


def test_quantize_recall_floor_holds_and_is_falsifiable(spark):
    """The quantization retrieval-fidelity contract: at int8 (127
    levels) the dequantized corpus recovers ~0.99 of the exact top-5
    neighbors — over the floor on every row; crushing the code book to
    3 levels drops the same measurement to ~0.73, under the floor.  The
    bound constrains the quantizer, not a tautology."""
    from ringo_spark.operators.training import (
        QUANT_RECALL_FLOOR, embed_quantize_recall_bounds_df,
    )

    sf = "/root/testdata/sf0.001"
    rows = embed_quantize_recall_bounds_df(spark, sf).collect()
    assert len(rows) == 20
    assert all(r.meets_floor for r in rows)
    assert rows[0].mean_recall >= QUANT_RECALL_FLOOR

    crushed = embed_quantize_recall_bounds_df(spark, sf, levels=3).collect()
    assert not crushed[0].meets_floor
    assert crushed[0].mean_recall < QUANT_RECALL_FLOOR


def _counting_trainer(monkeypatch, tmp_path):
    """Point the trained-centroid cache at ``tmp_path`` and count the
    real Lloyd trainings behind it."""
    from ringo_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "IVF_INDEX_ROOT", str(tmp_path / "ivf"))
    calls = []
    real = sim.train_ivf_centroids

    def train(*args, **kwargs):
        calls.append(kwargs.get("k"))
        return real(*args, **kwargs)
    monkeypatch.setattr(sim, "train_ivf_centroids", train)
    return sim, calls


def test_trained_ivf_centroids_serve_the_trained_doubles(spark, monkeypatch,
                                                         tmp_path):
    """The cached centroids are train_ivf_centroids' output bit for bit,
    and a second call serves them without training."""
    sim, calls = _counting_trainer(monkeypatch, tmp_path)
    sf = "/root/testdata/sf0.001"
    trained = sim.train_ivf_centroids(spark, sf, k=16)
    cold = sim.trained_ivf_centroids(spark, sf, k=16)
    warm = sim.trained_ivf_centroids(spark, sf, k=16)
    assert len(calls) == 2     # the direct call plus the cold miss

    def bits(cent):
        return [(type(c), c, [float.hex(x) for x in v]) for c, v in cent]
    assert bits(warm) == bits(cold) == bits(trained) and len(trained) > 0


def test_warm_ivf_kmeans_construction_runs_at_most_one_job(spark, monkeypatch,
                                                           tmp_path):
    """A warm ann_ivf_kmeans_df reads its centroids from the sidecar: no
    Lloyd job runs at construction (at most the corpus read's schema
    job), where a cold one runs 2 x IVF_KMEANS_ITERS."""
    from tests.fixtures import count_spark_jobs

    sim, calls = _counting_trainer(monkeypatch, tmp_path)
    sf = "/root/testdata/sf0.001"
    with count_spark_jobs(spark) as cold:
        sim.ann_ivf_kmeans_df(spark, sf, k=16)
    with count_spark_jobs(spark) as warm:
        df = sim.ann_ivf_kmeans_df(spark, sf, k=16)
    assert calls == [16]
    assert warm["jobs"] <= 1 < cold["jobs"]
    assert df.count() > 0


def test_trained_ivf_centroids_retrain_on_new_source_or_torn_dir(
        spark, monkeypatch, tmp_path):
    """A rewritten source (new fingerprint) misses the cache and
    retrains; so does a dir whose marker never landed."""
    import os
    import shutil

    sim, calls = _counting_trainer(monkeypatch, tmp_path)
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    src = os.path.join(sf, "embeddings.parquet")
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet", src)
    sim.trained_ivf_centroids(spark, sf, k=16)
    sim.trained_ivf_centroids(spark, sf, k=16)
    assert len(calls) == 1

    (cache_dir,) = [os.path.join(sim.IVF_INDEX_ROOT, d)
                    for d in os.listdir(sim.IVF_INDEX_ROOT)]
    marker = os.path.join(cache_dir, "_SUCCESS")
    os.remove(marker)
    sim.trained_ivf_centroids(spark, sf, k=16)
    assert len(calls) == 2 and os.path.exists(marker)

    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    sim.trained_ivf_centroids(spark, sf, k=16)
    assert len(calls) == 3
    assert len(os.listdir(sim.IVF_INDEX_ROOT)) == 2


def test_trained_ivf_centroids_tag_carries_k_and_iters(spark, monkeypatch,
                                                       tmp_path):
    """k and iters are part of the cache tag: each distinct pair trains
    into a dir of its own."""
    import os

    sim, calls = _counting_trainer(monkeypatch, tmp_path)
    sf = "/root/testdata/sf0.001"
    a = sim.trained_ivf_centroids(spark, sf, k=8)
    b = sim.trained_ivf_centroids(spark, sf, k=16)
    c = sim.trained_ivf_centroids(spark, sf, k=16, iters=1)
    assert len(calls) == 3
    assert len(os.listdir(sim.IVF_INDEX_ROOT)) == 3
    assert a != b and b != c
