"""Bitwise float parity of the Arrow/numpy brute-force kernel
(functions/arrowkern.py) against the JVM interpreted fold it replaces.

The r20 kernel claim is not "close": it is BIT-IDENTICAL doubles, so
the round-6 values the DuckDB oracle replays are unchanged.  These
tests compare raw IEEE-754 bit patterns (struct.pack), not tolerances:

* adversarial magnitudes (1e-7 .. 1e6 mixed per element, negatives,
  denormal-feeding products) — where pairwise/SIMD summation WOULD
  diverge from the sequential fold in the last ulp;
* the JVM null semantics the kernel must reproduce for the
  null-injected sweeps, on the corpus and the query side: NULL ids
  (pair dropped), NULL vectors, NULL elements and length mismatches
  (pair kept, NULL cosine);
* the conservative threshold pre-filter never loses a post-round hit.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from ringo_spark.functions.arrowkern import (
    AuditSetTooLarge, brute_cosine_pairs, collect_query_vectors,
)
from ringo_spark.operators.textfn import cosine_pre, vnorm


def _bits(x) -> bytes | None:
    return None if x is None else struct.pack("<d", x)


def _jvm_pairs(df, q_filter):
    q = df.where(q_filter).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        vnorm(F.col("embedding")).alias("__qn"))
    c = df.select(F.col("vec_id").alias("n_id"),
                  F.col("embedding").alias("n_emb"),
                  vnorm(F.col("embedding")).alias("__nn"))
    return (c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
            .select("q_id", "n_id",
                    cosine_pre(F.col("q_emb"), F.col("n_emb"),
                               F.col("__qn"), F.col("__nn"))
                    .alias("raw")))


def _adversarial_df(spark, n=300, dim=64, seed=11, with_nulls=True):
    rng = np.random.RandomState(seed)
    m32 = (rng.randn(n, dim)
           * rng.choice([1e-7, 1.0, 1e6], size=(n, dim))).astype(np.float32)
    rows = []
    for i in range(n):
        vec = [float(x) for x in m32[i]]
        if with_nulls:
            if i % 37 == 5:
                vec = None                       # NULL vector
            elif i % 41 == 7:
                vec = vec[:17]                   # length mismatch
            elif i % 43 == 9:
                vec = vec[:30] + [None] + vec[31:]   # NULL element
        rows.append((None if with_nulls and i % 53 == 13 else int(i), vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _assert_bitwise_equal(jvm_rows, kernel_rows):
    jm = {(r[0], r[1]): r[2] for r in jvm_rows}
    km = {(r[0], r[1]): r[2] for r in kernel_rows}
    assert set(jm) == set(km), (
        f"pair sets differ: jvm-only={sorted(set(jm) - set(km))[:5]} "
        f"kernel-only={sorted(set(km) - set(jm))[:5]}")
    for k, v in jm.items():
        w = km[k]
        if v is None or w is None:
            assert v is None and w is None, (k, v, w)
        else:
            # NaN == NaN at the bit level is the right comparison here
            assert _bits(v) == _bits(w), (k, repr(v), repr(w))


def test_kernel_bitwise_parity_adversarial(spark):
    df = _adversarial_df(spark)
    q_rows = collect_query_vectors(
        df.where(F.col("vec_id") < 7), "vec_id", "embedding")
    _assert_bitwise_equal(
        _jvm_pairs(df, F.col("vec_id") < 7).collect(),
        brute_cosine_pairs(df, "vec_id", "embedding", q_rows).collect())


def test_kernel_bitwise_parity_null_query_side(spark):
    """Query-side nulls follow the JVM lane: a NULL-id query yields no
    pairs (q_id != n_id is null-rejecting) and a query with a NULL
    element scores a NULL cosine against every corpus row."""
    df = _adversarial_df(spark)
    # row 13 has a NULL id, row 9 a NULL element (see _adversarial_df)
    q_filter = F.col("vec_id").isNull() | F.col("vec_id").isin(0, 1, 9)
    q_rows = collect_query_vectors(df.where(q_filter), "vec_id", "embedding")
    assert any(q[0] is None for q in q_rows)
    assert any(q[1] is not None and None in q[1] for q in q_rows)
    kernel = brute_cosine_pairs(df, "vec_id", "embedding", q_rows).collect()
    _assert_bitwise_equal(_jvm_pairs(df, q_filter).collect(), kernel)
    assert {r.q_id for r in kernel} == {0, 1, 9}
    assert all(r["__cos_raw"] is None for r in kernel if r.q_id == 9)


def test_kernel_bitwise_parity_real_corpus(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q_rows = collect_query_vectors(
        df.where(F.col("vec_id") < 20), "vec_id", "embedding")
    _assert_bitwise_equal(
        _jvm_pairs(df, F.col("vec_id") < 20).collect(),
        brute_cosine_pairs(df, "vec_id", "embedding", q_rows).collect())


def test_kernel_prefilter_loses_no_post_round_hit(spark):
    """min_raw_score is a conservative margin BELOW the caller's
    post-round threshold: every pair the JVM lane keeps after
    round(., 6) >= thr must survive the kernel pre-filter."""
    df = _adversarial_df(spark, n=250, seed=23, with_nulls=False)
    thr = 0.4
    jvm = (_jvm_pairs(df, F.col("vec_id") < 250)
           .select("q_id", "n_id", F.round(F.col("raw"), 6).alias("c"))
           .where((F.col("c") >= thr) & (F.col("q_id") < F.col("n_id")))
           .collect())
    q_rows = collect_query_vectors(df, "vec_id", "embedding", max_rows=250)
    ker = (brute_cosine_pairs(df, "vec_id", "embedding", q_rows,
                              min_raw_score=thr - 1e-5, lt_only=True)
           .select("q_id", "n_id",
                   F.round(F.col("__cos_raw"), 6).alias("c"))
           .where(F.col("c") >= thr)
           .collect())
    assert ({(r.q_id, r.n_id, _bits(r.c)) for r in jvm}
            == {(r.q_id, r.n_id, _bits(r.c)) for r in ker})
    assert ker, "threshold chosen to be non-vacuous on this fixture"


def test_kernel_rejects_unbounded_query_sets(spark):
    df = spark.range(5000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.5)] * 4).alias("embedding"))
    with pytest.raises(AuditSetTooLarge, match="bounded audit"):
        collect_query_vectors(df, "vec_id", "embedding", max_rows=100)


def test_kernel_lanes_plan_shape(spark):
    """The converted audit lanes run ONE PythonMapInArrow over a
    pruned (id, vector) projection — the scan never ships unused
    columns through the Python boundary (guide §4) — and the round-6
    stays a JVM expression above it."""
    from ringo_spark.operators.similarity import ann_cosine_topk_df

    df = ann_cosine_topk_df(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "round(__cos_raw" in opt, opt
