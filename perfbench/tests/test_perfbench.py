"""Self-tests of the benchmark (not of ringo_spark).

    python3 -m pytest perfbench/tests -q

The last two tests run the benchmark itself (about a minute each run).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import workloads as W  # noqa: E402

# Every metric the benchmark definition asks for, by the name it was
# given there.  Each must be declared in BENCHMARK.json, or stand for a
# registry query left out of the workload (workloads.DROPPED_QUERIES).
REQUESTED_METRICS = [
    "setup_s", "full_refresh_rows_per_s", "incr_refresh_p50_s",
    "incr_refresh_p75_s", "read_p50_s", "compact_s", "registry_pass_s",
    "peak_rss_mb", "failed_ops_ratio",
    "catalog.load_ms", "catalog.load_calls", "extractor.derive_ms",
    "populate.construct_ms", "populate.construct_jobs", "populate.plan_ms",
    "populate.execute_ms", "populate.stages", "populate.tasks",
    "engine.commit_ms", "engine.read_table_ms", "engine.written_mb",
    "engine.live_mb", "engine.live_files", "engine.write_amp",
    "arrowkern.kernel_plans", "arrowkern.execute_ms",
    "index_lifecycle.builds_timed", "index_lifecycle.hit_ratio",
    "spark.executor_cpu_ms", "spark.gc_ms", "spark.shuffle_write_mb",
    "spark.spill_mb",
]
REQUESTED_QUERIES = [
    "dedup_minhash_lsh", "dedup_embedding", "dedup_embedding_lsh",
    "dedup_clusters", "ann_cosine_topk", "ann_lsh_bucketed",
    "ann_ivf_kmeans", "ann_ivf_pq", "ann_ivf_recall_bounds",
    "ann_pq_recall_bounds", "ann_hard_negatives", "streaming_vector_ingest",
]
QUERY_METRICS = ["construct_ms", "construct_jobs", "plan_ms", "execute_ms",
                 "execute_jobs"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_same_seed_same_windows_and_query_order():
    assert W.cut_points(7) == W.cut_points(7)
    assert W.query_orders(7, 5) == W.query_orders(7, 5)


def test_other_seed_other_windows_and_query_order():
    assert W.cut_points(7) != W.cut_points(8)
    assert W.query_orders(7, 5) != W.query_orders(8, 5)
    cuts = W.cut_points(8)
    assert cuts == sorted(set(cuts)) and len(cuts) == W.N_WINDOWS + 1
    assert all(c.second == 0 and c.microsecond == 0 for c in cuts)


def test_seed_permutes_rows_but_not_content(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.generate(str(a), 1, 0.0005, 0.001)
    datagen.generate(str(b), 2, 0.0005, 0.001)
    for name in ("orders", "lineitem", "events", "documents", "embeddings"):
        ta, tb = (pq.read_table(d / f"{name}.parquet") for d in (a, b))
        assert ta.schema == tb.schema
        assert ta != tb                                 # row order differs
        key = [(ta.column_names[0], "ascending")]
        if name == "lineitem":
            key.append(("l_linenumber", "ascending"))
        assert ta.sort_by(key) == tb.sort_by(key)       # content does not


def test_metric_names_and_units():
    spec = _spec()
    names = [m["name"] for sec in ("end_to_end", "per_layer") for m in spec[sec]]
    assert len(names) == len(set(names))
    for sec in ("end_to_end", "per_layer"):
        for m in spec[sec]:
            assert re.fullmatch(r"[A-Za-z0-9_.-]+", m["name"]), m
            assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
            assert m["better"] in ("lower", "higher"), m
    listed = [w["name"] for w in spec["workloads"]]
    assert not set(listed) & set(W.UNLISTED_WORKLOADS)
    assert sorted(listed + list(W.UNLISTED_WORKLOADS)) == sorted(W.WORKLOADS)


def test_requested_metrics_emitted_or_dropped():
    spec = _spec()
    declared = {m["name"] for sec in ("end_to_end", "per_layer") for m in spec[sec]}
    assert [q for q in REQUESTED_QUERIES
            if q not in W.QUERIES and q not in W.DROPPED_QUERIES] == []
    assert all(W.DROPPED_QUERIES[q] for q in W.DROPPED_QUERIES)
    wanted = REQUESTED_METRICS + [f"registry.{q}.{m}" for q in W.QUERIES
                                  for m in QUERY_METRICS]
    assert [m for m in wanted if m not in declared] == []


def _run(workload: str, seed: int, trace: int = 0) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    detail, result = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
    return detail, result


@pytest.mark.parametrize("workload", ["star_incremental", "registry_vector"])
def test_digests_follow_content_not_seed(workload):
    d1, r1 = _run(workload, 11)
    d1b, _ = _run(workload, 11)
    d2, _ = _run(workload, 12)
    assert r1["correct"] and r1["failed"] == 0
    assert d1["digests"] == d1b["digests"] == d2["digests"]
    assert d1["schedule"] == d1b["schedule"] != d2["schedule"]
