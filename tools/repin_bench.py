"""One-pass re-pin of sub-0.5s extra_pins (VERDICT r14 item 7).

Usage: python tools/repin_bench.py DETAIL1.json [DETAIL2.json ...]

Sub-0.5s pins are dominated by scheduler/page-cache jitter — the
worst-ratio table has repeatedly flagged them as pin noise (r13
metrics_unpivot, r14 sample_cluster_split_indexed), each costing a
round of adjudication.  Policy (recorded in BENCH_BASELINE.protocol):
every extra_pin below 0.5s wall is re-pinned at the MEDIAN of the
round's gate-satisfied closing runs' min-of-2 values in ONE pass, so future
worst-ratio tables show queries, not pins.  The r01 baseline-comparable
set (BENCH_BASELINE.queries) is protocol-protected and never touched.

New r15 operators (no prior pin) are pinned at the LOOSER of the runs
(the r07 honest-pin rule).  Code-changed queries this round also
re-pin from the same runs.
"""

from __future__ import annotations

import json
import statistics
import sys

BASELINE = "BENCH_BASELINE.json"
SUB_HALF = 0.5
# lsh_width_staleness was one of the three r15 operators; its pin first
# landed via a manual BENCH_BASELINE edit — listed here so a rerun of
# this tool is self-contained (ADVICE r15)
NEW_PINS = ["ann_index_staleness", "tenant_rollup_skew_salted",
            "lsh_width_staleness",
            "events_skew_salted_join"]       # r16: salted-join twin
# r17: streaming_vector_ingest's admit path runs the exactly-once
# admission ledger (one fingerprint agg per trigger on the first
# lifecycle run) — and its r16 isin→anti-join plan change was omitted
# from this list at the time (ADVICE r16 item 4; recorded here, re-pin
# covers both changes).  The other r17 code-changed rows are
# adjudicated NO-re-pin: salt_expr is the byte-identical expression
# hoisted (skew rows), and the staleness reports' read-path change is
# error-path-only (valid-sidecar hot path untouched).
# r18: NO wall re-pins — no new queries, and the round's code changes
# are off every registered row's hot path (admit_commit's intent-less
# arm is never taken by a healthy run; archive_admissions only fires
# on force rebuilds, which no registered row performs; the engine
# batch-tag ledger is StreamingPipeline-only — no registered query
# constructs Engine; the r18 widening-rule fix changed no registered
# plan).
# pin_cpu was re-seeded wholesale from 5-run quiet minima this round
# (tools/minima_bench.py --reseed-pin-cpu, VERDICT r17 item 4) — this
# tool's incremental pin_cpu maintenance applies on top for future
# NEW_PINS/CODE_CHANGED entries.  streaming_vector_ingest (the r17
# entry) keeps its r17 re-pin.
# r18 CODE_CHANGED: the null-injected parity sweep's fixes touched
# these pinned queries' expressions (coalesce sentinels, explicit null
# ordering, struct-carried as-of rows, scorable-only quality gates,
# null-payload kernel skips) — value-identical on null-free data, but
# the plans changed, so they re-pin from the r18 closing runs.
# r19 CODE_CHANGED (ROUND19_NOTES.md): the minhash index build's
# deterministic file layout (|L2 tag — the indexed/deleted dedup rows
# rebuild and then serve few-file scans; warm CPU expected to DROP)
# and the ANN serve-path stored-artifact routing (_centroids reads;
# _WIDTH sidecar) — plans changed, so these re-pin from the r19
# closing runs.  pin_cpu was also re-seeded wholesale this round under
# the new WARM (min-per-run) protocol (minima_bench --reseed-pin-cpu).
CODE_CHANGED: list[str] = [
    "dedup_minhash_lsh_indexed", "dedup_minhash_lsh_capped_indexed",
    "dedup_clusters_indexed", "dedup_minhash_lsh_deleted",
    "dedup_clusters_deleted", "ann_lsh_indexed", "lsh_width_staleness",
    "ann_ivf_pq", "ann_pq_recall_bounds", "streaming_vector_ingest",
    "ann_ivf_indexed", "sample_cluster_split_indexed",
]
# The blanket sub-half median re-pass was the ONE-TIME r15 cleanup
# (VERDICT r15: "future re-pins should be rare and individually
# adjudicated") — it now requires --subhalf to run at all.
SUBHALF_ENABLED = "--subhalf" in sys.argv


def main(detail_files: list[str]) -> None:
    detail_files = [f for f in detail_files if f != "--subhalf"]
    details = [json.load(open(f)) for f in detail_files]
    runs = [d["queries"] for d in details]
    base = json.load(open(BASELINE))
    pins = base["extra_pins"]

    # pin_cpu maintenance (VERDICT r16 item 5 — the CPU-growth gate's
    # reference side): record each pin's executor CPU (ms, WARM: min
    # single-run stage attribution since r19, legacy both-runs total on
    # older records) at the MAX over the closing runs (the
    # looser-of-runs honest-pin rule).  First run seeds every query;
    # afterwards only NEW_PINS / CODE_CHANGED update — an unchanged
    # query's CPU pin must stay put so growth is visible against it.
    pin_cpu = base.setdefault("pin_cpu", {})
    cpu_by_query: dict[str, list[float]] = {}
    for d in details:
        for name, t in d.get("telemetry", {}).get("per_query", {}).items():
            per_run = [(a or {}).get("executor_cpu_ms")
                       for a in t.get("stages_per_run") or []]
            per_run = [c for c in per_run if c is not None]
            cpu = min(per_run) if per_run else \
                (t.get("stages_both_runs") or {}).get("executor_cpu_ms")
            if cpu is not None:
                cpu_by_query.setdefault(name, []).append(cpu)
    cpu_updates = {}
    for name, vals in sorted(cpu_by_query.items()):
        if name not in pin_cpu or name in NEW_PINS or name in CODE_CHANGED:
            new_cpu = round(max(vals), 1)
            if pin_cpu.get(name) != new_cpu:
                cpu_updates[name] = {"old": pin_cpu.get(name),
                                     "new": new_cpu}
                pin_cpu[name] = new_cpu

    repinned, skipped = {}, []
    for name, old in sorted(pins.items()):
        if name.startswith("_") or not isinstance(old, (int, float)):
            continue
        vals = [r[name] for r in runs if name in r]
        if not vals:
            continue
        # CODE_CHANGED wins over the sub-half median rule (ADVICE r15):
        # a changed code path re-pins at the LOOSER of the runs (the r07
        # honest-pin rule) regardless of how small its prior pin was —
        # the median branch would understate an honest regression.
        if name in CODE_CHANGED:
            new = round(max(vals), 3)      # honest-pin rule
            repinned[name] = {"old": old, "new": new, "runs": vals,
                              "reason": "code-changed"}
            pins[name] = new
        elif SUBHALF_ENABLED and old < SUB_HALF:
            new = round(statistics.median(vals), 3)
            if new != old:
                repinned[name] = {"old": old, "new": new, "runs": vals}
                pins[name] = new
        else:
            skipped.append(name)
    added = {}
    for name in NEW_PINS:
        vals = [r[name] for r in runs if name in r]
        if vals and name not in pins:
            pins[name] = round(max(vals), 3)   # honest-pin rule
            added[name] = {"pin": pins[name], "runs": vals}

    base["protocol"]["repin_tool_last_run"] = (
        f"repin_bench over {len(detail_files)} closing runs (subhalf "
        f"pass {'ON' if SUBHALF_ENABLED else 'OFF'} — the blanket pass "
        "was the one-time r15 cleanup; default is code-changed + new "
        "pins only). "
        f"Re-pinned: { {n: (v['old'], v['new']) for n, v in repinned.items()} }. "
        f"New r15 pins (looser-of-runs honest-pin rule): "
        f"{ {n: v['pin'] for n, v in added.items()} }.")
    json.dump(base, open(BASELINE, "w"), indent=1, sort_keys=True)
    print(json.dumps({"repinned": repinned, "added": added,
                      "unchanged_over_half": len(skipped),
                      "pin_cpu_updates": len(cpu_updates)}, indent=1))


if __name__ == "__main__":
    main(sys.argv[1:])
