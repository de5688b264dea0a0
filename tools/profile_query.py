"""Per-query optimization profiler (r19): isolate ONE query the way
bench.py does (page-cache warm, JVM warm, noop sink, min-of-N) and print
a PER-STAGE breakdown — stage name, task count, wall span, executor
run/CPU, shuffle bytes — so the dominant stage of a slow query is
identified by measurement instead of guesswork (guide §1).

Also dumps ``.explain("formatted")`` per query when ``--plans DIR`` is
given (the before/after evidence files under plans/r19/).

Usage:
    python tools/profile_query.py [--runs 2] [--plans plans/r19 --tag before]
        query [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _stage_snapshot  # noqa: E402  (the one stage scraper)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _fmt_stage(s: dict) -> str:
    cpu = s.get("executorCpuTime", 0) / 1e6
    run = s.get("executorRunTime", 0)
    name = (s.get("name") or "")[:70]
    sub = (s.get("submissionTime") or "")[-13:-1]
    return (f"  st{s['stageId']:>4} tk{s.get('numTasks', 0):>4} "
            f"run{run:>8.0f}ms cpu{cpu:>8.0f}ms "
            f"in{s.get('inputBytes', 0)/2**20:>7.1f}MB "
            f"sr{s.get('shuffleReadBytes', 0)/2**20:>6.1f}MB "
            f"sw{s.get('shuffleWriteBytes', 0)/2**20:>6.1f}MB "
            f"@{sub}  {name}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plans", default=None,
                    help="directory to write <query>_<tag>.txt explain dumps")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf-dir", default=SF_DIR)
    args = ap.parse_args()

    from ringo_spark.catalog import get_spark

    import __spark_entry__ as entrymod

    # bench parity: warm page cache outside the timed region
    for root, _d, files in os.walk(args.sf_dir):
        for f in files:
            try:
                with open(os.path.join(root, f), "rb") as fh:
                    while fh.read(1 << 22):
                        pass
            except OSError:
                pass
    spark = get_spark("ringo-profile", CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{args.sf_dir}/events.parquet").limit(1).collect()

    for name in args.queries:
        if name not in qs:
            print(f"!! {name}: not in queries()")
            continue
        spark.sparkContext.setJobDescription(f"profile:{name}")
        walls = []
        snaps = [_stage_snapshot(spark)]
        for i in range(args.runs):
            t0 = time.time()
            df = qs[name](spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 3))
            snaps.append(_stage_snapshot(spark))
        print(f"\n== {name}: walls {walls} (min {min(walls)})")
        for i in range(args.runs):
            new = [s for k, s in snaps[i + 1].items() if k not in snaps[i]]
            new.sort(key=lambda s: s.get("submissionTime") or "")
            cpu = sum(s.get("executorCpuTime", 0) for s in new) / 1e6
            run = sum(s.get("executorRunTime", 0) for s in new)
            print(f" run {i + 1}: wall {walls[i]}s  stages {len(new)} "
                  f"tasks {sum(s.get('numTasks', 0) for s in new)} "
                  f"run {run:.0f}ms cpu {cpu:.0f}ms")
            for s in new:
                print(_fmt_stage(s))
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            try:
                df = qs[name](spark, args.sf_dir)
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted"))
                p = os.path.join(args.plans, f"{name}_{args.tag}.txt")
                with open(p, "w") as fh:
                    fh.write(plan)
                print(f" plan -> {p}")
            except Exception as e:  # eager builders may refuse plan-only
                print(f" plan dump failed: {e}")
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
