"""Benchmark entry point.

    python3 perfbench/run.py --workload star_full --seed 1 --seconds 5 --trace 0

Runs one workload (``perfbench/workloads.py``) from a checkout root at
``local[N]``, N = min(the workload's ``cores``, usable cores), and
prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` reruns the
same workload with every other round traced and reports the per-layer
metrics.  The line before it is a detail record: provenance, set-up
parts, every operation wall, output digests and failures.

Everything the run writes -- generated sources, engine storage, Spark
scratch, spans -- lives in a temp dir under ``.perfbench_tmp/`` that is
removed at exit; persisted indexes and sinks the registry queries build
land in the library's own gitignored roots and are removed too.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TMP_ROOT = os.path.join(ROOT, ".perfbench_tmp")
INDEX_ROOTS = [".ivf_index", ".lsh_index", ".minhash_index", ".stream_sinks",
               ".bpe_tokenizer", ".scale_probe"]
HEAP = "3g"


class RssSampler(threading.Thread):
    """Peak resident memory of this process and every descendant (the
    JVM and the Python workers), sampled from /proc every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        parent, rss = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                parent[int(d)] = int(fields[1])
                rss[int(d)] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE") // 1024
            except (OSError, IndexError, ValueError):
                continue
        total, todo = 0, [root]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo += [c for c, pp in parent.items() if pp == p]
        return total

    def run(self):
        while not self._halt.wait(0.2):
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(os.getpid()))

    def stop(self):
        self._halt.set()
        self.join(timeout=10)


def _git(*args) -> str | None:
    try:
        r = subprocess.run(["git", *args], cwd=ROOT, capture_output=True,
                           text=True, timeout=30)
    except (OSError, subprocess.SubprocessError):
        return None
    return r.stdout if r.returncode == 0 else None


def _load1() -> float:
    return os.getloadavg()[0]


def _index_entries() -> set[str]:
    out = set()
    for r in INDEX_ROOTS:
        d = os.path.join(ROOT, r)
        if os.path.isdir(d):
            out |= {os.path.join(d, n) for n in os.listdir(d)}
    return out


@contextlib.contextmanager
def scratch(prefix: str):
    """A fresh temp dir under ``.perfbench_tmp/`` with every scratch
    location pointed at it; on exit the dir is removed, and so is every
    entry the run added to the library's persisted-index roots."""
    before = _index_entries()
    os.makedirs(TMP_ROOT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=prefix, dir=TMP_ROOT)
    _configure_env(tmp)
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        for path in _index_entries() - before:
            shutil.rmtree(path, ignore_errors=True)
        try:
            os.rmdir(TMP_ROOT)
        except OSError:
            pass


def _configure_env(tmp: str) -> None:
    """Point every scratch location Spark and Python use at ``tmp``."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    confs = {
        "spark.driver.memory": HEAP,
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _install_tracer(tracer) -> None:
    """Wrap the layer boundaries of ringo_spark (see README.md)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from ringo_spark import catalog, extractor, index_lifecycle, validator
    from ringo_spark import engine as eng
    from ringo_spark.generator import sqlgen
    from spans import tree_bytes

    for f in (catalog.load_catalog, catalog.read_parquet_stable,
              catalog.cast_to_declared):
        tracer.wrap_function(f, f"catalog.{f.__name__}")
    for mod, prefix in ((extractor, "extractor"), (validator, "validator"),
                        (sqlgen, "sqlgen")):
        for name, f in list(vars(mod).items()):
            if callable(f) and getattr(f, "__module__", None) == mod.__name__ \
                    and not name.startswith("_") and not isinstance(f, type):
                tracer.wrap_function(f, f"extractor.{prefix}.{name}")
    # populate entry points where the engine references them
    tracer.wrap_attr(eng, "fact_population_df", "populate.construct", group=True)
    tracer.wrap_attr(eng, "dimension_population_df", "populate.construct",
                     group=True)
    for m in ("run", "run_fact"):
        tracer.wrap_attr(eng.Engine, m, f"engine.{m}")
    tracer.wrap_attr(eng.Engine, "read_table", "engine.read_table")

    def probed(rec, hit):
        rec["hit"] = bool(hit)
    tracer.wrap_attr(index_lifecycle, "serve_cached", "index_lifecycle.probe",
                     after=probed)
    tracer.wrap_attr(index_lifecycle, "finish_build", "index_lifecycle.build")

    # the engine's write actions: plan forced first, then the write
    # itself; bytes each write leaves are counted on untraced rounds too,
    # so space metrics cover whole storage lifetimes
    orig_parquet = DataFrameWriter.parquet

    def parquet(writer, path, *args, **kwargs):
        if not tracer.active or not tracer.inside("engine."):
            out = orig_parquet(writer, path, *args, **kwargs)
        else:
            with tracer.span("populate.plan", group=True):
                writer._df._jdf.queryExecution().executedPlan()
            with tracer.span("populate.execute", group=True):
                out = orig_parquet(writer, path, *args, **kwargs)
        tracer.written[path] = tracer.written.get(path, 0) + tree_bytes(path)[0]
        return out
    DataFrameWriter.parquet = parquet
    tracer._patches.append((DataFrameWriter, "parquet", orig_parquet))


def _layer_metrics(ctx, wl_summary: dict, stage_totals: dict) -> dict:
    """Per-layer metrics of a traced run, per traced round."""
    from workloads import QUERIES

    tr = ctx.tracer
    spans = tr.spans
    self_ms = tr.self_ms(spans)
    by_id = {s["id"]: s for s in spans}
    n = max(sum(1 for o in ctx.ops if o["kind"] == "round" and o["traced"]), 1)

    def pick(pred):
        return [s for s in spans if pred(s["name"])]

    def ms(ss):
        return sum(self_ms[s["id"]] for s in ss) / n

    def total(ss, key):
        return sum(s.get(key, 0) for s in ss) / n

    m: dict[str, float] = {}
    cat = pick(lambda x: x.startswith("catalog."))
    m["catalog.load_ms"] = ms(cat)
    m["catalog.load_calls"] = sum(
        1 for s in cat if not by_id.get(s["parent"], {"name": ""})["name"]
        .startswith("catalog.")) / n
    m["extractor.derive_ms"] = ms(pick(lambda x: x.startswith("extractor.")))
    con = pick(lambda x: x == "populate.construct")
    plan = pick(lambda x: x == "populate.plan")
    exe = pick(lambda x: x == "populate.execute")
    m["populate.construct_ms"] = ms(con)
    m["populate.construct_jobs"] = total(con, "jobs")
    m["populate.plan_ms"] = ms(plan)
    m["populate.execute_ms"] = ms(exe)
    m["populate.stages"] = total(con + plan + exe, "stages")
    m["populate.tasks"] = total(con + plan + exe, "tasks")
    m["engine.commit_ms"] = ms(pick(lambda x: x in ("engine.run",
                                                    "engine.run_fact")))
    m["engine.read_table_ms"] = ms(pick(lambda x: x == "engine.read_table"))
    sp = ctx.space
    stores = max(sp["stores"], 1)
    m["engine.written_mb"] = sp["written"] / 2**20 / stores
    m["engine.live_mb"] = sp["live"] / 2**20 / stores
    m["engine.live_files"] = sp["files"] / stores
    m["engine.write_amp"] = sp["written"] / sp["live"] if sp["live"] else 0.0
    for q in QUERIES:
        for part in ("construct", "plan", "execute"):
            ss = pick(lambda x, q=q, p=part: x == f"registry.{q}.{p}")
            m[f"registry.{q}.{part}_ms"] = ms(ss)
            if part != "plan":
                m[f"registry.{q}.{part}_jobs"] = total(ss, "jobs")
    m["arrowkern.kernel_plans"] = stage_totals.get("kernel_plans", 0.0) / n
    m["arrowkern.execute_ms"] = stage_totals.get("kernel_execute_ms", 0.0) / n
    builds = pick(lambda x: x == "index_lifecycle.build")
    probes = pick(lambda x: x == "index_lifecycle.probe")
    m["index_lifecycle.builds_timed"] = float(len(builds))
    m["index_lifecycle.hit_ratio"] = (
        sum(s.get("hit", False) for s in probes) / len(probes) if probes else 0.0)
    for k in ("executor_cpu_ms", "gc_ms", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{k}"] = stage_totals.get(k, 0.0) / n
    traced = [o["wall"] for o in ctx.ops if o["traced"] and o["kind"] == "round"]
    plain = [o["wall"] for o in ctx.ops if not o["traced"] and o["kind"] == "round"]
    m["trace.overhead_ratio"] = (statistics.median(traced) / statistics.median(plain)
                                 if traced and plain else 0.0)
    for k in ("full_refresh_rows_per_s", "incr_refresh_p50_s",
              "incr_refresh_p75_s", "read_p50_s", "compact_s",
              "registry_pass_s"):
        m[k] = float(wl_summary.get(k, 0.0))
    return m


def _run(args, tmp: str) -> tuple[dict, dict]:
    t_start = time.perf_counter()
    from ringo_spark.catalog import get_spark

    import workloads as W

    cores = min(W.WORKLOADS[args.workload].cores, len(os.sched_getaffinity(0)))
    spark = get_spark("perfbench", cores)
    spark.sparkContext.setLogLevel("ERROR")
    detail: dict = {"provenance": {
        "nproc": os.cpu_count(), "usable_cores": len(os.sched_getaffinity(0)),
        "master": f"local[{cores}]", "seed": args.seed,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }}
    try:
        spark.range(1_000_000).selectExpr("sum(id)").collect()   # JVM warm-up
        tracer = stages = None
        if args.trace:
            from spans import StageMetrics, Tracer

            tracer = Tracer(spark)
            stages = StageMetrics(spark)
            _install_tracer(tracer)
        ctx = W.Context(spark, tmp, args.seed, tracer)
        wl = W.WORKLOADS[args.workload](ctx)
        session_s = time.perf_counter() - t_start
        check0 = ctx.check_s
        t0 = time.perf_counter()
        wl.setup()
        setup_s = session_s + time.perf_counter() - t0 - (ctx.check_s - check0)
        ctx.setup_parts["session_s"] = session_s

        stage_totals: dict[str, float] = {}
        rss = RssSampler() if tracer is not None else None
        if rss is not None:
            rss.start()
        t0 = time.perf_counter()
        i = 0
        try:
            while i < wl.min_rounds or (time.perf_counter() - t0 < args.seconds
                                        and i < wl.max_rounds):
                traced = tracer is not None and i % 2 == 0
                snap = stages.snapshot() if traced else None
                r0 = time.perf_counter()
                c0 = ctx.check_s
                wl.round(i, traced)
                ctx.ops.append({"kind": "round", "traced": traced, "ok": True,
                                "wall": time.perf_counter() - r0
                                - (ctx.check_s - c0), "meta": True})
                if traced:
                    for k, v in stages.diff(snap).items():
                        stage_totals[k] = stage_totals.get(k, 0.0) + v
                i += 1
            wl.finish()
        except W.OpFailed:
            pass
        finally:
            if rss is not None:
                rss.stop()
        measured_s = time.perf_counter() - t0

        summary = wl.summary()
        real = [o for o in ctx.ops if not o.get("meta")]
        failed = sum(1 for o in real if not o["ok"])
        e2e = {"op_best_s": summary["best"], "setup_s": setup_s}
        layers = None
        if tracer is not None:
            layers = _layer_metrics(ctx, summary, stage_totals)
            layers["peak_rss_mb"] = rss.peak_kb / 1024
            layers["failed_ops_ratio"] = failed / max(len(real), 1)
            if args.spans_out:
                tracer.dump(args.spans_out)
            tracer.restore()
        detail.update({
            "workload": args.workload, "setup_s": setup_s,
            "setup_parts": ctx.setup_parts, "measured_s": measured_s,
            "check_s": ctx.check_s, "rounds": i,
            "ops": [(o["kind"], round(o["wall"], 4), o["traced"], o["ok"])
                    for o in ctx.ops],
            "summary": summary,
            "failures": ctx.failures,
        })
        detail["digests"] = wl.digests
        detail["schedule"] = wl.schedule
        result = {"correct": not ctx.failures, "attempted": len(real),
                  "failed": failed, "e2e": e2e, "layers": layers}
        return result, detail
    finally:
        stop_session(spark)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def _metric_block(spec: list[dict], values: dict) -> dict:
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans-out", default=None,
                   help="with --trace 1: write the spans here as JSON lines")
    args = p.parse_args(argv)

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(ROOT, "ringo_spark"))
            and os.path.isfile(os.path.join(ROOT, "verify_local.py"))
            and os.path.isfile(bench_json)):
        print("perfbench: run from a full checkout (ringo_spark/, "
              "verify_local.py and BENCHMARK.json next to perfbench/)",
              file=sys.stderr)
        return 2
    with open(bench_json) as fh:
        spec = json.load(fh)
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    git_before = _git("status", "--porcelain")
    sha = _git("rev-parse", "HEAD")
    load_before = _load1()
    with scratch("run-") as tmp:
        result, detail = _run(args, tmp)
    git_after = _git("status", "--porcelain")
    detail["provenance"].update({
        "load1_before": load_before, "load1_after": _load1(),
        "git_sha": sha.strip() if sha else None,
        "git_dirty": bool(git_before.strip()) if git_before is not None else None,
    })
    if git_before != git_after:
        result["correct"] = False
        detail["failures"].append("the run changed `git status --porcelain`")

    values = result["layers"] if args.trace else result["e2e"]
    section = spec["per_layer"] if args.trace else spec["end_to_end"]
    out = {"correct": result["correct"], "attempted": result["attempted"],
           "failed": result["failed"],
           "metrics": _metric_block(section, values)}
    print(json.dumps(detail, default=str))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
