"""The three benchmark workloads.

Each workload prepares its state in ``setup`` (timed as set-up), then the
runner calls ``round`` until the run's seconds are spent and at least
``min_rounds`` ran, then ``finish``:

* ``star_full``        -- a round is one full refresh of the orders and
  events stars into a fresh storage dir;
* ``star_incremental`` -- a round is one incremental window followed by a
  reader rollup; ``finish`` catches up to the end of the data and
  compacts the fact table;
* ``registry_vector``  -- a round is one pass over ``QUERIES`` in a
  seeded order.

Every operation's output is checked, outside the timed operations.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time
from urllib.parse import urlparse

import numpy as np

import datagen
from spans import tree_bytes

STAR_SCALE = 0.02            # 120k lineitem, 30k orders, 20k events
VECTOR_SCALE = 0.01          # 500 documents, 200 embeddings

# Registry queries timed by ``registry_vector``: the two construction-heavy
# builders (minhash LSH, IVF k-means), the two Arrow-kernel cosine lanes,
# and the IVF query over a persisted index, which is the one that probes
# index_lifecycle's build-once gate on every warm call.
QUERIES = [
    "dedup_minhash_lsh", "dedup_embedding", "ann_cosine_topk",
    "ann_ivf_kmeans", "ann_ivf_indexed",
]
# Dedup/ANN rows left out of the pass.  Each run of the benchmark must fit
# a fixed time budget beside the star workloads; with these the cold
# builds and warm passes would more than double a registry_vector run.
_BUDGET = "left out to keep one run within the benchmark's time budget"
DROPPED_QUERIES = {
    "streaming_vector_ingest": _BUDGET + "; its cold sink build alone takes "
                               "~16 s of set-up, 0.6 s warm",
    "dedup_embedding_lsh": _BUDGET + "; same LSH lane as ann_lsh_bucketed",
    "dedup_clusters": _BUDGET + "; its DuckDB oracle alone takes ~30 s",
    "ann_lsh_bucketed": _BUDGET,
    "ann_ivf_pq": _BUDGET + "; PQ codebook build adds ~5 s of set-up",
    "ann_ivf_recall_bounds": _BUDGET + "; ~4 s warm per pass",
    "ann_pq_recall_bounds": _BUDGET + "; ~4 s warm per pass",
    "ann_hard_negatives": _BUDGET + "; same brute-force audit as ann_cosine_topk",
}

N_WINDOWS = 40               # seeded cut points across the events span
INITIAL_DAYS = 8             # first slice, populated in set-up

# testbed DuckDB oracles of every table a star_full refresh publishes
STAR_ORACLES = {
    "dim_order_status": "DIM_ORDER_STATUS_SQL",
    "dim_order_priority": "DIM_ORDER_PRIORITY_SQL",
    "dim_line_status": "DIM_LINE_STATUS_SQL",
    "dim_event_type": "DIM_EVENT_TYPE_SQL",
    "fact_orders_by_day": "FACT_ORDERS_BY_DAY_SQL",
    "fact_lineitem_by_day": "FACT_LINEITEM_BY_DAY_SQL",
    "fact_events_by_minute": "FACT_EVENTS_BY_MINUTE_SQL",
}


class OpFailed(Exception):
    """An operation raised; the run stops its timed loop."""


class Context:
    """Per-run state shared by the workload and the runner: the session,
    the temp dir, the tracer, and the operation/failure ledger."""

    def __init__(self, spark, tmp: str, seed: int, tracer=None):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.tracer = tracer
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.setup_parts: dict[str, float] = {}
        self.check_s = 0.0
        self.space = {"written": 0, "live": 0, "files": 0, "stores": 0}

    def op(self, kind: str, fn, traced: bool = False):
        """Run one timed operation; returns (result, op record)."""
        rec = {"kind": kind, "traced": traced, "ok": True}
        tr = self.tracer if traced else None
        if tr is not None:
            tr.active = True
        t0 = time.perf_counter()
        try:
            if tr is not None:
                with tr.span(f"op.{kind}"):
                    out = fn()
            else:
                out = fn()
        except Exception as e:
            rec["ok"] = False
            self.failures.append(f"{kind}: {type(e).__name__}: {e}")
            raise OpFailed(str(e)) from e
        finally:
            rec["wall"] = time.perf_counter() - t0
            if tr is not None:
                tr.active = False
            self.ops.append(rec)
        return out, rec

    def check(self, rec: dict | None, ok: bool, msg: str) -> None:
        if not ok:
            self.failures.append(msg)
            if rec is not None:
                rec["ok"] = False

    def timed_check(self, fn):
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.check_s += time.perf_counter() - t0

    def walls(self, kind: str) -> list[float]:
        """Walls of the untraced operations of one kind: the figures a
        traced run reports beside its layers carry no tracing cost."""
        return [o["wall"] for o in self.ops
                if o["kind"] == kind and not o["traced"]]

    def retire(self, storage: str) -> None:
        """Account a finished engine storage dir's space (traced runs,
        whose tracer counts the bytes each write left), then drop it."""
        if self.tracer is not None:
            size, files = tree_bytes(storage)
            self.space["live"] += size
            self.space["files"] += files
            self.space["stores"] += 1
            self.space["written"] += self.tracer.written_under(storage)
        shutil.rmtree(storage, ignore_errors=True)


def digest(df) -> str:
    """Order-insensitive content digest: row count and the decimal sum of
    a 64-bit hash over every column (columns in name order)."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in sorted(df.columns)]
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")).collect()[0]
    return f"{row['n']}:{row['h']}"


def median(v: list[float]) -> float:
    return statistics.median(v) if v else 0.0


def best(v: list[float]) -> float:
    """The fastest of an operation's timed runs.  Load from other tenants
    of the host only adds time, and it comes in bursts of seconds, so the
    fastest run is the steadiest estimate of the program's own cost."""
    return min(v) if v else 0.0


def p75(v: list[float]) -> float:
    if len(v) < 2:
        return v[0] if v else 0.0
    return statistics.quantiles(v, n=4, method="inclusive")[2]


# --- star_full ---------------------------------------------------------------


class StarFull:
    """Repeated full refreshes of ``ORDERS_ENV`` and ``EVENTS_ENV`` (rename
    commit, exact count-distinct), each into a fresh storage dir.  Every
    published table of every refresh is compared cell-exactly with its
    testbed oracle, in DuckDB over the published parquet files."""

    name = "star_full"
    cores = 2         # faster and steadier than 4 at this size (README.md)
    min_rounds = 4
    max_rounds = 50

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.src = os.path.join(ctx.tmp, "src")
        self.rows = 0
        self.digests: dict[str, str] = {}
        self.schedule: list = []          # only the row order is seeded

    def setup(self) -> None:
        t0 = time.perf_counter()
        counts = datagen.generate(self.src, self.ctx.seed, STAR_SCALE, 0.001)
        self.rows = sum(counts[t] for t in ("orders", "lineitem", "events"))
        self.ctx.setup_parts["datagen_s"] = time.perf_counter() - t0
        self.con = self.ctx.timed_check(self._oracles)
        # an untimed refresh pays the cold start; the first timed ones still
        # run slower, which the best-of-run figure absorbs
        t0 = time.perf_counter()
        storage = os.path.join(self.ctx.tmp, "warmup")
        warm = self._refresh(storage)
        self.ctx.setup_parts["warmup_refresh_s"] = time.perf_counter() - t0
        self.ctx.timed_check(lambda: self._check(warm, None, "warm-up"))
        shutil.rmtree(storage, ignore_errors=True)

    def _refresh(self, storage: str) -> list:
        from ringo_spark import testbed as tb
        from ringo_spark.engine import Engine
        from ringo_spark.model import PopulationMode

        engines = []
        for env, sub in ((tb.ORDERS_ENV, "orders"), (tb.EVENTS_ENV, "events")):
            e = Engine(self.ctx.spark, env, os.path.join(storage, sub),
                       count_distinct_mode="exact", commit_mode="rename")
            e.load_sources(self.src)
            e.run(PopulationMode.FULL, time_upper=tb.T_FAR)
            engines.append(e)
        return engines

    def _oracles(self):
        """A DuckDB connection over the sources holding every oracle
        result as table ``oracle_<name>``."""
        from ringo_spark import testbed as tb
        import verify_local

        con = verify_local.duck_connection(self.src)
        for name, sql in STAR_ORACLES.items():
            con.execute(f"CREATE TABLE oracle_{name} AS {getattr(tb, sql)}")
        return con

    def _check(self, engines, rec, label: str) -> None:
        from pyspark.sql.types import DecimalType

        tables = {name: e.read_table(name)
                  for e in engines for name in e.published_tables()}
        self.ctx.check(rec, set(tables) == set(STAR_ORACLES),
                       f"star_full {label}: published {sorted(tables)}")
        for name in set(tables) & set(STAR_ORACLES):
            df = tables[name]
            dec = {f.name for f in df.schema.fields
                   if isinstance(f.dataType, DecimalType)}
            cols = [d[0] for d in self.con.execute(
                f"SELECT * FROM oracle_{name} LIMIT 0").description]
            # decimal measures are presented as doubles, as in testbed
            sel = ", ".join(f"CAST({c} AS DOUBLE) AS {c}" if c in dec else c
                            for c in cols)
            files = sorted(urlparse(u).path for u in df.inputFiles())
            pub = f"SELECT {sel} FROM read_parquet({files!r})"
            ora = f"SELECT * FROM oracle_{name}"
            diff = self.con.execute(
                f"SELECT count(*) FROM (({ora} EXCEPT ALL {pub}) "
                f"UNION ALL ({pub} EXCEPT ALL {ora}))").fetchone()[0]
            self.ctx.check(rec, diff == 0,
                           f"star_full {label}: {name} differs from its "
                           f"oracle in {diff} rows")
            n, h = self.con.execute(
                f"SELECT count(*), sum(hash({', '.join(sorted(cols))})::HUGEINT) "
                f"FROM ({pub})").fetchone()
            self.digests[name] = f"{n}:{h}"

    def round(self, i: int, traced: bool) -> None:
        storage = os.path.join(self.ctx.tmp, f"refresh{i}")
        engines, rec = self.ctx.op("full_refresh",
                                   lambda: self._refresh(storage), traced)
        self.ctx.timed_check(lambda: self._check(engines, rec, f"refresh {i}"))
        self.ctx.retire(storage)

    def finish(self) -> None:
        self.con.close()

    def summary(self) -> dict:
        walls = self.ctx.walls("full_refresh")
        return {"best": best(walls),
                "full_refresh_rows_per_s": self.rows / median(walls)}


# --- star_incremental ----------------------------------------------------------


class StarIncremental:
    """Manifest-mode incremental refreshes of ``EVENTS_ENV`` (sketch
    count-distinct) at seeded cut points, each followed by a reader
    rollup checked against the source; ``finish`` catches up to the end of
    the data, compacts the fact table and checks it against a full
    refresh over the same horizon.

    Compaction runs once, after the last window: the engine refuses an
    append after a compaction (the compacted sums are decimal(38,2), a
    fresh append's decimal(28,2)), so windows cannot follow it."""

    name = "star_incremental"
    cores = 2
    min_rounds = 8
    max_rounds = N_WINDOWS - 1       # the first window warms up in set-up

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.src = os.path.join(ctx.tmp, "src")
        self.cuts = cut_points(ctx.seed)
        self.upper = self.cuts[0]
        self.digests: dict[str, str] = {}
        self.schedule: list[str] = [self.upper.isoformat()]

    def setup(self) -> None:
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        datagen.generate(self.src, self.ctx.seed, STAR_SCALE, 0.001)
        ev = pq.read_table(os.path.join(self.src, "events.parquet"),
                           columns=["ts", "event_type", "value"])
        self.ts = ev["ts"].to_numpy().astype("datetime64[us]")
        types = ev["event_type"].to_numpy(zero_copy_only=False)
        # dimension ids follow the oracle's row_number over event_type
        self.type_id = np.searchsorted(np.array(sorted(set(types))), types) + 1
        self.cents = np.round(ev["value"].to_numpy() * 100).astype(np.int64)
        self.ctx.setup_parts["datagen_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.storage = os.path.join(self.ctx.tmp, "live")
        self.engine = self._full(self.storage, self.upper)
        self.ctx.setup_parts["initial_refresh_s"] = time.perf_counter() - t0
        # the first window and reader pay the code generation of the
        # incremental path; they run in set-up, checked but untimed
        t0 = time.perf_counter()
        self._window(self.cuts[1])
        got = self._rollup()
        self.ctx.setup_parts["warmup_window_s"] = time.perf_counter() - t0
        self.ctx.timed_check(lambda: self._check_rollup(None, got))

    def _full(self, storage: str, upper: dt.datetime):
        from ringo_spark import testbed as tb
        from ringo_spark.engine import Engine
        from ringo_spark.model import PopulationMode

        e = Engine(self.ctx.spark, tb.EVENTS_ENV, storage,
                   commit_mode="manifest")
        e.load_sources(self.src)
        e.run(PopulationMode.FULL, time_upper=upper)
        return e

    def _rollup(self):
        from pyspark.sql import functions as F

        fact = self.engine.read_table("fact_events_by_minute")
        return {r["event_type_id"]: (r["n"], r["v"]) for r in
                fact.groupBy("event_type_id")
                .agg(F.sum("event_count").alias("n"),
                     F.sum("value_sum").alias("v")).collect()}

    def _expected_rollup(self, upper: dt.datetime) -> dict:
        m = self.ts < np.datetime64(upper, "us")
        n = np.bincount(self.type_id[m])
        # float weights are exact here: every partial sum stays below 2**53
        v = np.bincount(self.type_id[m], weights=self.cents[m])
        return {i: (int(n[i]), int(v[i])) for i in range(len(n)) if n[i]}

    def _window(self, upper: dt.datetime) -> None:
        from ringo_spark.model import PopulationMode

        self.upper = upper
        self.schedule.append(upper.isoformat())
        self.engine.run(PopulationMode.INCREMENTAL, time_upper=upper)

    def _check_rollup(self, rec, got: dict) -> None:
        got = {k: (int(n), int(round(float(v) * 100))) for k, (n, v) in got.items()}
        self.ctx.check(rec, got == self._expected_rollup(self.upper),
                       f"star_incremental: rollup at {self.upper} differs "
                       f"from the source")

    def round(self, i: int, traced: bool) -> None:
        self.ctx.op("incremental_window",
                    lambda: self._window(self.cuts[2 + i]), traced)
        got, rec = self.ctx.op("read_rollup", self._rollup, traced)
        self.ctx.timed_check(lambda: self._check_rollup(rec, got))

    def finish(self) -> None:
        """A catch-up window to the end of the data, so the compacted
        table (and its digest) is the same for every seed; then the
        compaction.  Both stay untraced in a traced run: per-layer
        figures are per window, and ``compact_s`` is a single wall that
        must carry no tracing cost."""
        from ringo_spark import testbed as tb
        from ringo_spark.model import PopulationMode

        self.upper = tb.T_FAR
        self.ctx.op("catchup_window",
                    lambda: self.engine.run(PopulationMode.INCREMENTAL,
                                            time_upper=self.upper))
        _, rec = self.ctx.op(
            "compact", lambda: self.engine.compact_fact(tb.EVENTS_FACT))
        self.ctx.timed_check(lambda: self._check_compacted(rec))
        self.ctx.retire(self.storage)

    def _check_compacted(self, rec) -> None:
        """Against a full refresh over the same horizon: non-sketch
        columns equal, HLL estimates equal."""
        from pyspark.sql import functions as F

        storage = os.path.join(self.ctx.tmp, "reference")
        ref = self._full(storage, self.upper)
        a = self.engine.read_table("fact_events_by_minute")
        b = ref.read_table("fact_events_by_minute")
        plain = [c for c in a.columns if c != "user_count"]
        est = F.hll_sketch_estimate("user_count").alias("user_count_est")
        keys = ["ts_minute_id", "user_id", "event_type_id"]
        self.digests = {"compacted": digest(a.select(*plain)),
                        "compacted_hll_estimate": digest(a.select(*keys, est))}
        same = (self.digests["compacted"] == digest(b.select(*plain))
                and self.digests["compacted_hll_estimate"]
                == digest(b.select(*keys, est)))
        self.ctx.check(rec, same,
                       "star_incremental: compacted table differs from a "
                       "full refresh over the same horizon")
        shutil.rmtree(storage, ignore_errors=True)

    def summary(self) -> dict:
        win = self.ctx.walls("incremental_window")
        return {"best": best(win),
                "incr_refresh_p50_s": median(win),
                "incr_refresh_p75_s": p75(win),
                "read_p50_s": median(self.ctx.walls("read_rollup")),
                "compact_s": median(self.ctx.walls("compact"))}


def cut_points(seed: int) -> list[dt.datetime]:
    """The first-slice cut, then ``N_WINDOWS`` seeded minute-aligned cut
    points across the rest of the events span, ascending."""
    start = datagen.EVENTS_START + dt.timedelta(days=INITIAL_DAYS)
    span_min = (datagen.EVENTS_SPAN_S // 60) - INITIAL_DAYS * 1440
    rng = np.random.default_rng([seed, 1])
    mins = np.sort(rng.choice(np.arange(1, span_min), N_WINDOWS, replace=False))
    return [start] + [start + dt.timedelta(minutes=int(m)) for m in mins]


# --- registry_vector -----------------------------------------------------------


class RegistryVector:
    """Warm passes over ``QUERIES`` in a seeded order per pass.  Each query
    is forced by the digest aggregate (every column hashed, one row
    back), which runs the full plan and yields the value checked against
    the oracle-checked digest in ``expected_digests.json``."""

    name = "registry_vector"
    cores = 2         # faster and steadier than 4 (README.md)
    min_rounds = 4
    max_rounds = 20

    def __init__(self, ctx: Context):
        import json

        self.ctx = ctx
        self.src = os.path.join(ctx.tmp, "src")
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "expected_digests.json")) as fh:
            exp = json.load(fh)
        if exp["vector_scale"] != VECTOR_SCALE or set(exp["digests"]) != set(QUERIES):
            raise RuntimeError("expected_digests.json does not match "
                               "VECTOR_SCALE/QUERIES; rerun "
                               "perfbench/oracle_digests.py")
        self.expected = exp["digests"]
        self.orders = query_orders(ctx.seed, self.max_rounds + 1)
        self.digests: dict[str, str] = {}
        self.schedule: list[list[str]] = self.orders[:1]

    def setup(self) -> None:
        import __spark_entry__

        t0 = time.perf_counter()
        datagen.generate(self.src, self.ctx.seed, 0.001, VECTOR_SCALE)
        self.ctx.setup_parts["datagen_s"] = time.perf_counter() - t0
        qs = __spark_entry__.queries()
        self.builders = {q: qs[q] for q in QUERIES}
        # a cold pass builds every persisted index; the first warm passes
        # still run slower, which the best-of-run figure absorbs
        t0 = time.perf_counter()
        got = {q: digest(self.builders[q](self.ctx.spark, self.src))
               for q in self.orders[0]}
        self.ctx.setup_parts["cold_pass_s"] = time.perf_counter() - t0
        for q, d in got.items():
            self.ctx.check(None, d == self.expected[q],
                           f"registry_vector: cold {q} digest {d} != "
                           f"{self.expected[q]}")

    def run_query(self, q: str, traced: bool):
        spark, src = self.ctx.spark, self.src
        tr = self.ctx.tracer if traced else None
        if tr is None:
            return digest(self.builders[q](spark, src))
        with tr.span(f"registry.{q}.construct", group=True):
            df = self.builders[q](spark, src)
        with tr.span(f"registry.{q}.plan", group=True):
            df._jdf.queryExecution().executedPlan()
        with tr.span(f"registry.{q}.execute", group=True):
            return digest(df)

    def round(self, i: int, traced: bool) -> None:
        self.schedule.append(self.orders[1 + i])
        for q in self.orders[1 + i]:
            d, rec = self.ctx.op(q, lambda: self.run_query(q, traced), traced)
            self.digests[q] = d
            self.ctx.check(rec, d == self.expected[q],
                           f"registry_vector: {q} digest {d} != "
                           f"{self.expected[q]}")

    def finish(self) -> None:
        pass

    def summary(self) -> dict:
        passes = self.ctx.walls("round")
        return {"best": sum(best(self.ctx.walls(q)) for q in QUERIES),
                "registry_pass_s": median(passes)}


def query_orders(seed: int, n: int) -> list[list[str]]:
    """``n`` seeded permutations of ``QUERIES`` (the set-up pass
    first)."""
    rng = np.random.default_rng([seed, 2])
    return [[QUERIES[j] for j in rng.permutation(len(QUERIES))]
            for _ in range(n)]


WORKLOADS = {w.name: w for w in (StarFull, StarIncremental, RegistryVector)}
# Workloads run.py accepts that BENCHMARK.json does not list, and why.
UNLISTED_WORKLOADS = {
    "star_incremental": "a third workload at a steady run length does not "
                        "fit the benchmark's time budget; run it by hand",
}
