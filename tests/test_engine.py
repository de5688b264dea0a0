"""Engine driver tests: full run, incremental run, staging swap, watermark
store, artifact parity (dependencies/dimensions/facts JSON + SQL files)."""

import datetime as dt
import json
import os
import time

import pytest

from ringo_spark.engine import Engine
from ringo_spark.model import PopulationMode
from ringo_spark.testbed import (
    CUSTOMER, LINEITEM, ORDERS, ORDERS_ENV, T_FAR, T_ORDERS_MID,
)


@pytest.fixture
def engine(spark, tmp_path):
    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "warehouse"))
    eng.load_sources("/root/testdata/sf0.001")
    return eng


def test_full_run_populates_all_tables(engine):
    produced = engine.run(PopulationMode.FULL, T_FAR)
    assert produced == ["fact_orders_by_day", "fact_lineitem_by_day"]
    for t in ["dim_order_status", "dim_order_priority", "dim_line_status",
              "fact_orders_by_day", "fact_lineitem_by_day"]:
        assert engine.read_table(t).count() > 0, t
    # watermarks recorded per table as ISO timestamps (resume points)
    wm = engine.watermarks()
    assert dt.datetime.fromisoformat(wm["fact_orders_by_day"]) == T_FAR
    # lineitem fact carries inherited dims: orders dims via FK join
    li = engine.read_table("fact_lineitem_by_day")
    assert {"order_status_id", "order_priority_id", "o_custkey",
            "line_status_id"} <= set(li.columns)


def test_incremental_run_appends_window(engine):
    engine.run(PopulationMode.FULL, T_ORDERS_MID)
    n1 = engine.read_table("fact_orders_by_day").count()
    engine.run(PopulationMode.INCREMENTAL, T_FAR, T_ORDERS_MID)
    n2 = engine.read_table("fact_orders_by_day").count()
    assert n2 > n1
    # incremental dim append kept ids unique
    dim = engine.read_table("dim_order_status")
    assert dim.count() == dim.select("id").distinct().count()


def test_full_refresh_swaps_atomically(engine, tmp_path):
    engine.run(PopulationMode.FULL, T_FAR)
    before = engine.read_table("fact_orders_by_day").count()
    engine.run(PopulationMode.FULL, T_FAR)  # second full refresh: swap, not append
    after = engine.read_table("fact_orders_by_day").count()
    assert before == after
    # the live snapshot is the one refreshed dir; no stage dir is left
    (live,) = engine._snapshot_paths("fact_orders_by_day")
    assert os.path.basename(live) == "fact_orders_by_day__v2"
    assert not [d for d in os.listdir(engine.storage)
                if d.startswith("fact_orders_by_day__stage_")]


def test_artifacts(engine, tmp_path):
    out = str(tmp_path / "artifacts")
    engine.write_artifacts(out)
    deps = json.load(open(os.path.join(out, "dependencies.json")))
    assert deps["fact_lineitem_by_day"][:2] == ["lineitem", "orders"]
    dims = json.load(open(os.path.join(out, "dimensions.json")))
    assert set(dims) == {"dim_order_status", "dim_order_priority",
                         "dim_line_status"}
    facts = json.load(open(os.path.join(out, "facts.json")))
    assert facts == ["fact_orders_by_day", "fact_lineitem_by_day"]
    # one SQL file per table per mode; pre-existing dim (customer) excluded
    for sub in ("create", "fullrefresh", "increfresh"):
        files = sorted(os.listdir(os.path.join(out, sub)))
        assert "dim_order_status.sql" in files
        assert "fact_lineitem_by_day.sql" in files
        assert "customer.sql" not in files


def test_partitioned_fact_write(spark, tmp_path):
    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "w2"), partition_facts=True)
    eng.load_sources("/root/testdata/sf0.001")
    eng.run_fact(ORDERS_ENV.find_fact("orders"), PopulationMode.FULL, T_FAR)
    (base,) = eng._snapshot_paths("fact_orders_by_day")
    # hive-style day partitions on disk -> partition pruning at read time
    assert any(d.startswith("o_orderdate_day=") for d in os.listdir(base))


def test_compact_preserves_partitioning(spark, tmp_path):
    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "w3"), partition_facts=True)
    eng.load_sources("/root/testdata/sf0.001")
    fact = ORDERS_ENV.find_fact("orders")
    eng.run_fact(fact, PopulationMode.FULL, T_FAR)
    before = eng.read_table("fact_orders_by_day").count()
    eng.compact_fact(fact)
    after = eng.read_table("fact_orders_by_day")
    assert after.count() == before  # full refresh was already one-row-per-grain
    (base,) = eng._snapshot_paths("fact_orders_by_day")
    assert any(d.startswith("o_orderdate_day=") for d in os.listdir(base)), \
        "compaction dropped the day directory partitioning"


def test_resume_refuses_after_unclean_incremental_append(engine, monkeypatch):
    """A crash between an incremental fact append and its watermark update
    must NOT lead to a silent double-append on resume (doubled counts are
    indistinguishable from mergeable partials).  A resume whose window
    does not cover the committed append cannot swap it out, so the
    engine fails loudly; a full refresh heals.  (A same-window resume
    swaps the committed window in instead; see
    ``test_manifest_append_crash_after_publish_heals_by_window_swap``.)"""
    engine.run(PopulationMode.FULL, T_ORDERS_MID)

    orig = Engine._commit_watermark

    def crashing_store(self, table, upper):
        if table.startswith("fact_"):
            raise RuntimeError("simulated crash before watermark")
        return orig(self, table, upper)

    monkeypatch.setattr(Engine, "_commit_watermark", crashing_store)
    with pytest.raises(RuntimeError, match="simulated crash"):
        engine.run(PopulationMode.INCREMENTAL, T_FAR)
    monkeypatch.undo()

    # the append committed but the watermark didn't: a resume that
    # cannot cover the committed window refuses
    with pytest.raises(RuntimeError, match="did not complete"):
        engine.run(PopulationMode.INCREMENTAL, T_FAR - dt.timedelta(days=1))

    # full refresh heals the table and clears the in-flight marker
    engine.run(PopulationMode.FULL, T_FAR)
    df = engine.read_table("fact_orders_by_day")
    keys = ["o_orderdate_day_id", "o_custkey", "order_priority_id",
            "order_status_id"]
    assert df.count() == df.select(*keys).distinct().count()
    engine.run(PopulationMode.INCREMENTAL, T_FAR)  # clean incrementals again


def test_incremental_resumes_from_stored_watermark(engine):
    engine.run(PopulationMode.FULL, T_ORDERS_MID)
    n1 = engine.read_table("fact_orders_by_day").count()
    # no explicit lower bound: resume from the stored T_ORDERS_MID watermark
    engine.run(PopulationMode.INCREMENTAL, T_FAR)
    df = engine.read_table("fact_orders_by_day")
    assert df.count() > n1
    # windows were disjoint (watermark == previous upper): no grain-key dupes
    keys = ["o_orderdate_day_id", "o_custkey", "order_priority_id",
            "order_status_id"]
    assert df.count() == df.select(*keys).distinct().count()


def test_manifest_full_and_incremental_run(engine):
    eng = engine
    eng.run(PopulationMode.FULL, T_ORDERS_MID)
    n1 = eng.read_table("fact_orders_by_day").count()
    m = json.load(open(os.path.join(eng.storage,
                                    "fact_orders_by_day.manifest.json")))
    assert m["version"] == 1
    assert m["versions"] == {"1": ["fact_orders_by_day__v1"]}
    # schema-on-manifest (r10): the publish records the snapshot schema
    cols = [f["name"] for f in json.loads(m["schemas"]["1"])["fields"]]
    assert "o_orderdate_day_id" in cols and "order_count" in cols
    eng.run(PopulationMode.INCREMENTAL, T_FAR, T_ORDERS_MID)
    assert eng.read_table("fact_orders_by_day").count() > n1
    # the append is its OWN immutable dir, made visible by a pointer flip
    # (atomic on object stores); the snapshot is the union of both dirs
    m2 = json.load(open(os.path.join(eng.storage,
                                     "fact_orders_by_day.manifest.json")))
    assert m2["version"] == 2
    assert m2["versions"]["2"] == ["fact_orders_by_day__v1",
                                   "fact_orders_by_day__v2"]


def test_manifest_refresh_bumps_version_and_gcs_old(engine):
    eng = engine
    eng.run(PopulationMode.FULL, T_FAR)
    before = eng.read_table("fact_orders_by_day").count()
    eng.run(PopulationMode.FULL, T_FAR)
    assert eng.read_table("fact_orders_by_day").count() == before
    m = json.load(open(os.path.join(eng.storage,
                                    "fact_orders_by_day.manifest.json")))
    assert m["version"] == 2
    dirs = [d for d in os.listdir(eng.storage)
            if d.startswith("fact_orders_by_day__v")]
    assert dirs == ["fact_orders_by_day__v2"]


def test_manifest_crash_before_publish_leaves_old_version_live(
        engine, monkeypatch):
    """Kill the refresh after the new version dir is written but before
    the pointer flips: readers must still resolve the previous complete
    version, and a clean re-run must converge (GC'ing the orphan)."""
    import ringo_spark.engine as engmod

    eng = engine
    eng.run(PopulationMode.FULL, T_ORDERS_MID)
    before = eng.read_table("fact_orders_by_day").count()

    real_replace = os.replace

    def crashing_replace(src, dst):
        if "fact_orders_by_day.manifest.json" in dst:
            raise RuntimeError("simulated crash before manifest publish")
        return real_replace(src, dst)

    monkeypatch.setattr(engmod.os, "replace", crashing_replace)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.run(PopulationMode.FULL, T_FAR)
    monkeypatch.undo()

    # pointer still names v1: the old table stays readable
    assert eng.read_table("fact_orders_by_day").count() == before
    # clean re-run publishes (v2 dir already on disk is overwritten or
    # superseded) and GCs every non-live version
    eng.run(PopulationMode.FULL, T_FAR)
    assert eng.read_table("fact_orders_by_day").count() >= before
    dirs = sorted(d for d in os.listdir(eng.storage)
                  if d.startswith("fact_orders_by_day__v"))
    m = json.load(open(os.path.join(eng.storage,
                                    "fact_orders_by_day.manifest.json")))
    assert dirs == sorted(m["versions"][str(m["version"])])


def test_manifest_append_crash_leaves_snapshot_unchanged(
        engine, monkeypatch):
    """A crash between the append's data write and the pointer flip must
    leave the previous snapshot intact — the failure mode that motivated
    the dirs-list manifest (plain directory appends are visible the
    moment files land)."""
    import ringo_spark.engine as engmod

    eng = engine
    eng.run(PopulationMode.FULL, T_ORDERS_MID)
    before = eng.read_table("fact_orders_by_day").count()

    real_replace = os.replace

    def crashing_replace(src, dst):
        if "fact_orders_by_day.manifest.json" in dst:
            raise RuntimeError("simulated crash before append publish")
        return real_replace(src, dst)

    monkeypatch.setattr(engmod.os, "replace", crashing_replace)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.run(PopulationMode.INCREMENTAL, T_FAR, T_ORDERS_MID)
    monkeypatch.undo()

    # reader sees exactly the pre-append snapshot (no partial rows)
    assert eng.read_table("fact_orders_by_day").count() == before
    # the manifest version never advanced, which proves nothing became
    # visible — so the retry is provably safe and the engine self-heals
    eng.run(PopulationMode.INCREMENTAL, T_FAR, T_ORDERS_MID)
    assert eng.read_table("fact_orders_by_day").count() > before


def test_manifest_append_crash_after_publish_heals_by_window_swap(
        engine, monkeypatch):
    """Crash AFTER the pointer flip but before the watermark lands: the
    appended window is visible without its watermark.  Window-stamped
    appends (r12) make the same-window rerun SAFE — the recomputed
    window atomically replaces the half-committed dir instead of
    doubling it — so the engine self-heals where it used to refuse.  A
    rerun whose window does NOT cover the committed append still
    refuses (the conservative direction is unchanged)."""
    import datetime as _dt

    eng = engine
    eng.run(PopulationMode.FULL, T_ORDERS_MID)

    real_store = eng._commit_watermark

    def crashing_store(table, upper):
        if table == "fact_orders_by_day":
            raise RuntimeError("simulated crash before watermark")
        return real_store(table, upper)

    monkeypatch.setattr(eng, "_commit_watermark", crashing_store)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.run(PopulationMode.INCREMENTAL, T_FAR, T_ORDERS_MID)
    monkeypatch.undo()

    # a NARROWER window can't prove it covers the committed append
    with pytest.raises(RuntimeError, match="did not complete"):
        eng.run(PopulationMode.INCREMENTAL,
                T_ORDERS_MID + _dt.timedelta(days=1), T_ORDERS_MID)

    # the same-window rerun swaps the window in and completes
    eng.run(PopulationMode.INCREMENTAL, T_FAR, T_ORDERS_MID)
    assert "fact_orders_by_day" not in eng._inflight()
    healed = {tuple(r) for r in
              eng.read_table("fact_orders_by_day").collect()}

    # reference: the same two runs on a fresh engine with no crash
    ref = Engine(eng.spark, ORDERS_ENV, eng.storage + "_ref")
    ref.load_sources("/root/testdata/sf0.001")
    ref.run(PopulationMode.FULL, T_ORDERS_MID)
    ref.run(PopulationMode.INCREMENTAL, T_FAR, T_ORDERS_MID)
    want = {tuple(r) for r in
            ref.read_table("fact_orders_by_day").collect()}
    assert healed == want


def test_incremental_rerun_same_window_is_idempotent(engine):
    """The MERGE contract (r11 VERDICT item 8): re-running an
    already-committed incremental window — late-arriving data, an
    operator retry — REPLACES that window's rows instead of appending
    them again.  The unstamped full-refresh base dir is never touched;
    the replaced dir leaves the live dir list."""
    eng = engine
    eng.run(PopulationMode.FULL, T_ORDERS_MID)
    eng.run(PopulationMode.INCREMENTAL, T_FAR, T_ORDERS_MID)
    once = sorted(tuple(r) for r in
                  eng.read_table("fact_orders_by_day").collect())

    eng.run(PopulationMode.INCREMENTAL, T_FAR, T_ORDERS_MID)  # late rerun
    twice = sorted(tuple(r) for r in
                   eng.read_table("fact_orders_by_day").collect())
    assert twice == once

    m = json.load(open(os.path.join(eng.storage,
                                    "fact_orders_by_day.manifest.json")))
    assert m["version"] == 3
    # v2 (the first window append) was replaced by v3; the unstamped v1
    # base survives; only the live dir carries a window stamp
    assert m["versions"]["3"] == ["fact_orders_by_day__v1",
                                  "fact_orders_by_day__v3"]
    assert set(m["windows"]) == {"fact_orders_by_day__v3"}


def test_iso_normalizes_tz_aware_bounds_to_utc():
    """ADVICE r12: lexicographic stamp comparison is only chronological
    on one clock — aware bounds stamp as naive UTC, so an aware and a
    naive-UTC bound denoting the same instant produce the SAME stamp
    and mixed-bound runs cannot mis-compare."""
    utc, ist = dt.timezone.utc, dt.timezone(dt.timedelta(hours=5, minutes=30))
    naive = dt.datetime(2024, 1, 2, 3, 0, 0)
    assert Engine._iso(naive) == "2024-01-02T03:00:00"
    assert Engine._iso(naive.replace(tzinfo=utc)) == "2024-01-02T03:00:00"
    assert Engine._iso(dt.datetime(2024, 1, 2, 8, 30, tzinfo=ist)) \
        == "2024-01-02T03:00:00"
    assert Engine._iso(None) is None
    assert Engine._iso("2024-01-02") == "2024-01-02"
    # covers-check consistency across a mixed-bound rerun
    assert Engine._window_covers(
        (dt.datetime(2024, 1, 2, tzinfo=utc), dt.datetime(2024, 1, 5)),
        ["2024-01-02T00:00:00", "2024-01-05T00:00:00"])


def test_window_covers_semantics():
    """Pure containment logic: None bounds are ±infinity; partial
    overlap and unstamped dirs never replace."""
    c = Engine._window_covers
    t = dt.datetime
    w = (t(2024, 1, 2), t(2024, 1, 5))
    assert c(w, ["2024-01-02T00:00:00", "2024-01-05T00:00:00"])
    assert c(w, ["2024-01-03T00:00:00", "2024-01-04T00:00:00"])
    assert not c(w, ["2024-01-01T00:00:00", "2024-01-04T00:00:00"])
    assert not c(w, ["2024-01-03T00:00:00", "2024-01-06T00:00:00"])
    assert not c(w, None)                       # unstamped: never
    assert c((None, t(2024, 1, 5)), ["2024-01-01T00:00:00",
                                     "2024-01-05T00:00:00"])
    assert c((t(2024, 1, 2), None), ["2024-01-02T00:00:00",
                                     "2024-01-09T00:00:00"])
    assert not c(w, [None, "2024-01-04T00:00:00"])   # -inf lower
    assert c((None, None), [None, "2024-01-04T00:00:00"])


def test_manifest_time_travel_reads_retained_versions(spark, tmp_path):
    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "ttwarehouse"),
                 keep_versions=2)
    eng.load_sources("/root/testdata/sf0.001")
    eng.run(PopulationMode.FULL, T_ORDERS_MID)
    n1 = eng.read_table("fact_orders_by_day").count()
    eng.run(PopulationMode.FULL, T_FAR)
    n2 = eng.read_table("fact_orders_by_day").count()
    assert n2 > n1
    assert eng.table_versions("fact_orders_by_day") == [1, 2]
    # a training run pinned to v1 still reads the old snapshot
    assert eng.read_table("fact_orders_by_day", version=1).count() == n1
    assert eng.read_table("fact_orders_by_day", version=2).count() == n2
    # third refresh pushes v1 past the retention horizon
    eng.run(PopulationMode.FULL, T_FAR)
    assert eng.table_versions("fact_orders_by_day") == [2, 3]
    with pytest.raises(FileNotFoundError, match="not retained"):
        eng.read_table("fact_orders_by_day", version=1)
    with pytest.raises(FileNotFoundError, match="not retained"):
        eng.read_table("fact_orders_by_day", version=9)


def test_manifest_compaction_folds_snapshot_to_single_dir(spark, tmp_path):
    """compact_fact over a manifest engine: reads the multi-dir snapshot
    (full + append), publishes the folded result as a fresh single-dir
    version, and the superseded dirs are GC'd after the pointer flip."""
    from ringo_spark.testbed import EVENTS_ENV, EVENTS_FACT, T_EVENTS_MID

    eng = Engine(spark, EVENTS_ENV, str(tmp_path / "cwh"))
    eng.load_sources("/root/testdata/sf0.001")
    eng.run(PopulationMode.FULL, T_EVENTS_MID)
    eng.run(PopulationMode.INCREMENTAL, T_FAR, T_EVENTS_MID)
    table = "fact_events_by_minute"
    before_df = eng.read_table(table)
    total_before = before_df.agg(
        {"event_count": "sum"}).collect()[0][0]
    m1 = json.load(open(os.path.join(eng.storage, table + ".manifest.json")))
    assert len(m1["versions"][str(m1["version"])]) == 2

    eng.compact_fact(EVENTS_FACT)
    m2 = json.load(open(os.path.join(eng.storage, table + ".manifest.json")))
    assert m2["version"] == m1["version"] + 1
    assert len(m2["versions"][str(m2["version"])]) == 1
    after_df = eng.read_table(table)
    keys = ["ts_minute_id", "user_id", "event_type_id"]
    assert after_df.count() == after_df.select(*keys).distinct().count()
    assert after_df.agg({"event_count": "sum"}).collect()[0][0] == total_before
    dirs = [d for d in os.listdir(eng.storage) if d.startswith(table + "__v")]
    assert sorted(dirs) == sorted(m2["versions"][str(m2["version"])])


def test_manifest_append_after_compaction(spark, tmp_path):
    """An append after compact_fact lands: compaction casts its re-summed
    measures back to their published types (the sum of a decimal(28,2)
    is a decimal(38,2), which the next append's schema check refused as
    a conflict).  full -> incremental -> compact -> incremental rolls up
    to the same table as one full refresh over the same horizon."""
    from pyspark.sql import functions as F

    from ringo_spark.testbed import EVENTS_ENV, EVENTS_FACT, T_EVENTS_MID

    table = "fact_events_by_minute"
    eng = Engine(spark, EVENTS_ENV, str(tmp_path / "acwh"))
    eng.load_sources("/root/testdata/sf0.001")
    t_early = dt.datetime(2024, 1, 10)
    eng.run(PopulationMode.FULL, t_early)
    eng.run(PopulationMode.INCREMENTAL, T_EVENTS_MID, t_early)
    eng.compact_fact(EVENTS_FACT)
    eng.run(PopulationMode.INCREMENTAL, T_FAR, T_EVENTS_MID)

    ref = Engine(spark, EVENTS_ENV, str(tmp_path / "acref"))
    ref.load_sources("/root/testdata/sf0.001")
    ref.run(PopulationMode.FULL, T_FAR)

    def rollup(e):
        df = e.read_table(table)
        keys = ["ts_minute_id", "user_id", "event_type_id"]
        return [(f.name, f.dataType) for f in df.schema], (df.groupBy(*keys).agg(
            F.sum("event_count"), F.sum("value_sum"),
            F.sum("value_avg_count"), F.sum("value_avg_sum"),
            F.max("value_max"), F.min("value_min"),
            F.hll_sketch_estimate(F.hll_union_agg("user_count")))
            .orderBy(*keys).collect())

    got_schema, got = rollup(eng)
    want_schema, want = rollup(ref)
    assert got_schema == want_schema
    assert got == want and len(got) > 0


def test_publish_jdbc_round_trip(spark, tmp_path):
    """Sink parity with the reference (its output lands in Postgres,
    app/Main.hs:35-83): publish the populated tables to a file-backed
    Derby database over JDBC, read them back, and compare cell-equal."""
    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "jwh"),
                 count_distinct_mode="exact")
    eng.load_sources("/root/testdata/sf0.001")
    eng.run(PopulationMode.FULL, T_FAR)
    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    opts = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    published = eng.publish_jdbc(url, options=opts, num_partitions=1)
    # dims precede the facts that reference them (FK-friendly load order)
    assert published.index("dim_order_status") < published.index("fact_orders_by_day")
    assert {"dim_order_status", "dim_order_priority", "dim_line_status",
            "fact_orders_by_day", "fact_lineitem_by_day"} <= set(published)
    for name in published:
        local = eng.read_table(name)
        back = (spark.read.format("jdbc").option("url", url)
                .option("dbtable", name).option("driver", opts["driver"])
                .load())
        assert sorted(back.columns) == sorted(local.columns), name
        cols = sorted(local.columns)
        a = sorted(map(tuple, local.select(*cols).collect()))
        b = sorted(map(tuple, back.select(*cols).collect()))
        assert a == b, f"{name}: JDBC round trip not cell-equal"
    # default mode is non-destructive: a re-publish against existing
    # serving tables refuses instead of dropping them (ADVICE r05) —
    # refresh flows must pass mode='overwrite' (+truncate) explicitly
    with pytest.raises(Exception, match="already exists|SaveMode"):
        eng.publish_jdbc(url, tables=[published[0]], options=opts,
                         num_partitions=1)
    again = eng.publish_jdbc(url, tables=[published[0]], mode="overwrite",
                             options=opts, num_partitions=1)
    assert again == [published[0]]


def test_engine_bucketized_parent_join_no_exchange(spark, tmp_path):
    """Engine.bucketize_sources wires sources/bucketing.py into the
    parent-fact join path: the lineitem ⋈ orders FK join (the pipeline's
    one fact-sized shuffle) runs with no Exchange on either side."""
    from ringo_spark.extractor import (
        extract_all_dimension_tables, extract_fact_table,
    )
    from ringo_spark.populate.fact import fact_population_df

    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "bwh"))
    eng.load_sources("/root/testdata/sf0.001")
    eng.run(PopulationMode.FULL, T_FAR)
    fact = next(f for f in ORDERS_ENV.facts
                if extract_fact_table(ORDERS_ENV, f).name
                == "fact_lineitem_by_day")
    dim_names = {t.name for _, t in extract_all_dimension_tables(ORDERS_ENV, fact)
                 if ORDERS_ENV.find_table(t.name) is None}
    dims = {n: eng.read_table(n) for n in dim_names}

    def populate_plan(sources):
        df = fact_population_df(ORDERS_ENV, fact, sources, dims=dims,
                                mode=PopulationMode.FULL, time_upper=T_FAR)
        return df, df._jdf.queryExecution().executedPlan().toString()

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain_df, plain = populate_plan(dict(eng.sources))
        assert eng.parent_join_pairs() == [
            ("lineitem", "l_orderkey", "orders", "o_orderkey")]
        bucketed_names = eng.bucketize_sources(num_buckets=4)
        assert bucketed_names == ["lineitem", "orders"]
        bkt_df, bkt = populate_plan(dict(eng.sources))
        # the parent join shuffled both sides before; bucketed it shuffles
        # neither — exactly two Exchanges disappear, the SMJ remains
        assert "SortMergeJoin" in bkt
        assert bkt.count("Exchange") == plain.count("Exchange") - 2
        # and the produced fact rows are identical
        cols = sorted(c for c in plain_df.columns)
        a = sorted(map(tuple, plain_df.select(*cols).collect()))
        b = sorted(map(tuple, bkt_df.select(*cols).collect()))
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # engine bucket tables are namespaced by storage path (ADVICE r05:
        # two engines in one session must not overwrite each other)
        bkt = [r.tableName for r in spark.sql("SHOW TABLES").collect()
               if r.tableName.startswith("bkt_")]
        assert bkt and all("_lineitem" in t or "_orders" in t for t in bkt)
        for t in bkt:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketize_default_pairs_selfjoin_and_conflict_skips(
        spark, tmp_path, monkeypatch):
    """r07 ADVICE: the default-path conflict check must evaluate BOTH
    sides of a pair individually — a dict keyed by table collapsed a
    self-join pair (lt == rt) to one entry, hiding a left-vs-right key
    conflict on that table.  Self-join pairs on differing keys are
    skipped outright (one physical layout cannot bucket one table on two
    key sets), and a later pair re-keying an already-bucketed table is
    skipped too; compatible pairs pass through."""
    import ringo_spark.sources.bucketing as bkt_mod

    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "bsk"))
    eng.load_sources("/root/testdata/sf0.001")
    monkeypatch.setattr(
        Engine, "parent_join_pairs",
        lambda self: [
            ("lineitem", "l_orderkey", "orders", "o_orderkey"),   # keep
            ("part", "p_a", "part", "p_b"),       # self-join, keys differ
            ("orders", "o_custkey", "customer", "c_custkey"),  # conflict
            ("part", "p_x", "part", "p_x"),       # self-join, same key
        ])
    captured = {}

    def fake_bucketize(spark_, sources, pairs, num_buckets, **kw):
        captured["pairs"] = pairs
        return sources

    monkeypatch.setattr(bkt_mod, "bucketize_for_fact_join", fake_bucketize)
    names = eng.bucketize_sources(num_buckets=4)
    assert captured["pairs"] == [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("part", "p_x", "part", "p_x"),
    ]
    assert names == ["lineitem", "orders", "part"]


def test_manifest_cas_rejects_interleaved_publish(spark, tmp_path):
    """The CAS core (r07 VERDICT item 5): a publish based on a manifest
    version that has since advanced is rejected, never last-writer-wins."""
    import ringo_spark.engine as engmod

    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "cas"))
    eng._write_full(spark.range(5), "t")
    m = eng._read_manifest("t")
    assert m["version"] == 1
    eng._write_full(spark.range(3), "t")          # interloper -> v2
    with pytest.raises(engmod.ManifestConflict, match="advanced"):
        eng._publish_manifest("t", m["version"] + 1, {"2": ["t__v2"]},
                              expected_version=m["version"])


def test_manifest_two_interleaved_appenders_lose_nothing(spark, tmp_path):
    """The lost-update scenario the plain read-modify-write allowed: A
    reads the manifest, B appends and publishes, then A appends.  With
    the CAS retry A's first publish loses, re-reads, and re-publishes a
    snapshot containing BOTH appends; the final table holds every row."""
    store = str(tmp_path / "mw")
    A = Engine(spark, ORDERS_ENV, store)
    B = Engine(spark, ORDERS_ENV, store)
    A._write_full(spark.range(0, 10), "t")        # v1: ids 0..9
    stale = A._read_manifest("t")

    calls = {"n": 0}
    real = Engine._read_manifest

    def stale_then_real(self, table):
        # first two reads (pre-check + first CAS attempt) see the
        # manifest as A captured it BEFORE B's append — the interleave
        calls["n"] += 1
        return dict(stale) if calls["n"] <= 2 else real(self, table)

    A._read_manifest = stale_then_real.__get__(A)
    B._write_append(spark.range(10, 20), "t")     # v2 lands meanwhile
    A._write_append(spark.range(20, 30), "t")     # loses CAS once, retries

    got = sorted(r.id for r in A.read_table("t").collect())
    assert got == list(range(30)), "an append was lost"
    m = B._read_manifest("t")
    assert m["version"] == 3
    assert len(m["versions"][str(m["version"])]) == 3
    # lock file persists by design (flock; never unlinked) but must be
    # free — a fresh acquire succeeds immediately
    fd, tok = A._acquire_manifest_lock("t")
    A._release_manifest_lock("t", fd, tok)


def test_manifest_lock_crash_timeout_and_replace(spark, tmp_path):
    """flock semantics (r08 ADVICE — replaces the mtime stale-break and
    its TOCTOU class): a lock FILE left by a crashed writer holds no
    flock, so acquisition proceeds instantly with no staleness heuristic;
    a lock HELD by a live writer times out loudly; an externally
    replaced lock file is detected by the inode re-check."""
    import fcntl

    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "lk"))
    os.makedirs(eng.storage, exist_ok=True)
    lock = eng._lock_path("t")

    # crashed writer: file exists, no flock held -> immediate acquire
    with open(lock, "w") as fh:
        fh.write("")
    fd, token = eng._acquire_manifest_lock("t")
    eng._release_manifest_lock("t", fd, token)

    # live writer: flock held on a separate fd -> waiter times out
    holder = os.open(lock, os.O_CREAT | os.O_RDWR)
    fcntl.flock(holder, fcntl.LOCK_EX)
    orig_wait = Engine._LOCK_WAIT_SECS
    Engine._LOCK_WAIT_SECS = 0.2
    try:
        with pytest.raises(TimeoutError, match="manifest lock"):
            eng._acquire_manifest_lock("t")
    finally:
        Engine._LOCK_WAIT_SECS = orig_wait
    # ...and a close releases it for the next acquirer
    os.close(holder)
    fd, token = eng._acquire_manifest_lock("t")
    # external unlink+recreate while held: a second acquirer locks the
    # NEW inode without deadlocking (the inode re-check reopens).  NB
    # what this asserts (ADVICE r09): fd2 acquires IMMEDIATELY while fd
    # is still held — mutual exclusion against the original holder is
    # NOT preserved once the file is externally replaced.  That is the
    # documented design limit of the never-unlink protocol (nothing in
    # the engine deletes lock files), not a property being defended.
    os.unlink(lock)
    with open(lock, "w") as fh:
        fh.write("")
    fd2, token2 = eng._acquire_manifest_lock("t")   # old lock's inode gone
    eng._release_manifest_lock("t", fd2, token2)
    eng._release_manifest_lock("t", fd, token)


def test_manifest_lock_error_paths_are_bounded(spark, tmp_path, monkeypatch):
    """ADVICE r09: (a) a non-contention flock error (EBADF, ENOLCK, ...)
    surfaces immediately instead of spinning out the 30s deadline as
    'lock held'; (b) the inode-mismatch reopen path honors the same
    deadline, so an external process recreating the lock file in a loop
    cannot make acquisition spin forever."""
    import errno

    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "lkerr"))
    os.makedirs(eng.storage, exist_ok=True)

    # (a) genuine error: raise ENOLCK from flock — must propagate as
    # OSError at once (a TimeoutError here would mean it spun)
    import fcntl as _fcntl

    def boom(fd, op):
        raise OSError(errno.ENOLCK, "no locks available")

    monkeypatch.setattr(_fcntl, "flock", boom)
    t0 = time.monotonic()
    with pytest.raises(OSError) as ei:
        eng._acquire_manifest_lock("t")
    assert ei.value.errno == errno.ENOLCK
    assert time.monotonic() - t0 < 1.0
    monkeypatch.undo()

    # (b) perpetual inode mismatch: fstat never matches stat — the
    # reopen loop must end in TimeoutError, not run forever
    real_fstat = os.fstat

    class _FakeIno:
        st_ino = -1

    monkeypatch.setattr(os, "fstat", lambda fd: _FakeIno)
    orig_wait = Engine._LOCK_WAIT_SECS
    Engine._LOCK_WAIT_SECS = 0.2
    try:
        with pytest.raises(TimeoutError, match="externally replaced"):
            eng._acquire_manifest_lock("t")
    finally:
        Engine._LOCK_WAIT_SECS = orig_wait
        monkeypatch.setattr(os, "fstat", real_fstat)


def test_manifest_concurrent_append_stress(spark, tmp_path):
    """Real-contention CAS proof (no monkeypatching): two threads drive
    interleaved appends through the live lock/CAS/retry path against
    one table.  Every append must survive into the final snapshot and
    the version counter must advance exactly once per publish."""
    import threading

    store = str(tmp_path / "stress")
    eng = Engine(spark, ORDERS_ENV, store)
    eng._write_full(spark.range(0, 10), "t")          # v1: ids 0..9

    N_PER_WRITER = 4
    errs = []

    def writer(base):
        w = Engine(spark, ORDERS_ENV, store)
        try:
            for i in range(N_PER_WRITER):
                lo = base + i * 10
                w._write_append(spark.range(lo, lo + 10), "t")
        except Exception as e:      # surfaced after join
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(100,)),
               threading.Thread(target=writer, args=(1000,))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs

    got = sorted(r.id for r in eng.read_table("t").collect())
    want = sorted(list(range(10))
                  + [b + i * 10 + j for b in (100, 1000)
                     for i in range(N_PER_WRITER) for j in range(10)])
    assert got == want, "an append was lost under real contention"
    m = eng._read_manifest("t")
    assert m["version"] == 1 + 2 * N_PER_WRITER
    assert len(m["versions"][str(m["version"])]) == 1 + 2 * N_PER_WRITER
    # lock must be free after the storm (file persists by flock design)
    fd, tok = eng._acquire_manifest_lock("t")
    eng._release_manifest_lock("t", fd, tok)


def test_gc_never_deletes_higher_version_dirs(spark, tmp_path):
    """Post-review hardening: GC runs after the publish lock is
    released, so an unreferenced dir with a HIGHER version number than
    this writer's publish belongs to a concurrent writer that published
    meanwhile — it must survive.  Unreferenced dirs at or below the
    published version are true orphans and go."""
    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "gcv"))
    eng._write_full(spark.range(5), "t")               # publishes v1
    # fake a crash orphan at v1-era naming and a concurrent writer's v2
    os.makedirs(os.path.join(eng.storage, "t__v0"))    # stale orphan
    os.makedirs(os.path.join(eng.storage, "t__v2"))    # later writer's!
    m = eng._read_manifest("t")
    eng._gc_versions("t", eng._manifest_versions(m), published_version=1)
    assert not os.path.exists(os.path.join(eng.storage, "t__v0"))
    assert os.path.exists(os.path.join(eng.storage, "t__v2"))
    # tomb-suffixed dirs parse to their version and are collectable
    os.makedirs(os.path.join(eng.storage, "t__v1.tomb.ab12"))
    eng._gc_versions("t", eng._manifest_versions(m), published_version=1)
    assert not os.path.exists(os.path.join(eng.storage, "t__v1.tomb.ab12"))


def test_manifest_schema_evolution_on_append(spark, tmp_path):
    """Schema-on-manifest (r10): an append that ADDS a column evolves
    the published snapshot's schema — the live read null-fills the new
    column for pre-evolution files under the manifest's explicit reader
    schema (never a footer-merge), a time-travel read of the older
    version still sees the OLD schema, and a same-name different-type
    append fails loudly instead of corrupting older files' reads."""
    from pyspark.sql import functions as F

    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "evo"),
                 keep_versions=2)
    os.makedirs(eng.storage, exist_ok=True)

    eng._write_full(spark.range(0, 5).select(F.col("id")), "t")
    eng._write_append(
        spark.range(5, 8).select("id", (F.col("id") * 2).alias("extra")),
        "t")

    live = eng.read_table("t")
    assert live.columns == ["id", "extra"]
    rows = {r.id: r.extra for r in live.collect()}
    assert len(rows) == 8
    assert all(rows[i] is None for i in range(5))        # null-backfill
    assert all(rows[i] == i * 2 for i in range(5, 8))    # appended values

    old = eng.read_table("t", version=1)
    assert old.columns == ["id"] and old.count() == 5    # old schema intact

    with pytest.raises(ValueError, match="schema conflict"):
        eng._write_append(
            spark.range(8, 9).select(
                "id", F.lit("oops").alias("extra")), "t")


def test_manifest_schema_drop_requires_full_refresh(spark, tmp_path):
    """DROP contract (VERDICT r10 item 7): appends only ADD columns — a
    column absent from an appending frame persists in the snapshot
    schema (the appended files read as null for it); the ONLY way a
    column leaves the schema is a full refresh, and a still-retained
    older version keeps its publish-time schema for time travel."""
    from pyspark.sql import functions as F

    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "drop"),
                 keep_versions=3)
    os.makedirs(eng.storage, exist_ok=True)

    eng._write_full(
        spark.range(0, 4).select("id", (F.col("id") + 10).alias("extra")),
        "t")
    # append WITHOUT 'extra': not a drop — schema keeps the column,
    # appended rows null-fill it
    eng._write_append(spark.range(4, 6).select("id"), "t")
    live = eng.read_table("t")
    assert live.columns == ["id", "extra"]
    rows = {r.id: r.extra for r in live.collect()}
    assert len(rows) == 6
    assert all(rows[i] == i + 10 for i in range(4))
    assert rows[4] is None and rows[5] is None

    # full refresh WITHOUT 'extra': the real drop — the live schema no
    # longer has the column ...
    eng._write_full(spark.range(0, 3).select("id"), "t")
    assert eng.read_table("t").columns == ["id"]
    # ... while the retained pre-drop version still time-travels with
    # its publish-time schema
    old = eng.read_table("t", version=2)
    assert old.columns == ["id", "extra"] and old.count() == 6


def test_append_onto_pre_schema_manifest_infers_prev_schema(spark, tmp_path):
    """ADVICE r10: a manifest published before schema tracking has no
    recorded schema; the first append onto it must derive the previous
    schema from the live snapshot's footers rather than recording only
    the appending frame's columns — otherwise columns present in older
    files but absent from the append are silently projected out of all
    subsequent reads."""
    import json as _json

    from pyspark.sql import functions as F

    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "pre"),
                 keep_versions=2)
    os.makedirs(eng.storage, exist_ok=True)
    # legacy snapshot spanning TWO dirs with heterogeneous file schemas
    # (a wide refresh + a narrow append) — the fallback must footer-
    # MERGE, not trust whichever single footer the reader samples
    eng._write_full(
        spark.range(0, 3).select("id", (F.col("id") + 7).alias("extra")),
        "t")
    eng._write_append(spark.range(3, 5).select("id"), "t")   # narrow dir
    # simulate the legacy manifest: strip the recorded schemas
    mp = eng._manifest_path("t")
    m = _json.load(open(mp))
    del m["schemas"]
    with open(mp, "w") as fh:
        _json.dump(m, fh)

    eng._write_append(spark.range(5, 6).select("id"), "t")   # no 'extra'
    live = eng.read_table("t")
    assert live.columns == ["id", "extra"]   # survived the narrow appends
    rows = {r.id: r.extra for r in live.collect()}
    assert len(rows) == 6
    assert all(rows[i] == i + 7 for i in range(3))
    assert all(rows[i] is None for i in (3, 4, 5))


def test_read_table_reads_manifest_exactly_once(spark, tmp_path):
    """ADVICE r10 (medium): read_table used to read the manifest twice
    (dir list + schema map) — a concurrent publish between the reads
    could pair version V's dirs with version V+1's schema, and a
    concurrent drop made the second read None.  Pin the fix: one
    manifest read per read_table call."""
    from pyspark.sql import functions as F

    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "once"))
    os.makedirs(eng.storage, exist_ok=True)
    eng._write_full(spark.range(0, 3).select("id"), "t")

    calls = []
    real = eng._read_manifest

    def counting(table):
        calls.append(table)
        return real(table)

    eng._read_manifest = counting
    df = eng.read_table("t")
    assert calls == ["t"]          # exactly one read
    assert df.count() == 3


def test_window_merge_model_based(spark, tmp_path):
    """Model-based check of the window-MERGE manifest semantics: a
    random mix of full refreshes, unstamped appends, window appends,
    and same/covering-window reruns must leave the live snapshot equal
    to a trivial reference model (a dict of surviving payloads).  This
    pins the composite behavior — replacement is by covering stamp
    only, unstamped dirs are immortal under appends, full refresh
    resets — beyond what the single-scenario tests enumerate."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    # ops: ("full",) | ("append", None) | ("append", (lo, hi))
    # bounds are small ints mapped onto datetimes (half-open windows)
    windows = st.tuples(st.integers(0, 6), st.integers(1, 4)).map(
        lambda t: (t[0], t[0] + t[1]))
    ops = st.lists(
        st.one_of(st.just(("full",)),
                  st.just(("append", None)),
                  st.tuples(st.just("append"), windows)),
        min_size=1, max_size=6)

    def at(i):
        return dt.datetime(2024, 1, 1) + dt.timedelta(days=i)

    counter = [0]

    @settings(max_examples=12, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(ops=ops)
    def run(ops):
        counter[0] += 1
        eng = Engine(spark, ORDERS_ENV,
                     str(tmp_path / f"wmb{counter[0]}"))
        model = {}   # payload id -> window (or None) of surviving dirs
        for step, op in enumerate(ops):
            df = spark.range(step * 100, step * 100 + 3) \
                      .withColumnRenamed("id", "payload")
            if op[0] == "full":
                eng._write_full(df, "t")
                model = {step: None}
            else:
                if not eng.table_exists("t"):
                    eng._write_full(df, "t")
                    model = {step: None}
                    continue
                w = op[1]
                win = (at(w[0]), at(w[1])) if w else None
                eng._write_append(df, "t", window=win)
                if win is not None:
                    model = {p: pw for p, pw in model.items()
                             if pw is None or not (w[0] <= pw[0]
                                                   and pw[1] <= w[1])}
                model[step] = w
            got = sorted(r.payload for r in eng.read_table("t").collect())
            want = sorted(p for s in model
                          for p in range(s * 100, s * 100 + 3))
            assert got == want, (ops, step, model)

    run()


def test_compaction_preserves_same_window_rerun_protection(spark, tmp_path):
    """r16 review finding 1: compaction merges the windowed dirs' rows,
    so the same-window rerun protection must SURVIVE it: the absorbed
    windows become refuse-keys (their dirs no longer exist to swap, so
    an overlapping append would silently double-count the merged rows).
    A true full refresh still clears them."""
    from ringo_spark.testbed import EVENTS_ENV, EVENTS_FACT, T_EVENTS_MID

    eng = Engine(spark, EVENTS_ENV, str(tmp_path / "wh"))
    eng.load_sources("/root/testdata/sf0.001")
    eng.run(PopulationMode.FULL, T_EVENTS_MID)
    eng.run(PopulationMode.INCREMENTAL, T_FAR, T_EVENTS_MID)
    table = "fact_events_by_minute"
    total = eng.read_table(table).agg(
        {"event_count": "sum"}).collect()[0][0]

    eng.compact_fact(EVENTS_FACT)
    # rerun of the absorbed window must refuse, not double-count
    with pytest.raises(ValueError, match="compaction"):
        eng.run(PopulationMode.INCREMENTAL, T_FAR, T_EVENTS_MID)
    assert eng.read_table(table).agg(
        {"event_count": "sum"}).collect()[0][0] == total

    # protection survives a further compaction too
    eng.compact_fact(EVENTS_FACT)
    with pytest.raises(ValueError):
        eng.run(PopulationMode.INCREMENTAL, T_FAR, T_EVENTS_MID)

    # a true full refresh recomputes everything and clears the keys
    eng.run(PopulationMode.FULL, T_EVENTS_MID)
    eng.run(PopulationMode.INCREMENTAL, T_FAR, T_EVENTS_MID)
    assert eng.read_table(table).agg(
        {"event_count": "sum"}).collect()[0][0] == total


def test_direct_run_fact_repopulates_dimensions(spark, tmp_path):
    """r16 review finding 2: a long-lived Engine's SECOND direct
    run_fact call must repopulate dimensions — the memo only spans one
    run() batch.  Previously the second window's new dimension members
    were never appended and their fact rows fell to the missing-FK
    sentinel."""
    from pyspark.sql import functions as F

    from ringo_spark.testbed import (
        EVENTS_ENV, EVENTS_FACT, T_EVENTS_MID,
    )

    eng = Engine(spark, EVENTS_ENV, str(tmp_path / "wh"))
    eng.load_sources("/root/testdata/sf0.001")
    eng.run_fact(EVENTS_FACT, PopulationMode.FULL, T_EVENTS_MID)
    n_types = eng.read_table("dim_event_type").count()

    # window 2 carries a brand-new event_type
    ev = eng.sources["events"]
    late = ev.where(F.col("ts") >= T_EVENTS_MID) \
             .withColumn("event_type", F.lit("r16_new_type"))
    eng.register_source("events", ev.where(F.col("ts") < T_EVENTS_MID)
                        .unionByName(late))
    eng.run_fact(EVENTS_FACT, PopulationMode.INCREMENTAL, T_FAR,
                 T_EVENTS_MID)
    dim = eng.read_table("dim_event_type")
    assert dim.where(F.col("event_type") == "r16_new_type").count() == 1
    assert dim.count() == n_types + 1
    # and the fact rows of window 2 resolve to it, never the -1 sentinel
    new_id = dim.where(F.col("event_type") == "r16_new_type") \
                .collect()[0]["id"]
    fact = eng.read_table("fact_events_by_minute")
    assert fact.where(F.col("event_type_id") == new_id).count() > 0
    assert fact.where(F.col("event_type_id") == -1).count() == 0


def test_sidecar_state_writes_are_atomic(spark, tmp_path, monkeypatch):
    """r16 review finding 3/4: watermark / inflight / window-ledger
    rewrites go through tmp + os.replace — a crash mid-write leaves the
    PREVIOUS state readable, never torn JSON; and the post-append
    watermark+inflight-clear commit is ONE write, so no crash window
    exists between them."""
    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "wh"))
    eng.load_sources("/root/testdata/sf0.001")
    eng.run(PopulationMode.FULL, T_ORDERS_MID)
    before = json.load(open(eng._wm_path))

    real_dump = json.dump

    def torn_dump(obj, fh, **kw):
        fh.write('{"torn":')     # partial bytes, then die
        raise RuntimeError("simulated crash mid-write")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(RuntimeError, match="mid-write"):
        eng._store_watermark("fact_orders_by_day", T_FAR)
    monkeypatch.setattr(json, "dump", real_dump)
    # the live file still parses and holds the previous state
    assert json.load(open(eng._wm_path)) == before

    # the append-success commit is a single atomic write
    writes = []
    real_atomic = eng._atomic_json
    monkeypatch.setattr(
        Engine, "_atomic_json",
        staticmethod(lambda path, obj: (writes.append(path),
                                        real_atomic(path, obj))[1]))
    eng._mark_inflight("fact_orders_by_day")
    writes.clear()
    eng._commit_watermark("fact_orders_by_day", T_FAR)
    assert len(writes) == 1
    assert "fact_orders_by_day" not in eng._inflight()
    assert eng.watermarks()["fact_orders_by_day"] == T_FAR.isoformat()


def test_refused_append_cleans_its_stage(spark, tmp_path):
    """ADVICE r16: a manifest-mode append refused for overlapping a
    compaction-absorbed window raises AFTER its payload staged — the
    stage dir must be reclaimed on the raise, or every refused rerun
    leaks a full copy of the append payload on disk (nothing GCs
    unpromoted stages until some later successful publish)."""
    from ringo_spark.testbed import EVENTS_ENV, EVENTS_FACT, T_EVENTS_MID

    eng = Engine(spark, EVENTS_ENV, str(tmp_path / "wh"))
    eng.load_sources("/root/testdata/sf0.001")
    eng.run(PopulationMode.FULL, T_EVENTS_MID)
    eng.run(PopulationMode.INCREMENTAL, T_FAR, T_EVENTS_MID)
    eng.compact_fact(EVENTS_FACT)
    for _ in range(2):    # every refused rerun, not just the first
        with pytest.raises(ValueError, match="compaction"):
            eng.run(PopulationMode.INCREMENTAL, T_FAR, T_EVENTS_MID)
        leaked = [d for d in os.listdir(eng.storage) if "__stage_" in d]
        assert leaked == []


def test_compaction_aborts_when_manifest_advances(spark, tmp_path):
    """ADVICE r16 TOCTOU: a windowed append that commits between
    compact_fact's input read and its publish must ABORT the compaction
    with ManifestConflict — a silent CAS retry would publish a snapshot
    missing both the append's rows and its window refuse-key."""
    from ringo_spark.engine import ManifestConflict
    from ringo_spark.testbed import EVENTS_ENV, EVENTS_FACT, T_EVENTS_MID

    table = "fact_events_by_minute"
    eng = Engine(spark, EVENTS_ENV, str(tmp_path / "wh"))
    eng.load_sources("/root/testdata/sf0.001")
    eng.run(PopulationMode.FULL, T_EVENTS_MID)

    other = Engine(spark, EVENTS_ENV, str(tmp_path / "wh"))
    other.load_sources("/root/testdata/sf0.001")

    real = Engine._write_stage
    fired = []

    def hijack(self, df, tbl, partition_by=()):
        # the compaction has read its input manifest by the time it
        # stages; commit a concurrent windowed append in that window
        if self is eng and tbl == table and not fired:
            fired.append(True)
            other.run(PopulationMode.INCREMENTAL, T_FAR, T_EVENTS_MID)
        return real(self, df, tbl, partition_by)

    Engine._write_stage = hijack
    try:
        with pytest.raises(ManifestConflict, match="advanced"):
            eng.compact_fact(EVENTS_FACT)
    finally:
        Engine._write_stage = real

    # the concurrent append's rows survived, and nothing staged leaked
    total = eng.read_table(table).agg(
        {"event_count": "sum"}).collect()[0][0]
    assert [d for d in os.listdir(eng.storage) if "__stage_" in d] == []
    # the rerun (over the advanced snapshot) succeeds and loses nothing
    eng.compact_fact(EVENTS_FACT)
    assert eng.read_table(table).agg(
        {"event_count": "sum"}).collect()[0][0] == total


def test_compaction_aborts_when_manifest_vanishes(spark, tmp_path):
    """ADVICE r17: the compaction TOCTOU guard only fired when the
    re-read manifest existed — if the table was dropped/recreated
    between the input read and the publish, the derived payload
    silently published as v1 over the recreated table.  A vanished
    manifest must abort with ManifestConflict exactly like an advanced
    one."""
    from ringo_spark.engine import ManifestConflict
    from ringo_spark.testbed import EVENTS_ENV, EVENTS_FACT, T_EVENTS_MID

    table = "fact_events_by_minute"
    eng = Engine(spark, EVENTS_ENV, str(tmp_path / "wh"))
    eng.load_sources("/root/testdata/sf0.001")
    eng.run(PopulationMode.FULL, T_EVENTS_MID)

    real = Engine._write_stage
    fired = []

    def hijack(self, df, tbl, partition_by=()):
        # drop the manifest in the window between the compaction's
        # input read and its publish (concurrent drop/recreate)
        if self is eng and tbl == table and not fired:
            fired.append(True)
            os.unlink(eng._manifest_path(table))
        return real(self, df, tbl, partition_by)

    Engine._write_stage = hijack
    try:
        with pytest.raises(ManifestConflict, match="dropped"):
            eng.compact_fact(EVENTS_FACT)
    finally:
        Engine._write_stage = real
    # nothing staged leaked on the abort path
    assert [d for d in os.listdir(eng.storage) if "__stage_" in d] == []


ORDERS_DIMS = {"dim_order_status", "dim_order_priority", "dim_line_status"}
ORDERS_FACTS = ("fact_orders_by_day", "fact_lineitem_by_day")


def test_independent_dimensions_run_concurrently(engine, monkeypatch):
    """``run`` executes the refresh's dependency DAG: the three
    ORDERS_ENV dimensions depend on nothing derived, so all three are in
    their full write at the same time.  A serial loop never gets the
    three through the barrier (it breaks after its timeout)."""
    import threading

    barrier = threading.Barrier(len(ORDERS_DIMS), timeout=30)
    real = Engine._write_full

    def spy(self, df, table, *args, **kwargs):
        if table in ORDERS_DIMS:
            barrier.wait()
        return real(self, df, table, *args, **kwargs)

    monkeypatch.setattr(Engine, "_write_full", spy)
    assert engine.run(PopulationMode.FULL, T_FAR) == list(ORDERS_FACTS)
    assert all(engine.table_exists(t) for t in ORDERS_DIMS | set(ORDERS_FACTS))


def test_dimension_failure_stops_the_dag(engine, monkeypatch):
    """A dimension that raises fails ``run`` with its own error: no fact
    that depends on it starts (both facts read dim_order_status), the
    dimensions already in flight finish their publish, no stage dir is
    left behind and every sidecar still parses."""
    real = Engine._write_full

    def failing(self, df, table, *args, **kwargs):
        if table == "dim_order_status":
            raise RuntimeError("injected dimension failure")
        return real(self, df, table, *args, **kwargs)

    monkeypatch.setattr(Engine, "_write_full", failing)
    with pytest.raises(RuntimeError, match="injected dimension failure"):
        engine.run(PopulationMode.FULL, T_FAR)
    assert not any(engine.table_exists(t) for t in ORDERS_FACTS)
    assert not engine.table_exists("dim_order_status")
    assert engine.table_exists("dim_order_priority")
    assert engine.table_exists("dim_line_status")
    left = os.listdir(engine.storage)
    assert [d for d in left if "__stage_" in d] == []
    for name in left:
        if name.endswith(".json"):
            with open(os.path.join(engine.storage, name)) as fh:
                json.load(fh)
    assert set(engine.watermarks()) == {"dim_order_priority",
                                        "dim_line_status"}


def test_sidecar_writers_on_distinct_tables_lose_nothing(spark, tmp_path):
    """Tables of one DAG commit from different threads: 8 threads each
    stamping a watermark and an inflight marker for tables of their own
    leave every entry in the shared sidecar."""
    import sys
    import threading

    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "wh"))
    start = threading.Barrier(8, timeout=30)
    errors = []

    def writer(i: int) -> None:
        try:
            start.wait()
            for r in range(20):
                eng._store_watermark(f"t{i}_{r}", T_FAR)
                eng._mark_inflight(f"t{i}_{r}")
        except Exception as e:       # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)      # interleave the read-modify-writes
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    names = {f"t{i}_{r}" for i in range(8) for r in range(20)}
    wm = eng.watermarks()
    assert set(wm) - {"__inflight__"} == names
    assert set(wm["__inflight__"]) == names


def test_reloading_sources_runs_no_spark_job(spark, tmp_path):
    """``load_sources`` goes through the memoized catalog: loading the
    same files again reads their schemas from the memo, with no Spark
    job."""
    from tests.fixtures import count_spark_jobs

    eng = Engine(spark, ORDERS_ENV, str(tmp_path / "wh"))
    eng.load_sources("/root/testdata/sf0.001")
    with count_spark_jobs(spark) as c:
        eng.load_sources("/root/testdata/sf0.001")
    assert c["jobs"] == 0
    assert set(eng.sources) == {"orders", "lineitem", "customer"}


def test_reading_published_tables_runs_no_spark_job(engine):
    """``read_table`` resolves the manifest and reads with the schema the
    publish recorded, so reading every published table back infers
    nothing from footers: no Spark job (a footer-inference read runs
    one job per table)."""
    from tests.fixtures import count_spark_jobs

    engine.run(PopulationMode.FULL, T_FAR)
    tables = engine.published_tables()
    assert set(tables) == ORDERS_DIMS | set(ORDERS_FACTS)
    with count_spark_jobs(engine.spark) as c:
        frames = [engine.read_table(t) for t in tables]
    assert c["jobs"] == 0
    assert all(df.columns for df in frames)


def test_rename_era_table_dir_is_refused(engine):
    """A ``<storage>/<table>/`` dir with no manifest is a table the
    retired rename protocol published.  Reading it, or refreshing over
    it in either mode, raises a typed error naming the table and the
    fix instead of publishing ``__v1`` beside the stale dir."""
    from ringo_spark.engine import LegacyTableDir

    legacy = os.path.join(engine.storage, "dim_order_status")
    engine.spark.range(3).write.parquet(legacy)
    with pytest.raises(LegacyTableDir, match="dim_order_status.*full "
                                             "refresh into a fresh storage"):
        engine.read_table("dim_order_status")
    for mode in (PopulationMode.INCREMENTAL, PopulationMode.FULL):
        with pytest.raises(LegacyTableDir, match="dim_order_status"):
            engine.run(mode, T_FAR)
    assert not [d for d in os.listdir(engine.storage)
                if d.startswith("dim_order_status__")]
    assert os.listdir(legacy)


def test_commit_mode_keyword_selects_nothing(spark, tmp_path):
    """Both accepted ``commit_mode`` strings give the one manifest
    protocol; any other value is refused."""
    for mode in ("rename", "manifest"):
        eng = Engine(spark, ORDERS_ENV, str(tmp_path / mode), commit_mode=mode)
        eng._write_full(spark.range(2), "t")
        assert eng.table_versions("t") == [1]
        assert not hasattr(eng, "commit_mode")
    with pytest.raises(ValueError, match="commit_mode"):
        Engine(spark, ORDERS_ENV, str(tmp_path / "x"), commit_mode="copy")
