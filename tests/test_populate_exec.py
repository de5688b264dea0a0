"""Executed population tests on tiny in-memory tables — exercising the
NULL-handling paths the synthetic testdata doesn't (coalesce-to-default,
all-NULL row drop, FK -1 sentinel, incremental anti-join id offsets).

Semantics pinned by the reference's golden SQL (src/Ringo.hs:349-618)."""

import datetime as dt

import pytest

from ringo_spark.model import (
    Column, DimTime, DimVal, Fact, FactColumn, FactCount, FactSum, NoDimId,
    Nullable, PopulationMode, PrimaryKey, Settings, Table, TimeUnit,
)
from ringo_spark.populate.dimension import dimension_population_df
from ringo_spark.populate.fact import fact_population_df
from ringo_spark.validator import make_env

NN = Nullable.NOT_NULL

SRC = Table("clicks", [
    Column("id", "bigint", NN),
    Column("at", "timestamp without time zone", NN),
    Column("site", "integer"),
    Column("browser_name", "character varying(20)"),
    Column("browser_version", "character varying(20)"),
    Column("clicks", "integer"),
], [PrimaryKey("id")])

FACT = Fact("clicks", "clicks", [
    FactColumn("at", DimTime()),
    FactColumn("site", NoDimId()),
    FactColumn("browser_name", DimVal("browser")),
    FactColumn("browser_version", DimVal("browser")),
    FactColumn("click_count", FactCount()),
    FactColumn("click_sum", FactSum("clicks")),
])

DEFAULTS = {"integer": "-1", "character": "'__UNKNOWN_VAL__'",
            "timestamp": "'1970-01-01 00:00:00'"}
ENV = make_env([SRC], [FACT], Settings(time_unit=TimeUnit.HOUR), DEFAULTS)

T0 = dt.datetime(2024, 6, 1, 10, 30)


def mk_catalog(spark):
    rows = [
        (1, T0, 7, "firefox", "1.0", 3),
        (2, T0, 7, "firefox", "1.0", 2),
        (3, T0, None, "chrome", None, 5),
        (4, T0, 7, None, None, 1),        # all dim cols NULL -> dropped from dim
        (5, dt.datetime(2024, 6, 2, 11, 0), 8, "chrome", "9.9", 4),
    ]
    df = spark.createDataFrame(
        rows, "id long, at timestamp, site int, browser_name string, "
              "browser_version string, clicks int")
    return {"clicks": df}


def test_dimension_population_coalesce_and_drop(spark):
    dim = dimension_population_df(ENV, FACT, "dim_browser", mk_catalog(spark),
                                  time_upper=dt.datetime(2030, 1, 1))
    rows = {tuple(r) for r in dim.collect()}
    # row 4 dropped (all dimval sources NULL); partial NULL coalesced;
    # ids assigned by natural-key order
    assert rows == {
        (1, "chrome", "9.9"),
        (2, "chrome", "__UNKNOWN_VAL__"),
        (3, "firefox", "1.0"),
    }
    # leading "<dim>_" prefix stripped, like the reference's
    # user_agent_name -> dim_user_agent.name (src/Ringo.hs:181-189)
    assert dim.columns == ["id", "name", "version"]


def test_dimension_population_time_filter(spark):
    dim = dimension_population_df(ENV, FACT, "dim_browser", mk_catalog(spark),
                                  time_upper=dt.datetime(2024, 6, 2))
    assert {r.name for r in dim.collect()} == {"firefox", "chrome"}
    assert dim.count() == 2  # chrome 9.9 arrives only in the later window


def test_dimension_population_incremental_anti_join(spark):
    cat = mk_catalog(spark)
    b1 = dimension_population_df(ENV, FACT, "dim_browser", cat,
                                 time_upper=dt.datetime(2024, 6, 2))
    b2 = dimension_population_df(ENV, FACT, "dim_browser", cat,
                                 mode=PopulationMode.INCREMENTAL,
                                 time_upper=dt.datetime(2030, 1, 1),
                                 time_lower=dt.datetime(2024, 6, 2),
                                 existing_dim=b1)
    new = [tuple(r) for r in b2.collect()]
    # only the genuinely new natural key arrives, with offset id (max+1 = 3)
    assert new == [(3, "chrome", "9.9")]


def test_fact_population_rollup(spark):
    cat = mk_catalog(spark)
    dim = dimension_population_df(ENV, FACT, "dim_browser", cat,
                                  time_upper=dt.datetime(2030, 1, 1))
    out = fact_population_df(ENV, FACT, cat, dims={"dim_browser": dim},
                             time_upper=dt.datetime(2030, 1, 1))
    assert out.columns == ["at_hour_id", "site", "click_count", "click_sum",
                           "browser_id"]
    rows = {(r.at_hour_id, r.site, r.click_count, r.click_sum, r.browser_id)
            for r in out.collect()}
    hour1 = int(T0.replace(tzinfo=dt.timezone.utc).timestamp()) // 3600
    hour2 = int(dt.datetime(2024, 6, 2, 11, 0, tzinfo=dt.timezone.utc)
                .timestamp()) // 3600
    # firefox/1.0 -> id 3; chrome/__UNKNOWN_VAL__ -> id 2; chrome/9.9 -> id 1
    # row 4 (NULL,NULL) coalesces to (__UNKNOWN_VAL__,__UNKNOWN_VAL__): no dim
    # row -> FK -1 sentinel; site NULL -> -1 (type default)
    assert rows == {
        (hour1, 7, 2, 5, 3),     # rows 1+2
        (hour1, -1, 1, 5, 2),    # row 3, site NULL coalesced
        (hour1, 7, 1, 1, -1),    # row 4, dim lookup miss -> -1
        (hour2, 8, 1, 4, 1),     # row 5
    }


def test_fact_population_incremental_window(spark):
    cat = mk_catalog(spark)
    dim = dimension_population_df(ENV, FACT, "dim_browser", cat,
                                  time_upper=dt.datetime(2030, 1, 1))
    out = fact_population_df(ENV, FACT, cat, dims={"dim_browser": dim},
                             mode=PopulationMode.INCREMENTAL,
                             time_upper=dt.datetime(2030, 1, 1),
                             time_lower=dt.datetime(2024, 6, 2))
    assert out.count() == 1  # only row 5 in the window


def test_count_distinct_defaults_to_primary_key(spark):
    """FactCountDistinct with no source column counts the source table's PK
    (Populate/Fact.hs:75) — not a column named after the target."""
    from ringo_spark.model import FactCountDistinct

    fact = Fact("clicks", "clicks", [
        FactColumn("at", DimTime()),
        FactColumn("uniq", FactCountDistinct()),   # no such column 'uniq'
    ])
    env = make_env([SRC], [fact], Settings(time_unit=TimeUnit.HOUR), DEFAULTS)
    out = fact_population_df(env, fact, mk_catalog(spark),
                             time_upper=dt.datetime(2030, 1, 1),
                             count_distinct_mode="exact")
    got = {(r.at_hour_id, r.uniq) for r in out.collect()}
    hour1 = int(T0.replace(tzinfo=dt.timezone.utc).timestamp()) // 3600
    hour2 = int(dt.datetime(2024, 6, 2, 11, 0, tzinfo=dt.timezone.utc)
                .timestamp()) // 3600
    assert got == {(hour1, 4), (hour2, 1)}  # distinct ids, hour buckets


def test_exact_count_distinct_elides_only_grain_key_sources(spark):
    """An exact count-distinct whose source column is a grain key (here
    the NoDimId ``site``) collapses to ``max(col IS NOT NULL)``; one over
    a non-key column (``browser_name``) keeps ``count(DISTINCT ...)``.
    Both give the counts of a plain ``countDistinct`` per group."""
    from pyspark.sql import functions as F

    from ringo_spark.model import FactCountDistinct

    fact = Fact("clicks", "clicks", [
        FactColumn("at", DimTime()),
        FactColumn("site", NoDimId()),
        FactColumn("site_count", FactCountDistinct("site")),
        FactColumn("browser_count", FactCountDistinct("browser_name")),
    ])
    env = make_env([SRC], [fact], Settings(time_unit=TimeUnit.HOUR), DEFAULTS)
    cat = mk_catalog(spark)
    out = fact_population_df(env, fact, cat,
                             time_upper=dt.datetime(2030, 1, 1),
                             count_distinct_mode="exact")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "count(distinct browser_name" in plan, plan
    assert "count(distinct site" not in plan, plan
    assert "isnotnull(site" in plan, plan

    got = {(r.at_hour_id, r.site): (r.site_count, r.browser_count)
           for r in out.collect()}
    want = {(r.h, r.s): (r.sc, r.bc) for r in cat["clicks"].groupBy(
        (F.unix_timestamp("at") / 3600).cast("long").alias("h"),
        F.coalesce(F.col("site"), F.lit(-1)).alias("s"),
    ).agg(F.countDistinct("site").alias("sc"),
          F.countDistinct("browser_name").alias("bc")).collect()}
    assert got == want
    assert (0, 1) in got.values()   # the all-NULL site group counts 0


def test_bigserial_id_type(spark):
    """dim_table_id_column_type drives the surrogate-id / FK cast: bigserial
    ids must come out as bigint, not int."""
    env = make_env([SRC], [FACT],
                   Settings(time_unit=TimeUnit.HOUR,
                            dim_table_id_column_type="bigserial"), DEFAULTS)
    cat = mk_catalog(spark)
    dim = dimension_population_df(env, FACT, "dim_browser", cat,
                                  time_upper=dt.datetime(2030, 1, 1))
    assert dict(dim.dtypes)["id"] == "bigint"
    out = fact_population_df(env, FACT, cat, dims={"dim_browser": dim},
                             time_upper=dt.datetime(2030, 1, 1))
    assert dict(out.dtypes)["browser_id"] == "bigint"


def test_partitioned_id_assignment_equals_single_sort(spark):
    """The surrogate-key scale gate (ringo.dimIdSingleSortMaxBytes)
    switches between the single-task global sort and the partitioned
    range-sort + per-partition-offset form; both must assign
    BIT-IDENTICAL ids (global rank in natural-key order), full and
    incremental, and the partitioned form must be deterministic across
    repeated runs."""
    import random

    from ringo_spark.populate.dimension import DIM_ID_GATE_CONF_KEY

    random.seed(11)
    rows = [(i, T0, 1, "b%04d" % random.randrange(400),
             "v%02d" % random.randrange(25), 1) for i in range(4000)]
    df = spark.createDataFrame(
        rows, "id long, at timestamp, site int, browser_name string, "
              "browser_version string, clicks int")
    cat = {"clicks": df}
    hi = dt.datetime(2030, 1, 1)
    try:
        spark.conf.set(DIM_ID_GATE_CONF_KEY, str(1 << 60))  # single sort
        single = sorted(map(tuple, dimension_population_df(
            ENV, FACT, "dim_browser", cat, time_upper=hi).collect()))
        spark.conf.set(DIM_ID_GATE_CONF_KEY, "0")           # partitioned
        part1 = sorted(map(tuple, dimension_population_df(
            ENV, FACT, "dim_browser", cat, time_upper=hi).collect()))
        part2 = sorted(map(tuple, dimension_population_df(
            ENV, FACT, "dim_browser", cat, time_upper=hi).collect()))
        assert single == part1 == part2
        assert [r[0] for r in single] == list(range(1, len(single) + 1))

        # incremental: id offset continues from the existing max under
        # the partitioned form too
        existing = dimension_population_df(
            ENV, FACT, "dim_browser", {"clicks": df.limit(1500)},
            time_upper=hi)
        inc = dimension_population_df(
            ENV, FACT, "dim_browser", cat, mode=PopulationMode.INCREMENTAL,
            time_upper=hi, existing_dim=existing).collect()
        max_existing = max(r[0] for r in existing.collect())
        assert min(r[0] for r in inc) == max_existing + 1
    finally:
        spark.conf.unset(DIM_ID_GATE_CONF_KEY)


def test_partitioned_row_numbers_on_adversarial_keys(spark):
    """The partitioned id form must equal the global row_number on keys
    chosen to stress range-boundary placement: unicode, empty strings,
    shared long prefixes, embedded separators/null-lookalikes, and a
    heavily duplicated prefix space collapsing to distinct tuples."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ringo_spark.populate.dimension import _partitioned_row_numbers

    rng = random.Random(42)
    tab = chr(9)
    specials = ["", " ", "  ", tab, "z\u00fcric h", "\u5317\u4eac",
                "a" * 500, "a" * 500 + "b", "__UNKNOWN_VAL__", "NULL",
                "None", "0", "-1", "\U0001f642\U0001f643", "a:b",
                "a:b:c", " ish"]
    vals = specials + ["pfx_%s_%04d" % (rng.choice("xy"), rng.randrange(800))
                       for _ in range(3000)]
    rows = list({(v, "v%02d" % (len(v) % 17)) for v in vals})
    df = spark.createDataFrame(rows, "name string, version string").distinct()

    got = _partitioned_row_numbers(df, ["name", "version"], "id")
    want = df.withColumn(
        "id", F.row_number().over(Window.orderBy("name", "version"))
        .cast("long"))
    g = sorted(tuple(r) for r in got.select("id", "name", "version").collect())
    w = sorted(tuple(r) for r in want.select("id", "name", "version").collect())
    assert g == w and len(g) == len(rows)


# --- salted TenantId grain (r16, VERDICT r15 item 6) -------------------------
#
# salt_tenant_buckets > 0 routes a TenantId-grain fact through the
# two-phase salted aggregation (populate/fact.py docstring; shape in
# functions/skew.py).  Pins: salted output cell-equal to plain for
# count/sum/min/max/avg-pair and EXACT count-distinct (salt aligned to
# the distinct source), epsilon-equal for approx (mergeable HLL at the
# configured rsd), two-exchange map-side-combining plan, and a loud
# error for the one unsupported shape (two exact count-distincts over
# different sources cannot share one salt).

SF001 = "/root/testdata/sf0.001"


def _tenant_fact(cd_cols):
    from ringo_spark.model import (
        FactAverage, FactCountDistinct, FactMax, FactMin, TenantId,
    )
    from ringo_spark.operators.rollup_grain import EVENTS_TENANT_FACT  # noqa: F401
    from ringo_spark.testbed import EVENTS, TYPE_DEFAULTS

    cols = [
        FactColumn("ts", DimTime()),
        FactColumn("user_id", TenantId()),
        FactColumn("event_count", FactCount()),
        FactColumn("value_sum", FactSum("value")),
        FactColumn("value_avg", FactAverage("value")),
        FactColumn("value_max", FactMax("value")),
        FactColumn("value_min", FactMin("value")),
    ] + [FactColumn(n, FactCountDistinct(src)) for n, src in cd_cols]
    fact = Fact("events_salted", "events", cols)
    env = make_env([EVENTS], [fact], Settings(time_unit=TimeUnit.HOUR),
                   TYPE_DEFAULTS)
    return env, fact


def _skewed_events(spark):
    """events with a hot tenant: users 0-8 collapse to tenant 0 (~60% of
    rows at the uniform user distribution) — same injection as the
    registered tenant_rollup_skew_salted row."""
    from pyspark.sql import functions as F

    from ringo_spark.catalog import load_catalog
    from ringo_spark.testbed import EVENTS

    cat = load_catalog(spark, SF001, [EVENTS])
    ev = cat["events"]
    uid = F.coalesce(F.col("user_id"), F.lit(-1))
    return {"events": ev.withColumn(
        "user_id", F.when(uid < 9, F.lit(0)).otherwise(uid))}


def _far():
    return dt.datetime(2100, 1, 1)


def test_salted_tenant_fact_equals_plain_exact_cd(spark):
    env, fact = _tenant_fact([("user_count", "event_id")])
    cat = _skewed_events(spark)
    plain = fact_population_df(env, fact, cat, time_upper=_far(),
                               count_distinct_mode="exact")
    salted = fact_population_df(env, fact, cat, time_upper=_far(),
                                count_distinct_mode="exact",
                                salt_tenant_buckets=16)
    # dtype parity (nullability may differ: the merge re-cast is nullable)
    assert [(f.name, f.dataType) for f in salted.schema] == \
        [(f.name, f.dataType) for f in plain.schema]
    assert sorted(map(tuple, salted.collect())) == \
        sorted(map(tuple, plain.collect()))
    # the hot tenant exists and dominates — the skew being mitigated is real
    hot = salted.where("user_id = 0").agg({"event_count": "sum"}).collect()
    total = salted.agg({"event_count": "sum"}).collect()
    assert hot[0][0] / total[0][0] > 0.4


def test_salted_tenant_fact_approx_cd_within_epsilon(spark):
    env, fact = _tenant_fact([("user_count", "event_id")])
    cat = _skewed_events(spark)
    plain = fact_population_df(env, fact, cat, time_upper=_far(),
                               count_distinct_mode="exact")
    salted = fact_population_df(env, fact, cat, time_upper=_far(),
                                count_distinct_mode="approx",
                                salt_tenant_buckets=16)
    key = lambda r: (r["ts_hour_id"], r["user_id"])  # noqa: E731
    exact = {key(r): r["user_count"] for r in plain.collect()}
    est = {key(r): r["user_count"] for r in salted.collect()}
    assert set(exact) == set(est)
    # rsd 0.05 at lgConfigK from _hll_lg_config_k; allow 5 sigma
    for k, v in exact.items():
        assert abs(est[k] - v) <= max(2, 0.25 * v), (k, v, est[k])


def test_salted_two_exact_count_distinct_sources_raise(spark):
    env, fact = _tenant_fact([("user_count", "event_id"),
                              ("type_count", "event_type")])
    cat = _skewed_events(spark)
    with pytest.raises(ValueError, match="cannot share one salt"):
        fact_population_df(env, fact, cat, time_upper=_far(),
                           count_distinct_mode="exact",
                           salt_tenant_buckets=16)


def test_salted_tenant_fact_plan_is_two_combining_exchanges(spark):
    env, fact = _tenant_fact([])
    cat = _skewed_events(spark)
    salted = fact_population_df(env, fact, cat, time_upper=_far(),
                                salt_tenant_buckets=16)
    simple = salted._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"))
    assert simple.count("Exchange hashpartitioning") == 2, simple
    segs = simple.split("Exchange hashpartitioning")
    assert all("partial_" in seg for seg in segs[1:]), simple
    assert "BatchEvalPython" not in simple
    assert "ArrowEvalPython" not in simple


def test_salt_gate_ignored_without_tenant_column(spark):
    # a non-TenantId fact with the knob set stays on the plain single
    # aggregation (the gate is scoped to the documented TenantId case)
    cat = mk_catalog(spark)
    dim = dimension_population_df(ENV, FACT, "dim_browser", cat,
                                  time_upper=dt.datetime(2100, 1, 1))
    plain = fact_population_df(ENV, FACT, cat, dims={"dim_browser": dim},
                               time_upper=dt.datetime(2100, 1, 1))
    gated = fact_population_df(ENV, FACT, cat, dims={"dim_browser": dim},
                               time_upper=dt.datetime(2100, 1, 1),
                               salt_tenant_buckets=16)
    # the gate must not fire: no salt column anywhere in the plan (the
    # dim-population subplan contributes its own exchanges, so exchange
    # counting is not a stable signal here)
    simple = gated._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"))
    assert "__salt" not in simple, simple
    assert sorted(map(tuple, gated.collect())) == \
        sorted(map(tuple, plain.collect()))


def test_time_filter_raw_ns_bound_is_exact_at_microsecond_bounds(spark):
    """r18 review: the raw-nanos shadow predicate computed its bound via
    float timestamp()*1e6, which truncates microsecond-precision bounds
    (.123456 -> .123455999...) — and because the raw predicate is AND-ed
    with the cast-column one, a 1us-low bound silently DROPPED rows the
    cast predicate includes.  The bound must be exact integer nanos."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ringo_spark.catalog import RAW_NS_PREFIX
    from ringo_spark.populate.common import time_filter

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    whole_s = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    # a row 1ns BELOW the .123456s boundary: strictly inside op="<"
    row_ns = (whole_s * 1_000_000 + 123_456) * 1000 - 1
    us = F.expr(f"{RAW_NS_PREFIX}ts div 1000")   # integer div: float
    # division of an 19-digit long loses the low digits
    df = spark.createDataFrame(
        [(row_ns,)], f"{RAW_NS_PREFIX}ts LONG").withColumn(
        "ts", F.timestamp_micros(us))
    bound = base.replace(microsecond=123_456)
    assert df.where(time_filter(df, "ts", "<", bound)).count() == 1
    # and the boundary row itself is excluded on BOTH predicates
    at = df.withColumn(RAW_NS_PREFIX + "ts", F.lit(row_ns + 1)) \
           .withColumn("ts", F.timestamp_micros(us))
    assert at.where(time_filter(at, "ts", "<", bound)).count() == 0
    assert at.where(time_filter(at, "ts", ">=", bound)).count() == 1
