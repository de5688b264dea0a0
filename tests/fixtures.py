"""The reference's shared doctest fixture (``/root/reference/src/Ringo.hs:26-140``)
re-expressed in our model, used for golden tests of schema derivation;
plus :func:`count_spark_jobs`, the job counter construction-layer tests
share, and the plan helpers the index-pruning tests share."""

import contextlib
import re
import uuid

from ringo_spark.model import (
    Column, DimId, DimTime, DimVal, Fact, FactColumn, FactCount, ForeignKey,
    NoDimId, Nullable as N, PrimaryKey, Settings, Table, UniqueKey,
)

NN = N.NOT_NULL

session_events_table = Table(
    "session_events",
    [
        Column("id", "uuid", NN),
        Column("created_at", "timestamp without time zone", NN),
        Column("member_id", "integer"),
        Column("publisher_id", "integer", NN),
        Column("user_agent", "character varying(1024)"),
        Column("browser_name", "character varying(50)"),
        Column("os", "character varying(50)"),
        Column("geo_country_name", "character varying(50)"),
        Column("geo_city_name", "character varying(50)"),
        Column("geo_continent_name", "character varying(15)"),
        Column("geo_most_specific_subdivision_name", "character varying(100)"),
        Column("geo_longitude", "numeric(9,6)"),
        Column("geo_latitude", "numeric(9,6)"),
        Column("geo_time_zone", "character varying(20)"),
        Column("geo_postal_code", "character varying(20)"),
        Column("user_agent_name", "character varying(100)"),
        Column("user_agent_type", "character varying(15)"),
        Column("user_agent_version", "character varying(100)"),
        Column("user_agent_device", "character varying(15)"),
    ],
    [PrimaryKey("id")],
)

page_view_events_table = Table(
    "page_view_events",
    [
        Column("id", "uuid", NN),
        Column("created_at", "timestamp without time zone", NN),
        Column("member_id", "integer"),
        Column("publisher_id", "integer", NN),
        Column("device_tracker_id", "uuid"),
        Column("session_event_id", "uuid"),
        Column("page_type", "character varying(20)", NN),
        Column("referrer", "character varying(1024)"),
        Column("url", "character varying(1024)"),
        Column("referrer_id", "integer"),
    ],
    [
        PrimaryKey("id"),
        ForeignKey("session_events", [("session_event_id", "id"),
                                      ("publisher_id", "publisher_id")]),
        ForeignKey("referrers", [("referrer_id", "id"),
                                 ("publisher_id", "publisher_id")]),
    ],
)

referrers_table = Table(
    "referrers",
    [
        Column("id", "integer", NN),
        Column("publisher_id", "integer", NN),
        Column("name", "character varying(100)", NN),
    ],
    [PrimaryKey("id"), UniqueKey(["publisher_id", "name"])],
)

tables = [session_events_table, page_view_events_table, referrers_table]

session_fact = Fact(
    name="session",
    table_name="session_events",
    columns=[
        FactColumn("created_at", DimTime()),
        FactColumn("publisher_id", NoDimId()),
        FactColumn("browser_name", DimVal("user_agent")),
        FactColumn("os", DimVal("user_agent")),
        FactColumn("user_agent_name", DimVal("user_agent")),
        FactColumn("geo_country_name", DimVal("geo")),
        FactColumn("geo_city_name", DimVal("geo")),
        FactColumn("geo_continent_name", DimVal("geo")),
        FactColumn("session_count", FactCount()),
    ],
)

page_view_fact = Fact(
    name="page_view",
    table_name="page_view_events",
    parent_names=["session"],
    columns=[
        FactColumn("created_at", DimTime()),
        FactColumn("publisher_id", NoDimId()),
        FactColumn("page_type", DimVal("page_type")),
        FactColumn("referrer_id", DimId("referrers")),
        FactColumn("view_count", FactCount()),
    ],
)

facts = [session_fact, page_view_fact]

type_defaults = {
    "integer": "-1",
    "timestamp": "'00-00-00 00:00:00'",
    "character": "'__UNKNOWN_VAL__'",
    "uuid": "'00000000-0000-0000-0000-000000000000'::uuid",
    "boolean": "false",
    "json": "'{}'::json",
    "numeric": "-1",
    "text": "'__UNKNOWN_VAL__'",
}

settings = Settings(table_name_suffix_template="")


_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


@contextlib.contextmanager
def count_spark_jobs(spark):
    """Count the Spark jobs launched inside the block: the block runs
    under a job group of its own, and on exit ``statusTracker()`` reports
    that group's jobs into the yielded dict's ``"jobs"`` key.  Jobs Spark
    runs under a group of its own (broadcast exchanges) are not counted.
    The caller's job group is restored on exit."""
    sc = spark.sparkContext
    saved = {p: sc.getLocalProperty(p) for p in _GROUP_PROPS}
    group = f"count-spark-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count_spark_jobs", False)
    out: dict = {}
    try:
        yield out
    finally:
        for p, v in saved.items():
            sc.setLocalProperty(p, v)
        out["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))


def _plan_nodes(node):
    """Every physical node under ``node``, through AQE's wrappers: the
    adaptive root, its query stages and reused exchanges."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
        return
    if name == "ReusedExchangeExec":
        yield from _plan_nodes(node.child())
        return
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def partitions_read(df) -> list[int]:
    """After ``df`` has run: the "number of partitions read" metric of
    each scan of a partitioned parquet dir in its executed plan — the
    count dynamic partition pruning leaves."""
    out = []
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        if node.getClass().getSimpleName() == "FileSourceScanExec" and \
                node.metrics().contains("numPartitions"):
            out.append(int(node.metrics().apply("numPartitions").value()))
    return out


def index_scan_partition_filters(plan: str, root: str) -> str:
    """The PartitionFilters of the formatted plan's parquet scan whose
    Location lies under the index root ``root``."""
    for block in plan.split("\n\n"):
        if "Scan parquet" in block and root in block:
            m = re.search(r"PartitionFilters: \[(.*)\]", block)
            assert m, "index scan lost its partition filter"
            return m.group(1)
    raise AssertionError(f"no parquet scan under {root} in the plan")


def assert_dynamic_pruning(filters: str, key: str) -> None:
    """The scan is pruned at run time by the join's broadcast build side
    (dynamic partition pruning on ``key``), not by a literal IN list
    collected to the driver while the frame was built."""
    assert f"dynamicpruningexpression({key}#" in filters, filters
    assert re.search(r"IN \(", filters) is None, filters
