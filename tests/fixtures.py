"""The reference's shared doctest fixture (``/root/reference/src/Ringo.hs:26-140``)
re-expressed in our model, used for golden tests of schema derivation;
plus :func:`count_spark_jobs`, the job counter construction-layer tests
share."""

import contextlib
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
