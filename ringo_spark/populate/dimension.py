"""Dimension population executor.

Executes (rather than prints, as the reference does) the dataflow specified
by ``dimensionTablePopulateSQL``
(``/root/reference/src/Ringo/Generator/Populate/Dimension.hs:27-62``;
golden SQL in ``src/Ringo.hs:349-470``):

full mode::

    SELECT DISTINCT coalesce(c1, def1) AS d1, ...
    FROM   <fact source table>
    WHERE  (c1 IS NOT NULL OR c2 IS NOT NULL OR ...)   -- raw columns
      AND  time_col <  :upper
    [ AND  time_col >= :lower ]                        -- incremental only

incremental mode additionally anti-joins the existing dimension rows
(the reference's LEFT JOIN ... WHERE ... IS NULL manual anti-join,
Populate/Dimension.hs:49-60 — expressed natively as ``left_anti``).

Surrogate keys: Postgres assigns ``serial`` ids implicitly; Spark has no
sequences, so we assign ``row_number() OVER (ORDER BY <natural key>)``
(+ max existing id in incremental mode).  Ids are deterministic for a given
input.  Scale note: the window is single-partition, but it runs *after*
``distinct()`` has reduced the data to dimension cardinality (dimensions
are small by construction — that is the point of a star schema), so the
single task touches only the deduped rows.  The distinct itself is a
map-side-combining shuffle at full parallelism.

A pathological high-cardinality ``DimVal`` (a near-unique string column)
would funnel the whole dimension through that one sorting task, so id
assignment is GATED (pattern: ``similarity.CELL_ASSIGN_LITERAL_MAX_K``):
when the optimizer's size estimate for the deduped rows exceeds
``ringo.dimIdSingleSortMaxBytes`` (default 1 GiB) — or is unavailable —
ids come from :func:`_partitioned_row_numbers` instead: a
``repartitionByRange`` on the full natural key (total order, no ties
post-distinct) + per-partition ``row_number`` + collected per-partition
offsets (a #partitions-sized driver list, never rows).  Both forms
produce BIT-IDENTICAL ids — global rank in natural-key order — which
``tests/test_populate.py`` pins by running both on the same input.
"""

from __future__ import annotations

from functools import reduce

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..model import Env, Fact, PopulationMode
from .common import (
    coalesce_column, dim_column_mapping, fk_spark_type, time_column_name,
    time_filter,
)


# Optimizer-estimated size (bytes) of the deduped dimension rows above
# which surrogate-key assignment switches from the single-task global
# sort to the partitioned form.  Estimate-based so the gate costs no
# extra Spark job: without CBO the estimate is roughly the pruned source
# scan size, which over-states the post-distinct cardinality — i.e. the
# gate only ever switches EARLY to the scale-safe form (ids identical
# either way).  Conf key overrides; 0 forces the partitioned form.
DIM_ID_SINGLE_SORT_MAX_BYTES = 1 << 30
DIM_ID_GATE_CONF_KEY = "ringo.dimIdSingleSortMaxBytes"


def _plan_size_estimate(df: DataFrame) -> int | None:
    """Catalyst's sizeInBytes estimate for ``df`` (no job), or None when
    the JVM cannot compute plan statistics."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Py4JJavaError:
        return None


def _partitioned_row_numbers(rows: DataFrame, dim_cols: list[str],
                             id_col: str) -> DataFrame:
    """Global rank by natural key without a single-task sort.

    ``repartitionByRange`` on the FULL key tuple gives ordered,
    non-overlapping ranges (the key is unique post-distinct, so ties
    cannot straddle a boundary); a per-partition ``row_number`` plus the
    cumulative count of earlier ranges is then exactly the global
    ``row_number() OVER (ORDER BY <key>)`` — each range sorts in its own
    task.  The only driver-side data is one (partition, count) pair per
    range.

    The partitioned frame is local-checkpointed (materialized) BEFORE
    the counts job: the counts and the final projection are separate
    Spark jobs, and without pinning, each job re-plans the range
    exchange — re-sampling over the nondeterministically-ordered
    ``distinct()`` output can shift range boundaries between the two
    jobs, pairing job 1's offsets with job 2's partitions (wrong ids;
    observed in testing).  With the checkpoint both jobs read the same
    materialized partitions, so offsets always match their partitions —
    and the final id is the boundary-independent global rank, so ids
    stay deterministic across runs regardless of where sampling drew
    the boundaries."""
    spark = rows.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    part = (rows.repartitionByRange(n, *[F.col(c) for c in dim_cols])
            .withColumn("__pid", F.spark_partition_id()))
    # reliable checkpoint when the session has a checkpoint dir (the
    # cluster setting for exactly the >gate dimensions this path
    # serves): localCheckpoint blocks are executor-local and
    # unreplicated, so on a real cluster one lost executor between the
    # counts job and the final projection would fail the population
    # with no lineage to recompute.  local[32] (tests, bench) has no
    # checkpoint dir and keeps the cheap local form.
    has_ckpt_dir = bool(spark.sparkContext._jsc.sc()
                        .getCheckpointDir().isDefined())
    part = (part.checkpoint(eager=True) if has_ckpt_dir
            else part.localCheckpoint(eager=True))
    counts = (part.groupBy("__pid")
              .agg(F.count(F.lit(1)).alias("__cnt")).collect())
    offsets, acc = {}, 0
    for r in sorted(counts, key=lambda r: r["__pid"]):
        offsets[r["__pid"]] = acc
        acc += r["__cnt"]
    off_expr = (F.create_map(*[F.lit(x) for pid_off in offsets.items()
                               for x in pid_off])[F.col("__pid")]
                if offsets else F.lit(0))
    local = F.row_number().over(
        Window.partitionBy("__pid").orderBy(*[F.col(c) for c in dim_cols]))
    return (part.withColumn(id_col, (local + off_expr).cast("long"))
            .drop("__pid"))


def dimension_population_df(
    env: Env,
    fact: Fact,
    dim_table_name: str,
    catalog: dict[str, DataFrame],
    mode: PopulationMode = PopulationMode.FULL,
    time_upper=None,
    time_lower=None,
    existing_dim: DataFrame | None = None,
    assign_ids: bool = True,
) -> DataFrame:
    """Return the rows to insert into ``dim_table_name``.

    ``catalog`` maps source table name -> DataFrame.  ``existing_dim`` is the
    current dimension contents (required for incremental mode: anti-join +
    id offset).  With ``assign_ids`` the result gains the surrogate
    ``id`` column as its first column.
    """
    s = env.settings
    src_table = env.find_table(fact.table_name)
    src = catalog[fact.table_name]
    mapping = dim_column_mapping(s.dim_prefix, fact, dim_table_name)
    if not mapping:
        raise ValueError(f"fact {fact.name} has no DimVal columns for {dim_table_name}")

    # any-not-null filter over the *raw* source columns (Populate/Dimension.hs:38)
    not_null = reduce(lambda a, b: a | b,
                      [F.col(srcc).isNotNull() for _, srcc in mapping])
    cond = not_null
    tcol = time_column_name(fact)
    if time_upper is not None:
        cond = cond & time_filter(src, tcol, "<", time_upper)
    if mode == PopulationMode.INCREMENTAL and time_lower is not None:
        cond = cond & time_filter(src, tcol, ">=", time_lower)

    rows = (
        src.where(cond)
        .select(*[
            coalesce_column(env, src_table, src_table.find_column(srcc)).alias(dimc)
            for dimc, srcc in mapping
        ])
        .distinct()
    )

    dim_cols = [dimc for dimc, _ in mapping]
    id_col = s.dim_table_id_column_name

    if mode == PopulationMode.INCREMENTAL:
        if existing_dim is None:
            raise ValueError("incremental dimension population requires existing_dim")
        # new-rows-only anti-join (Populate/Dimension.hs:49-60).  Dim columns
        # are coalesced NOT NULL, so plain equality is faithful to the
        # reference's `=` predicates.
        rows = rows.join(F.broadcast(existing_dim.select(*dim_cols)),
                         on=dim_cols, how="left_anti")

    if not assign_ids:
        return rows

    id_type = fk_spark_type(s)  # serial -> int, bigserial -> bigint
    gate_conf = src.sparkSession.conf.get(DIM_ID_GATE_CONF_KEY, None)
    gate = (int(gate_conf) if gate_conf is not None
            else DIM_ID_SINGLE_SORT_MAX_BYTES)
    est = _plan_size_estimate(rows)
    if est is None or est > gate:
        # scale-safe twin: same ids, no single-task sort (module doc)
        with_id = _partitioned_row_numbers(rows, dim_cols, id_col)
    else:
        w = Window.orderBy(*[F.col(c) for c in dim_cols])
        with_id = rows.withColumn(id_col, F.row_number().over(w))
    if mode == PopulationMode.INCREMENTAL:
        offset = F.broadcast(
            existing_dim.agg(F.coalesce(F.max(id_col), F.lit(0)).alias("__id_offset")))
        with_id = (with_id.crossJoin(offset)
                   .withColumn(id_col, (F.col(id_col) + F.col("__id_offset"))
                               .cast(id_type))
                   .drop("__id_offset"))
    else:
        with_id = with_id.withColumn(id_col, F.col(id_col).cast(id_type))
    return with_id.select(id_col, *dim_cols)
