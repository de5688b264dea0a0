"""Fact population executor.

Executes the dataflow specified by ``factTablePopulateSQL``
(``/root/reference/src/Ringo/Generator/Populate/Fact.hs:127-230``; golden
SQL in ``src/Ringo.hs:477-618``):

1. scan the fact source table;
2. LEFT OUTER JOIN every distinct parent-fact source table on the declared
   ForeignKey column pairs (Populate/Fact.hs:197-202,226-230);
3. per fact column build the output expression (Populate/Fact.hs:155-192):
   time bucket, coalesced degenerate dims, dim surrogate-key lookups,
   aggregates;
4. filter the time window, group by all non-measure expressions, aggregate;

The reference looks dimension surrogate keys up with a correlated scalar
subquery per row (Populate/Fact.hs:185-192).  On Spark we rewrite that as a
**broadcast left equi-join** against the (small) dimension table on its
natural key — semantically identical (the unique key guarantees at most one
match; ``coalesce(id, -1)`` covers the miss case) and strictly better
distributed: no per-row subquery, no shuffle of the big side.

The reference's count-distinct is a two-pass INSERT + UPDATE HLL sketch in
SQL (Populate/Fact.hs:34-125).  We fold it into the same aggregation pass:
``approx_count_distinct(col, rsd)`` (HLL++, same relative-error contract,
default rsd = settings.fact_count_distinct_error_rate = 0.05), or
``hll_sketch_agg`` when mergeable persisted state is requested
(count_distinct_mode="sketch"), or exact ``count_distinct``.
"""

from __future__ import annotations

from pyspark.sql import Column as SparkColumn, DataFrame
from pyspark.sql import functions as F

from ..extractor import (
    extract_all_dimension_tables, fact_dim_fk_id_column_name,
    time_unit_column_name,
)
from ..model import (
    DimId, DimTime, DimVal, Env, Fact, FactAverage, FactCount,
    FactCountDistinct, FactMax, FactMin, FactSum, NoDimId, Nullable,
    PopulationMode, TenantId, ForeignKey,
)
from ..catalog import cast_to_declared
from ..functions.spread import FACT_ROLLUP_BYTES, spread_source
from .common import (
    coalesce_column, dim_column_mapping, fk_spark_type as _fk_spark_type,
    qcol, table_pk_column, time_bucket_expr,
)


def _fk_join_condition(env: Env, fact_table, other_table_name: str):
    """Equi-join predicate from the declared ForeignKey constraint
    (Populate/Fact.hs:226-230)."""
    for c in fact_table.constraints:
        if isinstance(c, ForeignKey) and c.table == other_table_name:
            cond = None
            for mine, theirs in c.columns:
                piece = qcol(fact_table.name, mine) == qcol(other_table_name, theirs)
                cond = piece if cond is None else cond & piece
            return cond
    return None


def _hll_lg_config_k(rsd: float) -> int:
    """DataSketches lgConfigK matching an HLL++ relative-error target:
    rsd = 1.04 / sqrt(2^p)  =>  p = ceil(log2((1.04/rsd)^2)), clamped to
    the library's [4, 21] range."""
    import math

    return max(4, min(21, math.ceil(math.log2((1.04 / rsd) ** 2))))


def fact_population_df(
    env: Env,
    fact: Fact,
    catalog: dict[str, DataFrame],
    dims: dict[str, DataFrame] | None = None,
    mode: PopulationMode = PopulationMode.FULL,
    time_upper=None,
    time_lower=None,
    count_distinct_mode: str = "approx",  # approx | exact | sketch
    salt_tenant_buckets: int = 0,
) -> DataFrame:
    """Return the rolled-up rows to insert into the extracted fact table.

    ``catalog``: source table name -> DataFrame (must cover the fact's source
    table and every parent fact's source table).
    ``dims``: derived dimension table name -> populated DataFrame (with ids).

    ``salt_tenant_buckets`` (opt-in, ``Engine(salt_tenant_buckets=N)`` /
    ``--salt-tenant-buckets``): when > 0 and the fact declares a TenantId
    column, the grain aggregation runs as the two-phase salted shape from
    :mod:`ringo_spark.functions.skew` — phase 1 groups by
    (grain keys, hash(salt source) % N) so a hot tenant's volume spreads
    over N reducers, phase 2 merges N mergeable partials per grain key
    (sum for count/sum/avg-pair, min/max for min/max, HLL sketch-union for
    count-distinct).  Results are pinned equal to the plain path
    (tests/test_populate_exec.py) except approx count-distinct, which
    switches from HLL++ to the mergeable DataSketches HLL at the precision
    matching ``fact_count_distinct_error_rate`` (same ε contract, sketch
    estimates differ within it).  Exact count-distinct stays exact by
    salting on ITS source column (each distinct value lands in exactly one
    bucket, so per-bucket distinct counts sum); two exact count-distincts
    with different sources cannot share one salt and raise.
    """
    s = env.settings
    dims = dims or {}
    all_dims = extract_all_dimension_tables(env, fact)
    f_table = env.find_table(fact.table_name)
    f_name = fact.table_name
    src = catalog[f_name]
    # Widen an under-split fact scan (r19 opt, guide §2.6): the whole
    # map side of the grain rollup — parent-FK broadcast joins, grain
    # expressions, partial aggregation — inherits the scan's split
    # count, and a single-file local source runs it on 1-3 cores.
    # spread_source is driver-side and identity on a well-split corpus;
    # time filters are deterministic predicates, so Catalyst still
    # pushes them below the round-robin exchange to the scan.  Widen the
    # RAW pre-cast frame when the catalog provides it: the declared
    # decimal/timestamp casts then run at full width above the exchange,
    # which also carries the narrower raw types.
    src_path = getattr(src, "_ringo_src_path", None)
    if src_path:
        raw_pair = getattr(src, "_ringo_raw", None)
        if raw_pair is not None:
            raw, raw_table = raw_pair
            wide = spread_source(raw, src_path,
                                 bytes_per_task=FACT_ROLLUP_BYTES)
            if wide is not raw:
                src = cast_to_declared(wide, raw_table)
        else:
            src = spread_source(src, src_path,
                                bytes_per_task=FACT_ROLLUP_BYTES)
    df = src.alias(f_name)

    # --- parent-fact source joins (left outer on declared FKs) -------------
    parent_sources = []
    for dim_fact, _ in all_dims:
        t = dim_fact.table_name
        if t != f_name and t not in parent_sources:
            parent_sources.append(t)
    for pname in parent_sources:
        cond = _fk_join_condition(env, f_table, pname)
        if cond is None:
            raise ValueError(
                f"no ForeignKey from {f_name} to parent source {pname}")
        df = df.join(catalog[pname].alias(pname), cond, "left")

    # --- per-column expressions (Populate/Fact.hs:155-192) -----------------
    group_exprs: list[tuple[str, SparkColumn]] = []   # (output name, expr)
    agg_exprs: list[SparkColumn] = []
    dim_joins: list[tuple[DataFrame, SparkColumn, str, str]] = []
    # salted twin of each aggregate (only consulted when the salt gate
    # fires): phase-1 over (keys, salt), phase-2 merge of the partials
    salted_p1: list[SparkColumn] = []
    salted_merge: list[SparkColumn] = []
    measure_names: list[str] = []
    exact_cd_sources: list[str] = []   # salt-alignment constraint (docstring)

    def add_agg(name: str, plain: SparkColumn,
                p1: SparkColumn | None = None,
                merge: SparkColumn | None = None) -> None:
        agg_exprs.append(plain.alias(name))
        salted_p1.append((plain if p1 is None else p1).alias(name))
        salted_merge.append(
            (F.sum(F.col(name)) if merge is None else merge).alias(name))
        measure_names.append(name)

    def coalesce_fk(expr: SparkColumn) -> SparkColumn:
        return F.coalesce(expr, F.lit(s.foreign_key_id_coalesce_value))

    # group-key fact columns (NoDimId/TenantId): their group expression
    # is the column itself (or coalesce(col, sentinel) when nullable),
    # so WITHIN a group the raw column holds at most one distinct
    # non-null value — either every row equals the group value, or the
    # group is the sentinel and rows are NULL plus possibly literal
    # sentinel occurrences.  An exact count-distinct over such a column
    # is therefore max(col IS NOT NULL): 0 or 1 per group.  (r20,
    # VERDICT r19 item 5: eliding the degenerate distinct removes one
    # whole exchange and two aggregate phases from fact_events_by_minute
    # — its user_count is count_distinct(user_id) at a user_id grain.)
    # The grain keys are resolved to source columns ONCE, here: the same
    # Column objects build the group expressions below and decide the
    # elision, so the premise rests on the resolved column, not a name.
    grain_cols = {fc.target_column: f_table.find_column(fc.target_column)
                  for fc in fact.columns
                  if isinstance(fc.type, (NoDimId, TenantId))}

    def is_grain_key(src_name: str) -> bool:
        src = f_table.find_column(src_name)
        resolved = any(src is not None and src is c
                       for c in grain_cols.values())
        if resolved != (src_name in grain_cols):
            raise ValueError(
                f"count-distinct source {f_name}.{src_name} matches a "
                f"grain key by name but not by resolved column")
        return resolved

    def add_count_distinct(col: SparkColumn, name: str, src_name: str) -> None:
        if count_distinct_mode == "exact":
            if is_grain_key(src_name):
                # degenerate: the distinct source is a grain key.
                # max() merges exactly under any salt, so the salted
                # twin needs no source-aligned salt for this column.
                add_agg(name,
                        F.max(F.when(col.isNotNull(), 1).otherwise(0))
                        .cast("long"),
                        merge=F.max(F.col(name)))
                return
            exact_cd_sources.append(src_name)
            # salted phase 1 counts distincts per (keys, salt-on-src):
            # each distinct value lands in exactly one bucket, so the
            # per-bucket counts SUM exactly in phase 2
            add_agg(name, F.count_distinct(col))
        elif count_distinct_mode == "sketch":
            # mergeable persisted state, like the reference's JSON registers
            add_agg(name, F.hll_sketch_agg(col),
                    merge=F.hll_union_agg(F.col(name)))
        else:
            add_agg(name,
                    F.approx_count_distinct(
                        col, rsd=s.fact_count_distinct_error_rate),
                    p1=F.hll_sketch_agg(
                        col, _hll_lg_config_k(s.fact_count_distinct_error_rate)),
                    merge=F.hll_sketch_estimate(F.hll_union_agg(F.col(name))))

    for fc in fact.columns:
        cname, t = fc.target_column, fc.type
        if isinstance(t, DimTime):
            out = time_unit_column_name(s.dim_table_id_column_name, cname, s.time_unit)
            group_exprs.append((out, time_bucket_expr(qcol(f_name, cname),
                                                      s.time_unit.seconds)))
        elif isinstance(t, (NoDimId, TenantId)):
            group_exprs.append((cname, coalesce_column(
                env, f_table, grain_cols[cname], f_name)))
        elif isinstance(t, FactCount):
            src = qcol(f_name, t.source_column) if t.source_column else F.lit(1)
            add_agg(cname, F.count(src))
        elif isinstance(t, FactCountDistinct):
            # no source column -> the source table's primary key
            # (Populate/Fact.hs:75); validated in validator._validate_fact
            src_name = t.source_column or table_pk_column(f_table)
            if src_name is None:
                raise ValueError(
                    f"FactCountDistinct {fact.name}.{cname} has no source "
                    f"column and table {f_name} has no primary key")
            add_count_distinct(qcol(f_name, src_name), cname, src_name)
        elif isinstance(t, FactSum):
            add_agg(cname, F.sum(qcol(f_name, t.source_column)))
        elif isinstance(t, FactMax):
            add_agg(cname, F.max(qcol(f_name, t.source_column)),
                    merge=F.max(F.col(cname)))
        elif isinstance(t, FactMin):
            add_agg(cname, F.min(qcol(f_name, t.source_column)),
                    merge=F.min(F.col(cname)))
        elif isinstance(t, FactAverage):
            add_agg(cname + s.avg_count_column_suffix,
                    F.count(qcol(f_name, t.source_column)))
            add_agg(cname + s.avg_sum_column_suffix,
                    F.sum(qcol(f_name, t.source_column)))
        # DimId/DimVal handled below via all_dims (order: after fact columns,
        # matching the reference's factColMap ++ dimColMap)

    # --- dimension FK columns (Populate/Fact.hs:172-192) -------------------
    for dim_fact, dim_table in all_dims:
        fk_name = fact_dim_fk_id_column_name(
            s.dim_prefix, s.dim_table_id_column_name, dim_fact, dim_table, env.tables)
        src_table_name = dim_fact.table_name      # parent's source for inherited dims
        src_table = env.find_table(src_table_name)
        if env.find_table(dim_table.name) is not None:
            # pre-existing dimension (DimId): FK passthrough, coalesced if nullable
            fk_col = src_table.find_column(fk_name)
            expr = qcol(src_table_name, fk_name)
            if fk_col.nullable == Nullable.NULL:
                expr = coalesce_fk(expr)
            group_exprs.append((fk_name, expr))
        else:
            # derived dimension: broadcast left join on the natural key,
            # comparing dim columns against coalesced source columns
            # (coalesce-then-compare semantics, Populate/Fact.hs:178-181)
            dim_df = dims[dim_table.name]
            alias = f"__dim_{dim_table.name}"
            cond = None
            for dim_col, src_col in dim_column_mapping(s.dim_prefix, dim_fact,
                                                       dim_table.name):
                piece = qcol(alias, dim_col) == coalesce_column(
                    env, src_table, src_table.find_column(src_col), src_table_name)
                cond = piece if cond is None else cond & piece
            dim_joins.append((dim_df, cond, alias, fk_name))
            group_exprs.append(
                (fk_name,
                 coalesce_fk(qcol(alias, s.dim_table_id_column_name))
                 .cast(_fk_spark_type(s))))

    for dim_df, cond, alias, _ in dim_joins:
        df = df.join(F.broadcast(dim_df.alias(alias)), cond, "left")

    # --- time window filter (scan-pushable, see common.time_filter) --------
    from .common import time_column_name, time_filter

    tcol = time_column_name(fact)
    if time_upper is not None:
        df = df.where(time_filter(df, tcol, "<", time_upper, f_name))
    if mode == PopulationMode.INCREMENTAL and time_lower is not None:
        df = df.where(time_filter(df, tcol, ">=", time_lower, f_name))

    # --- project narrow, then hash-aggregate (map-side partials are free) --
    key_names = [name for name, _ in group_exprs]
    if not agg_exprs:
        return df.select(*[e.alias(n) for n, e in group_exprs]).distinct()
    grouped = df.groupBy(*[e.alias(n) for n, e in group_exprs])
    has_tenant = any(isinstance(fc.type, TenantId) for fc in fact.columns)
    if salt_tenant_buckets > 0 and has_tenant:
        # two-phase salted grain aggregation (see docstring; shape and
        # rationale in ringo_spark/functions/skew.py): the hot tenant's
        # rows spread over the salt buckets in phase 1; only
        # bucket-count-sized mergeable partials ride the phase-2 shuffle
        if len(set(exact_cd_sources)) > 1:
            raise ValueError(
                "salt_tenant_buckets with multiple exact count-distinct "
                f"columns over different sources {sorted(set(exact_cd_sources))}"
                " cannot share one salt; use count_distinct_mode='sketch' "
                "or 'approx' (mergeable HLL), or drop the salt gate")
        if exact_cd_sources:
            salt_src = qcol(f_name, exact_cd_sources[0])
        else:
            pk = table_pk_column(f_table)
            salt_src = qcol(f_name, pk if pk is not None else tcol)
        from ..functions.skew import salt_expr

        salt = salt_expr([salt_src], salt_tenant_buckets).alias("__salt")
        # merged measures re-cast to the plain path's dtypes (re-summing a
        # sum widens decimal precision; schema parity must hold either way)
        plain_types = {fld.name: fld.dataType
                       for fld in grouped.agg(*agg_exprs).schema.fields}
        p1 = df.groupBy(*[e.alias(n) for n, e in group_exprs], salt)
        out = (p1.agg(*salted_p1)
               .groupBy(*key_names).agg(*salted_merge)
               .select(*key_names,
                       *[F.col(m).cast(plain_types[m]).alias(m)
                         for m in measure_names]))
    else:
        out = grouped.agg(*agg_exprs)
    # column order parity with the extracted schema: measures in fact-column
    # order interleaved as declared, then FK columns — reorder to match
    ordered = _output_column_order(env, fact)
    return out.select(*ordered)


def _output_column_order(env: Env, fact: Fact) -> list[str]:
    from ..extractor import extract_fact_table

    derived = extract_fact_table(env, fact)
    # count-distinct columns exist in the derived schema as 'json'; our
    # executor emits them under the same name (estimate or sketch), so the
    # name list is identical.
    return [c.name for c in derived.columns]
