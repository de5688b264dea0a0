"""Structured Streaming variant of incremental population.

The reference's "incremental" mode is a batch window (``t0 <= time < t1``
placeholders, Populate/Fact.hs:213-215).  This module expresses the same
rollup as a true stream: ``readStream -> withWatermark -> window-grouped
aggregation``, where the reference's epoch-floor time bucket becomes a
``F.window(time, <unit>)`` tumbling window — identical bucketing
(``window.start`` epoch / unit == floor(epoch / unit)).

Two entry points:

- :func:`streaming_fact_rollup` — pure streaming aggregation of a fact
  spec over a streaming DataFrame; dimension lookups stay broadcast joins
  (stream-static joins, supported by Spark).
- :class:`StreamingPipeline` — ``foreachBatch`` orchestration that also
  maintains dimension tables per micro-batch (anti-join append, the
  streaming twin of the reference's incremental dim refresh), then appends
  the batch's rollup to the fact store.  foreachBatch is AT-LEAST-once;
  exactly-once comes from the engine's batch-tag ledger (r18): each
  batch's content fingerprint is recorded atomically with its manifest
  publish, so a retried or lineage-reset replay of a committed batch is
  a no-op append (dimension appends are anti-join idempotent already).
  Two genuinely distinct micro-batches with IDENTICAL content alias to
  one tag — the standard content-stamp trade, same as every
  content-stamped sink in this repo.

Late data: bounded by ``withWatermark``; rows later than the delay are
dropped by Spark (the batch engine's equivalent is simply re-running the
window).  ``update_grain`` trades latency for fewer output rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..engine import Engine
from ..extractor import (
    extract_all_dimension_tables, fact_dim_fk_id_column_name,
    time_unit_column_name,
)
from ..model import (
    DimId, DimTime, Env, Fact, FactAverage, FactCount, FactCountDistinct,
    FactMax, FactMin, FactSum, NoDimId, Nullable, PopulationMode, TenantId,
)
from ..populate.common import (
    coalesce_column, dim_column_mapping, qcol, table_pk_column,
    time_column_name,
)


def streaming_fact_rollup(
    env: Env,
    fact: Fact,
    stream_df: DataFrame,
    dims: dict[str, DataFrame] | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Windowed streaming aggregation equivalent to the batch fact rollup.

    Parent-fact joins are not supported in pure-stream mode (stream-stream
    joins with aggregation need their own watermark design) — use
    :class:`StreamingPipeline` for facts with parents.
    """
    if fact.parent_names:
        raise ValueError("streaming_fact_rollup supports parentless facts; "
                         "use StreamingPipeline for facts with parents")
    s = env.settings
    dims = dims or {}
    f_table = env.find_table(fact.table_name)
    f_name = fact.table_name
    tcol = time_column_name(fact)
    df = stream_df.withWatermark(tcol, watermark_delay).alias(f_name)

    group_cols: list[Column] = [
        F.window(qcol(f_name, tcol), f"{s.time_unit.seconds} seconds").alias("__w")]
    aggs: list[Column] = []
    post: list[Column] = [
        (F.unix_timestamp(F.col("__w.start")) / s.time_unit.seconds)
        .cast("long")
        .alias(time_unit_column_name(s.dim_table_id_column_name, tcol,
                                     s.time_unit))]

    for fc in fact.columns:
        cname, t = fc.target_column, fc.type
        if isinstance(t, DimTime):
            continue
        if isinstance(t, (NoDimId, TenantId)):
            col = f_table.find_column(cname)
            group_cols.append(
                coalesce_column(env, f_table, col, f_name).alias(cname))
            post.append(F.col(cname))
        elif isinstance(t, FactCount):
            src = qcol(f_name, t.source_column) if t.source_column else F.lit(1)
            aggs.append(F.count(src).alias(cname))
            post.append(F.col(cname))
        elif isinstance(t, FactCountDistinct):
            # no source column -> source table PK (Populate/Fact.hs:75)
            src_name = t.source_column or table_pk_column(f_table)
            if src_name is None:
                raise ValueError(
                    f"FactCountDistinct {fact.name}.{cname} has no source "
                    f"column and table {f_name} has no primary key")
            src = qcol(f_name, src_name)
            aggs.append(F.approx_count_distinct(
                src, rsd=s.fact_count_distinct_error_rate).alias(cname))
            post.append(F.col(cname))
        elif isinstance(t, FactSum):
            aggs.append(F.sum(qcol(f_name, t.source_column)).alias(cname))
            post.append(F.col(cname))
        elif isinstance(t, FactMax):
            aggs.append(F.max(qcol(f_name, t.source_column)).alias(cname))
            post.append(F.col(cname))
        elif isinstance(t, FactMin):
            aggs.append(F.min(qcol(f_name, t.source_column)).alias(cname))
            post.append(F.col(cname))
        elif isinstance(t, FactAverage):
            aggs.append(F.count(qcol(f_name, t.source_column))
                        .alias(cname + s.avg_count_column_suffix))
            aggs.append(F.sum(qcol(f_name, t.source_column))
                        .alias(cname + s.avg_sum_column_suffix))
            post.append(F.col(cname + s.avg_count_column_suffix))
            post.append(F.col(cname + s.avg_sum_column_suffix))

    # derived-dim lookups: stream-static broadcast joins
    for dim_fact, dim_table in extract_all_dimension_tables(env, fact):
        fk_name = fact_dim_fk_id_column_name(
            s.dim_prefix, s.dim_table_id_column_name, dim_fact, dim_table,
            env.tables)
        if env.find_table(dim_table.name) is not None:
            fk_col = f_table.find_column(fk_name)
            expr = F.col(fk_name)
            if fk_col.nullable == Nullable.NULL:
                expr = F.coalesce(expr, F.lit(s.foreign_key_id_coalesce_value))
            group_cols.append(expr.alias(fk_name))
            post.append(F.col(fk_name))
            continue
        dim_df = dims[dim_table.name]
        alias = f"__dim_{dim_table.name}"
        cond = None
        for dim_col, src_col in dim_column_mapping(s.dim_prefix, dim_fact,
                                                   dim_table.name):
            piece = qcol(alias, dim_col) == coalesce_column(
                env, f_table, f_table.find_column(src_col), f_name)
            cond = piece if cond is None else cond & piece
        df = df.join(F.broadcast(dim_df.alias(alias)), cond, "left")
        group_cols.append(
            F.coalesce(qcol(alias, s.dim_table_id_column_name),
                       F.lit(s.foreign_key_id_coalesce_value))
            .cast("int").alias(fk_name))
        post.append(F.col(fk_name))

    return df.groupBy(*group_cols).agg(*aggs).select(*post)


class StreamingPipeline:
    """foreachBatch orchestration: per micro-batch, update dimensions
    (anti-join append with id offsets) then append the batch's fact rollup
    — the continuous form of the engine's incremental mode."""

    def __init__(self, engine: Engine, fact: Fact):
        self.engine = engine
        self.fact = fact

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        eng, fact = self.engine, self.fact
        eng.sources[fact.table_name] = batch_df
        # content tag, NOT batch_id: Spark batch ids are per-checkpoint
        # (a fresh lineage restarts at 0 — the r17 streaming-dedup
        # lesson), so the exactly-once key must be the batch's content.
        # One tiny agg job per batch; the engine skips the fact append
        # when the tag is already recorded (the manifest records the tag
        # in the same atomic pointer flip as the data).
        from ..index_lifecycle import batch_fingerprint

        tag = batch_fingerprint(batch_df, list(batch_df.columns))
        # per-batch bounds: the whole batch (time filtering already happened
        # upstream in the stream); use open bounds.  Every run_fact call
        # builds its fact's dimensions before the fact (one DAG per call).
        eng.run_fact(fact, PopulationMode.INCREMENTAL,
                     time_upper=None, time_lower=None, resume=False,
                     batch_tag=tag)

    def start(self, stream_df: DataFrame, checkpoint: str,
              trigger_once: bool = True):
        writer = (stream_df.writeStream
                  .foreachBatch(self.process_batch)
                  .option("checkpointLocation", checkpoint))
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()
