"""Python-worker-free local relations for driver-side metadata frames.

``spark.createDataFrame(rows, schema)`` on a plain Python list plans a
``parallelize`` RDD of PICKLED rows: every downstream job that touches
the frame (including each broadcast-exchange build) runs one stage
whose tasks each launch/borrow a Python worker just to unpickle a
handful of metadata rows.  Measured in the r19 optimization pass:
32-task stages with ~200 ms of pure block time per task and ~0 CPU,
repeated per k-means iteration and per IVF serve — the single largest
non-compute wall contributor in the ANN family.

``literal_df`` routes the same rows through the ARROW createDataFrame
path (guide §6: Arrow for driver transfers) by converting to a pandas
frame of dtype=object columns first: the Arrow batches are decoded
into rows JVM-side (``ArrowConverters``), so downstream execution
never touches a Python worker, and the resulting plan is an opaque
data-backed relation — no expression tree for Catalyst to re-chew.
(A first r19 attempt built the rows as a LITERAL expression tree —
array-of-structs under an explode; execution left Python fine, but
K x dim literal expressions inflated driver-side optimization by
SECONDS per query on the IVF serve paths.  Data, not expressions.)

Value fidelity: dtype=object preserves every cell as its Python object
(None stays a true NULL — a float-dtype column would coerce it to NaN),
and the explicit schema drives the Arrow types; ``tests`` pin
row-equality against the plain createDataFrame form, including None
cells.  Unsupported shapes (binary, maps, deep nesting) and oversized
row counts fall back to plain ``createDataFrame`` unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MAX_ARROW_ROWS = 100_000

_SUPPORTED_LEAF = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                   T.FloatType, T.DoubleType, T.StringType, T.BooleanType,
                   T.DecimalType, T.DateType, T.TimestampType)


def _supported(dt: T.DataType) -> bool:
    if isinstance(dt, T.ArrayType):
        return _supported(dt.elementType)
    return isinstance(dt, _SUPPORTED_LEAF)


def literal_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A DataFrame of ``rows`` (tuples/Rows) under DDL ``schema``, built
    through the Arrow path when possible (see module docstring); falls
    back to plain ``createDataFrame`` for empty, oversized, or
    unsupported-typed input.  An Arrow conversion that still fails takes
    PySpark's own non-Arrow fallback, with a warning
    (``spark.sql.execution.arrow.pyspark.fallback.enabled``, on by
    default)."""
    rows = list(rows)
    st = T._parse_datatype_string(schema)
    if (not rows or len(rows) > MAX_ARROW_ROWS
            or not all(_supported(f.dataType) for f in st.fields)):
        return spark.createDataFrame(rows, schema)
    import pandas as pd

    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    pdf = pd.DataFrame(
        {f.name: pd.Series([r[i] for r in rows], dtype=object)
         for i, f in enumerate(st.fields)},
        columns=[f.name for f in st.fields])
    return spark.createDataFrame(pdf, schema=st)
