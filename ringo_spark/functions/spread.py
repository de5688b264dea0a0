"""Input-split widening for compute-bound map stages.

A parquet scan parallelizes at row-group granularity, so a corpus that
arrives as few large-row-group files (the local testdata ships ONE
row group per table; real corpora hit this with bulk-exported files)
runs every downstream map stage — including interpreted higher-order
expressions like shingling — on a handful of cores no matter how small
``spark.sql.files.maxPartitionBytes`` is set.

``spread_source`` is the one widening rule.  It decides on the driver
from the source files' sizes alone and never asks Spark to plan the
frame: counting a multi-stage frame's partitions through its RDD makes
AQE execute its shuffle stages as a throwaway job.  On a well-split corpus
it is the identity, so it never introduces the down-shuffle an
unconditional ``repartition(cores)`` would.  Reserve it for stages whose
per-row compute dwarfs the one-time shuffle of the raw rows — cheap
map-only projections keep their zero-Exchange plans.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame

# Per-task byte floors, one per consumer class.  A floor caps the
# widened width by the data: min(parallelism, ceil(source bytes /
# floor)), so a MB-scale local source fans out only as far as its
# per-row work repays each task's scheduling overhead.  At real scale
# bytes / floor exceeds parallelism and every floor is inert.  Heavy
# per-row work — shingling, signatures, chunk hashing, the IVF index
# build and retrain — passes no floor and widens to full parallelism.

# interpreted dim-64 folds per vector (cosine scoring, argmax cell
# assignment, signature hashing)
INTERPRETED_FOLD_BYTES = 48 << 10
# one pass of token/regex scoring per document
TEXT_SCORING_BYTES = 64 << 10
# numpy Arrow-kernel lanes: ~50x the interpreted fold's work per
# task-second, and every mapInArrow task pays a Python-worker round-trip
ARROW_KERNEL_BYTES = 4 << 20
# fact rollups: casts, broadcast FK joins and partial aggregation over a
# few MB do not repay a round-robin exchange (a measured net loss on
# every fact query at sf0.1, 8 and 32 cores)
FACT_ROLLUP_BYTES = 32 << 20


def _data_file_sizes(path: str):
    """Sizes of the files Spark's discovery reads at ``path``: the file
    itself, or every file under the directory with ``_``/``.``-prefixed
    files and directories skipped (``_SUCCESS``, index sidecars such as
    ``_centroids/`` and ``_tombstones/``)."""
    if not os.path.isdir(path):
        yield os.path.getsize(path)
        return
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                yield os.path.getsize(os.path.join(root, f))


def spread_source(df: DataFrame, *source_paths: str,
                  bytes_per_task: int | None = None) -> DataFrame:
    """Round-robin-widen ``df`` when its source files pack into fewer
    splits than the session's parallelism.

    The bound argument: every narrow/broadcast-join descendant of a scan
    has at most the scan's split count; AQE post-shuffle coalescing can
    only shrink it further.  The split estimate is ceil(bytes /
    maxPartitionBytes) per file, the scan packer's upper bound, so when
    it falls short of parallelism the downstream map stages are provably
    under-parallelized and a widen is worth its tiny shuffle.

    ``bytes_per_task`` is one of the floors above (None: full width);
    the target is min(parallelism, ceil(total_bytes / bytes_per_task))."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    mpb = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    total = splits = 0
    try:
        for p in source_paths:
            for size in _data_file_sizes(p):
                total += size
                splits += max(1, math.ceil(size / mpb))
    except OSError:
        return df   # unreadable source (remote FS): leave the plan alone
    if bytes_per_task:
        target = max(1, min(target, math.ceil(total / bytes_per_task)))
    if splits >= target:
        return df
    return df.repartition(target)
