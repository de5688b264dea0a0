"""Delete propagation for persisted indexes — the right-to-be-forgotten
path a production training-data pipeline must have.

A takedown/GDPR request names document ids; every PERSISTED derivative
(minhash band+shingle index, chunk-hash index, cluster table) still
carries those ids and would keep matching against them.  Rewriting a
corpus-sized index per request is the wrong cost model at 100 TB, so
this module implements the lakehouse merge-on-read design:

- :func:`tombstone_docs` APPENDS the ids to a ``_tombstones`` log
  inside the index dir — O(request), no data rewrite;
- :func:`subtract_tombstones` anti-joins the log at read time (the
  delete set is request-sized, so the anti-join broadcasts; under the
  size gate it degrades to a shuffle anti-join) — every index reader
  in this package goes through it;
- :func:`apply_tombstones` is the periodic compaction: physically
  rewrite the index subdirs minus the tombstoned ids, then clear the
  log — read amplification returns to zero.

Derived tables are NOT patched in place: the cluster table's
``cluster_id`` is the min doc id of its component, so deleting a
representative would orphan the label — rebuild it from the (already
tombstone-filtered) index instead (``build_cluster_table(force=True)``),
which is the derived-data answer, not a special case.

Collapsed (``collapse=True``) minhash indexes store exact-dup
REPRESENTATIVES; deleting a representative requires re-electing one
from the exact-dup group, which needs the dedup_exact table — callers
must tombstone the representative AND re-append the new representative
(the probes treat the index as per-doc rows, so the swap is two rows).
"""

from __future__ import annotations

import contextlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localrel import literal_df

from .. import index_lifecycle as _ilc

TOMBSTONES = "_tombstones"
# the build-stats sidecar every persisted IVF/LSH index writes (through
# similarity._write_stats) — named here so the compaction exclusion
# below and the writer can never silently diverge
STATS_SIDECAR = "_stats"


def tombstone_docs(spark: SparkSession, index_path: str, ids,
                   id_col: str = "doc_id") -> None:
    """Record a delete request against ``index_path`` — an O(request)
    append to the tombstone log; no index data is touched.  Idempotent
    for readers (they distinct the log), so retrying a request is
    harmless."""
    df = literal_df(spark, [(int(i),) for i in ids],
                               f"{id_col} LONG")
    df.coalesce(1).write.mode("append").parquet(
        os.path.join(index_path, TOMBSTONES))


def load_tombstones(spark: SparkSession, index_path: str,
                    id_col: str = "doc_id") -> DataFrame | None:
    p = os.path.join(index_path, TOMBSTONES)
    if not os.path.isdir(p):
        return None
    return read_index(spark, p).select(id_col).distinct()


# index dir -> (witness data file, the schema Spark inferred for the dir)
_INDEX_SCHEMAS: dict[str, tuple] = {}
_DISCOVERY_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _witness_file(path: str) -> str | None:
    """The first data file of the dir ``path`` (sorted walk, underscore
    and dot entries skipped), or None when it holds none."""
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                return os.path.join(root, f)
    return None


@contextlib.contextmanager
def _driver_listing(spark: SparkSession, path: str):
    """Let Spark list ``path``'s partition directories on the driver.
    Past ``parallelPartitionDiscovery.threshold`` subdirectories (32 by
    default) Spark lists them with a Spark job of one task per
    directory -- for a 224-bucket LSH index that job cost more than the
    query it served.  The threshold is raised to the directory count
    for this one read and restored after it."""
    n = sum(1 for e in os.scandir(path)
            if e.is_dir() and not e.name.startswith(("_", ".")))
    if n <= int(spark.conf.get(_DISCOVERY_THRESHOLD)):
        yield
        return
    explicit = spark.conf.get(_DISCOVERY_THRESHOLD, None)
    spark.conf.set(_DISCOVERY_THRESHOLD, str(n))
    try:
        yield
    finally:
        if explicit is None:
            spark.conf.unset(_DISCOVERY_THRESHOLD)
        else:
            spark.conf.set(_DISCOVERY_THRESHOLD, explicit)


def read_index(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` for a persisted index dir (or its
    tombstone log) that runs no Spark job: the schema Spark infers is
    memoized, and the partition directories are listed on the driver
    (:func:`_driver_listing`).

    The memo entry holds one data file that existed when the schema was
    inferred, and serves only while that file exists.  Every rewrite
    (build or rebuild with ``mode("overwrite")``, compaction, retrain)
    replaces all the files, so it misses and re-infers.  Appends keep
    the old files and add files of the stored schema (the append paths
    cast the batch's embedding to the stored type), so the entry stays
    valid across appends.  The cache-hit ``touch`` of a serve moves
    mtimes only, which this key ignores."""
    key = os.path.abspath(path)
    hit = _INDEX_SCHEMAS.get(key)
    reader = spark.read
    if hit is not None and os.path.exists(hit[0]):
        reader = reader.schema(hit[1])
    else:
        hit = None
        witness = _witness_file(path)
    with _driver_listing(spark, path):
        df = reader.parquet(path)
    if hit is None and witness is not None:
        _INDEX_SCHEMAS[key] = (witness, df.schema)
    return df


def subtract_tombstones(df: DataFrame, tombs: DataFrame | None,
                        id_col: str = "doc_id") -> DataFrame:
    """Merge-on-read: drop rows whose ``id_col`` is tombstoned.  The
    delete set is request-sized by nature, so it rides a size-gated
    broadcast anti-join — map-only against the index scan; a
    pathologically huge log degrades to a shuffle anti-join instead of
    an OOM (and is the signal to run :func:`apply_tombstones`)."""
    if tombs is None:
        return df
    from ..functions.broadcast_gate import broadcast_if_small

    keyed = tombs.withColumnRenamed(tombs.columns[0], id_col)
    return df.join(broadcast_if_small(keyed), id_col, "left_anti")


def apply_tombstones(spark: SparkSession, index_path: str,
                     subdirs: list[str],
                     id_col: str = "doc_id") -> None:
    """Compaction (merge-on-read -> merge-on-write): rewrite each index
    subdir minus the tombstoned ids, swap it in, then clear the log.

    Crash safety on the local-fs layout: each subdir rewrites to a
    ``<sub>__compact`` sibling and swaps via two renames through a
    ``<sub>__old`` holding name.  A crash can therefore leave the
    subdir ABSENT (between the two renames) with the original intact
    in ``__old`` — so the rerun recovers FIRST (restore ``__old`` back
    to the subdir name, or promote a complete ``__compact`` if the
    original is already gone) and only clears leftovers once the
    subdir is confirmed present; rmtree'ing the leftovers of a
    mid-swap crash before restoring would lose the subdir permanently.
    The log clears LAST, so a crash anywhere before that point keeps
    deletes visible through the read path (a redundant second rewrite
    is a no-op).  On object storage the same sequence rides the
    manifest-pointer protocol the engine's table commits use."""
    tombs = load_tombstones(spark, index_path, id_col)
    if tombs is None:
        return
    for sub in subdirs:
        src = os.path.join(index_path, sub)
        # prior run crashed between the two publish renames: the
        # original is in __old — restore it (the log is still present,
        # so the rewrite below redoes the subtraction).  If __old is
        # somehow gone too, the completed rewrite in __compact is the
        # only copy: promote it; the redo over it is a no-op second
        # subtraction.  src confirmed present -> leftovers safe to clear
        # (kernel order: recover FIRST, rmtree after — r13 bug class).
        _ilc.recover_live(src, require=True)
        _ilc.clear_swap_leftovers(src)
        tmp, _ = _ilc.swap_paths(src)
        kept = subtract_tombstones(spark.read.parquet(src), tombs, id_col)
        kept.write.mode("overwrite").parquet(tmp)
        _ilc.publish_swap(src)
    shutil.rmtree(os.path.join(index_path, TOMBSTONES))


def _tombstone_fingerprint(tombs: DataFrame, id_col: str) -> str:
    """Order-independent O(1)-driver fingerprint of a tombstone set —
    identifies WHICH deletes a staged compaction rewrite applied, so a
    rerun never reuses a rewrite that predates newer tombstones.  The
    hash sum runs in decimal(38,0): two random xxhash64 longs already
    overflow int64 with ~50% probability, which under Spark's default
    ANSI mode would ABORT the compaction of any multi-id log
    (pytest-pinned with a 200-id log)."""
    row = tombs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(F.col(id_col)).cast("decimal(38,0)"))
        .alias("h")).first()
    return f"{row.n}:{row.h}"


def apply_tombstones_partitioned(spark: SparkSession, index_path: str,
                                 partition_col: str,
                                 id_col: str = "doc_id",
                                 stats_rebuild=None) -> None:
    """Compaction for a PARTITIONED index root (LSH ``bucket=`` / IVF
    ``cell=`` directories): rewrite the data minus tombstoned ids with
    the same ``partitionBy`` layout into a complete ``__compact``
    sibling TREE (sidecars — ``_centroids``, cache markers — copied
    in), then swap the WHOLE ROOT via two renames.  Partition dirs the
    filter empties simply don't exist in the replacement tree.

    Crash safety: nothing under the live root is ever deleted before a
    complete replacement exists — the rewrite lands in ``__compact``
    (Spark's ``_SUCCESS`` is its completeness marker, plus a
    ``_tombstones_applied`` fingerprint so a rerun never reuses a
    rewrite that predates newer tombstones), and the swap is
    rename(root, __old) / rename(__compact, root) / rmtree(__old).  A
    rerun recovers each window: root missing → restore ``__old`` (the
    tombstone log rides inside it, so the redo still sees the
    deletes); complete matching ``__compact`` → skip straight to the
    swap; incomplete/stale ``__compact`` → rewritten.  Because the
    log lives inside the swapped tree, deletes stay read-visible up to
    the very instant the compacted tree (which no longer needs them)
    takes over."""
    root = index_path.rstrip("/")
    tmp, old = _ilc.swap_paths(root)
    # prior run crashed between its two publish renames — restore the
    # original (log included) before anything else looks at root
    _ilc.recover_live(root)
    tombs = load_tombstones(spark, root, id_col)
    if tombs is None:
        # includes the crashed-after-swap case: the new root has no
        # log, and the leftovers are stale copies — clear them
        _ilc.clear_swap_leftovers(root)
        return
    # clear only __old: a COMPLETE __compact whose fingerprint matches
    # the live log is reusable (checked below) — never discard it here
    shutil.rmtree(old, ignore_errors=True)
    fp = _tombstone_fingerprint(tombs, id_col)
    fp_file = os.path.join(tmp, "_tombstones_applied")
    complete = os.path.exists(os.path.join(tmp, "_SUCCESS")) and \
        os.path.exists(fp_file) and open(fp_file).read() == fp
    if not complete:
        shutil.rmtree(tmp, ignore_errors=True)
        kept = subtract_tombstones(spark.read.parquet(root), tombs,
                                   id_col)
        kept.write.mode("overwrite").partitionBy(partition_col) \
            .parquet(tmp)
        if stats_rebuild is not None:
            # write a FRESH ``_stats`` sidecar into the replacement tree
            # from the just-compacted rows (the live sidecar's counts
            # include the removed rows, so it is never carried over) —
            # before the fingerprint lands, so ``complete`` implies
            # stats-rebuilt.  Without a callback the replacement ships
            # sidecar-less and reports rescan until repair_index_stats
            # runs (the read path is read-only by design, ADVICE r16).
            stats_rebuild(spark, tmp)
        # carry every sidecar (anything that isn't a partition dir, the
        # log, or tmp's own files) into the replacement tree — EXCEPT
        # the ``_stats`` build-stats log: its counts include the rows
        # this compaction just removed, and a carried-over stale
        # sidecar would fail the reports' row-count validity check
        # forever.  Dropping it sends the reports to their read-only
        # rescan (similarity._stored_stats) until the sidecar is
        # rebuilt: by similarity.repair_index_stats, or by the backfill
        # on the next cached serve of the index.
        # The copies happen BEFORE the fingerprint lands (r16 review):
        # ``complete`` above must imply sidecars-fully-copied, or a
        # copytree interrupted mid-copy would survive the rerun's
        # exists-skip and publish a partial sidecar as live.
        is_part = f"{partition_col}="
        for d in os.listdir(root):
            if d.startswith(is_part) or d == TOMBSTONES \
                    or d == STATS_SIDECAR:
                continue
            s, t = os.path.join(root, d), os.path.join(tmp, d)
            if os.path.exists(t):
                continue
            if os.path.isdir(s):
                shutil.copytree(s, t)
            else:
                shutil.copy2(s, t)
        # the fingerprint is the completeness marker — LAST
        with open(fp_file, "w") as fh:
            fh.write(fp)
    _ilc.publish_swap(root)


def index_rows(spark: SparkSession, index_path: str,
               id_col: str = "doc_id") -> DataFrame:
    """Read an index's data rows with delete propagation applied — the
    one-call form every partitioned-index reader uses (the
    ``_tombstones`` subdir is underscore-hidden, so Spark's partition
    discovery never reads it as data).  Both reads go through
    :func:`read_index`, so building the frame runs no Spark job."""
    return subtract_tombstones(read_index(spark, index_path),
                               load_tombstones(spark, index_path, id_col),
                               id_col)


def delete_report(spark: SparkSession, index_path: str,
                  subdirs: list[str],
                  id_col: str = "doc_id") -> DataFrame:
    """Audit view: per subdir, how many physical rows the tombstone log
    currently masks — the read-amplification signal that schedules
    :func:`apply_tombstones`."""
    tombs = load_tombstones(spark, index_path, id_col)
    rows = []
    for sub in subdirs:
        df = spark.read.parquet(os.path.join(index_path, sub))
        total = df.count()
        masked = 0 if tombs is None else \
            total - subtract_tombstones(df, tombs, id_col).count()
        rows.append((sub, total, masked))
    return literal_df(spark, 
        rows, "subdir string, total_rows long, masked_rows long")
