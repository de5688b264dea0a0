"""Engine driver: run the derived star schema end-to-end.

Where the reference's ``writeFiles`` (``app/Main.hs:35-83``) emits SQL text
for Postgres to run later, this engine *executes* the population dataflows
in dependency order and persists the results, while still emitting the
same artifacts for orchestration parity:

- ``dependencies.json`` — union of every fact's DAG (Main.hs:43-46)
- ``dimensions.json``   — derived dimension table names (Main.hs:48-49)
- ``facts.json``        — extracted fact table names (Main.hs:51-52)
- ``create/ fullrefresh/ increfresh/`` SQL files via :mod:`generator.sqlgen`

Execution model (Spark-first):

- A refresh is one DAG: the derived tables ``run`` (every persistent fact)
  or ``run_fact`` (one fact) populates, with the edges
  :func:`extractor.extract_dependencies` computes — the same DAG the
  reference writes to ``dependencies.json`` for an orchestrator.  A table
  starts as soon as every derived table it depends on has committed, in
  a worker thread of its own (at most one thread per table; started
  through ``pyspark.inheritable_thread_target`` so job groups and other
  local properties reach its jobs).  A fact re-reads its persisted
  dimensions, so surrogate keys are consistent across facts sharing a
  dim; each dimension runs once per DAG, with the window of the first
  fact (in env order) that needs it.
- Failure rule: when a table raises, nothing that depends on it starts,
  nothing else new starts, and tables already in flight finish; the
  first failure in topo order is then re-raised.  Sidecar state
  (watermarks, inflight journal, window and batch-tag ledgers) is
  rewritten under one per-engine lock; manifest commits are serialized
  per table by the manifest flock.
- Full refresh writes to a staging directory then atomically renames over
  the live one (the reference's ``{{suff}}`` staging-table swap,
  Generator/Internal.hs:38-41).
- Incremental refresh appends the watermark window; the watermark store is
  a JSON file next to the tables.  Dimension increments anti-join the
  existing table and offset surrogate ids.
- Fact tables are written partitioned by a derived day column
  (``<time>_day``) when ``partition_facts`` — the Spark analogue of the
  reference's time-column index (Create.hs:87-98): partition pruning at
  read time.  TenantId columns are appended to the partition spec, the
  analogue of the (tenant, time) composite index (Create.hs:96-98).
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import threading
import time
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import cast_to_declared, load_catalog
from .extractor import (
    extract_all_dimension_tables, extract_dependencies,
    extract_dimension_tables, extract_fact_table, topo_order,
)
from .generator import sqlgen
from .model import DimTime, Env, Fact, PopulationMode, TenantId
from .populate.dimension import dimension_population_df
from .populate.fact import fact_population_df

log = logging.getLogger(__name__)


class ManifestConflict(RuntimeError):
    """Another writer advanced the table's manifest between this writer's
    read and its publish; the caller re-reads and retries."""


class Engine:
    def __init__(self, spark: SparkSession, env: Env, storage_path: str,
                 partition_facts: bool = False,
                 count_distinct_mode: str = "sketch",
                 commit_mode: str = "rename",
                 keep_versions: int = 1,
                 salt_tenant_buckets: int = 0):
        # commit_mode picks the full-refresh publication protocol:
        #   "rename"   — staging dir renamed over live (atomic on one
        #                POSIX filesystem; the reference's {{suff}} swap,
        #                Generator/Internal.hs:38-41).
        #   "manifest" — each refresh writes an immutable versioned dir
        #                and atomically flips a small manifest pointer.
        #                On S3/GCS rename is copy+delete (not atomic), but
        #                a single small-object PUT is — so the manifest is
        #                the object-store-safe equivalent of the swap.
        if commit_mode not in ("rename", "manifest"):
            raise ValueError(f"unknown commit_mode: {commit_mode!r}")
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        self.commit_mode = commit_mode
        # manifest mode only: how many published versions stay readable.
        # keep_versions > 1 enables time-travel (`read_table(version=N)`) —
        # pin a training run to a snapshot while refreshes continue.
        self.keep_versions = keep_versions
        # count_distinct_mode defaults to "sketch" for persisted tables:
        # the reference stores mergeable HLL register state in the fact
        # table (Populate/Fact.hs:60-120) precisely so coarser rollups can
        # re-aggregate it — hll_sketch_agg/hll_union is our equivalent.
        self.spark = spark
        self.env = env
        self.storage = storage_path
        self.partition_facts = partition_facts
        self.count_distinct_mode = count_distinct_mode
        # opt-in hot-tenant skew gate: > 0 routes every TenantId-grain
        # fact population through the two-phase salted aggregation
        # (populate/fact.py docstring; shape in functions/skew.py)
        self.salt_tenant_buckets = salt_tenant_buckets
        self.sources: dict[str, DataFrame] = {}
        # serializes every sidecar read-modify-write (_update_json): the
        # DAG's worker threads share the sidecar files and their ".tmp"
        self._sidecar_lock = threading.Lock()
        os.makedirs(storage_path, exist_ok=True)

    # --- sources -----------------------------------------------------------

    def register_source(self, name: str, df: DataFrame) -> None:
        table = self.env.find_table(name)
        self.sources[name] = cast_to_declared(df, table) if table else df

    def load_sources(self, sf_dir: str) -> None:
        """Register ``<sf_dir>/<table>.parquet`` for every declared table
        that has one, through :func:`catalog.load_catalog`: cast to the
        declared schema, with the footer schema memoized per file, so a
        repeat load of unchanged files runs no Spark job."""
        present = [t for t in self.env.tables
                   if os.path.exists(f"{sf_dir}/{t.name}.parquet")]
        self.sources.update(load_catalog(self.spark, sf_dir, present))

    def parent_join_pairs(self) -> list[tuple]:
        """(child_table, child_cols, parent_table, parent_cols) for every
        parent-fact source join a run will execute — the declared FKs that
        feed the one fact-sized shuffle in the pipeline.  Column entries
        are a plain name for single-column FKs and a tuple of names for
        composite FKs: the bucketer must bucket on ALL columns of a
        composite key or the promised no-Exchange join silently shuffles
        anyway (ADVICE r05)."""
        from .model import ForeignKey

        pairs = []
        for fact in self.env.facts:
            if not fact.persistent:
                continue
            f_table = self.env.find_table(fact.table_name)
            parents = {df.table_name
                       for df, _ in extract_all_dimension_tables(self.env, fact)
                       if df.table_name != fact.table_name}
            for c in f_table.constraints:
                if isinstance(c, ForeignKey) and c.table in parents:
                    mine = tuple(m for m, _ in c.columns)
                    theirs = tuple(t for _, t in c.columns)
                    pair = (fact.table_name,
                            mine[0] if len(mine) == 1 else mine,
                            c.table,
                            theirs[0] if len(theirs) == 1 else theirs)
                    if pair not in pairs:
                        pairs.append(pair)
        return pairs

    def bucketize_sources(self, num_buckets: int = 8,
                          pairs: list[tuple] | None = None) -> list[str]:
        """Store both sides of every parent-fact source join bucketed by
        the FK, and serve the sources from the bucketed tables from now on.

        This is the 100x-scale knob for the pipeline's one fact-sized
        shuffle (e.g. lineitem ⋈ orders): with both sides bucketed on the
        join key the sort-merge join runs with NO Exchange on either side
        (proven in tests/test_bucketing.py and test_engine.py).  One-time
        bucketed write, amortized across every subsequent refresh.  Call
        after ``load_sources``/``register_source``; join pairs default to
        the declared FKs (``parent_join_pairs``)."""
        import hashlib

        from .sources.bucketing import bucketize_for_fact_join

        if pairs is None:
            # Default path: a fact star with FKs to several parents via
            # different child columns is NORMAL, but one physical layout
            # can only co-locate one of those joins.  Keep the first key
            # requested per table and skip (with a log line) the rest —
            # the skipped joins simply shuffle as before.  The hard
            # ValueError in bucketize_for_fact_join is reserved for
            # explicitly passed pairs, where a silent skip would betray
            # the caller's stated intent (r06 ADVICE).
            seen: dict[str, list[str]] = {}
            pairs = []
            for lt, lc, rt, rc in self.parent_join_pairs():
                # keys stays a LIST of (table, cols): a dict would
                # collapse a self-join pair (lt == rt) to one entry with
                # rc overwriting lc, hiding a lc-vs-rc conflict on that
                # table and keeping an incompatible pair (r07 ADVICE)
                keys = [(t, [c] if isinstance(c, str) else list(c))
                        for t, c in ((lt, lc), (rt, rc))]
                if lt == rt and keys[0][1] != keys[1][1]:
                    log.info(
                        "bucketize_sources: skipping self-join %s(%s) ⋈ "
                        "%s(%s) — one physical layout cannot bucket the "
                        "same table on two key sets; this join will "
                        "shuffle", lt, lc, rt, rc)
                    continue
                conflict = next((t for t, cols in keys
                                 if seen.get(t, cols) != cols), None)
                if conflict is not None:
                    log.info(
                        "bucketize_sources: skipping join %s(%s) ⋈ %s(%s) — "
                        "%s already bucketed on %s; this join will shuffle",
                        lt, lc, rt, rc, conflict, seen[conflict])
                    continue
                seen.update(dict(keys))
                pairs.append((lt, lc, rt, rc))
        if not pairs:
            return []
        # sources are already cast to their declared schema, so the
        # bucketed tables are re-registered without a second cast (a cast
        # on the join key would defeat the bucketed-scan partitioning).
        # Catalog names are namespaced by this engine's storage path: two
        # engines in one session (or a rerun with different settings)
        # must not overwrite each other's saveAsTable entries, because
        # spark.table() resolves at ACTION time — a later engine's write
        # would silently redirect frames already held by the earlier one
        # (ADVICE r05).
        tag = hashlib.md5(os.path.abspath(self.storage).encode()).hexdigest()[:6]
        self.sources = bucketize_for_fact_join(
            self.spark, self.sources, pairs, num_buckets,
            prefix=f"bkt_{tag}_",
            path_root=os.path.join(self.storage, "_bucketed"))
        return sorted({n for p in pairs for n in (p[0], p[2])})

    # --- storage -----------------------------------------------------------

    def _path(self, table: str, staging: bool = False) -> str:
        return os.path.join(self.storage, table + ("__staging" if staging else ""))

    def _recover_swap(self, table: str) -> None:
        """Heal a swap that crashed between rename-aside and rename-in:
        the previous table sits at ``<table>__old`` with no live dir."""
        live = self._path(table)
        old = live + "__old"
        if not os.path.exists(live) and os.path.exists(old):
            os.rename(old, live)

    # --- manifest-pointer commits (object-store-safe) ----------------------

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.storage, table + ".manifest.json")

    # Manifest publishes are read-modify-write: two concurrent writers to
    # one table could each read version N and publish N+1, silently
    # dropping one append from the dir list (r07 VERDICT item 5).  Guard:
    # an exclusive ``fcntl.flock`` on a PERSISTENT lock file around a
    # compare-and-swap on the version read at the start of the write.
    # flock dies with its holder, so there is no staleness detection and
    # no lock *breaking* at all — the entire check-then-break TOCTOU
    # class the previous O_CREAT|O_EXCL design carried (two waiters both
    # judging one lock stale, the second's break deleting a freshly
    # acquired live lock — r08 ADVICE) cannot exist.  The lock file is
    # created once and NEVER unlinked: unlink-on-release would let a
    # blocked waiter acquire the lock on a deleted inode while a third
    # writer locks a new file at the same path.  Release is a plain
    # close.
    #
    # Deployment note: flock serializes LOCAL writers (threads AND
    # processes — flock is per open-file-description, so two fds in one
    # process exclude each other).  On an object store there is no
    # flock; there, correctness rests on the manifest CAS itself mapped
    # to a conditional PUT (If-Match ETag) on the manifest object, which
    # `_publish_manifest` is structured around — the lock is a local
    # contention optimization, not the integrity mechanism.
    # A CAS loser raises ManifestConflict; _write_full/_write_append
    # catch it, re-read the advanced manifest, and retry the publish —
    # their data sits untouched in a writer-unique stage dir, so nothing
    # is rewritten and the winner's dirs are folded into the dir list.
    _LOCK_WAIT_SECS = 30.0       # max time to wait for a live writer

    def _lock_path(self, table: str) -> str:
        return self._manifest_path(table) + ".lock"

    def _acquire_manifest_lock(self, table: str) -> tuple[int, str]:
        """Exclusive flock on the table's persistent lock file.  Returns
        ``(fd, token)``; the token is vestigial (release is a close, no
        ownership check needed) but kept so call sites are stable."""
        import errno
        import fcntl

        lock = self._lock_path(table)
        deadline = time.monotonic() + self._LOCK_WAIT_SECS
        while True:
            fd = os.open(lock, os.O_CREAT | os.O_RDWR)
            try:
                while True:
                    try:
                        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                        break
                    except OSError as e:
                        # only contention reads as "lock held"; a real
                        # error (EBADF, ENOLCK on NFS, ...) must surface
                        # immediately, not spin out the deadline
                        # (ADVICE r09).  EINTR just retries.
                        if e.errno not in (errno.EWOULDBLOCK, errno.EAGAIN,
                                           errno.EINTR):
                            raise
                        if time.monotonic() > deadline:
                            raise TimeoutError(
                                f"manifest lock for {table!r} held > "
                                f"{self._LOCK_WAIT_SECS}s ({lock})")
                        time.sleep(0.02)
                # guard against EXTERNAL deletion of the lock file while
                # we waited (we never unlink it ourselves): if the path
                # no longer names our locked inode, the lock we hold
                # excludes nobody — reopen and retry.  The reopen path
                # honors the SAME deadline (ADVICE r09: an external
                # process recreating the file in a loop must not make
                # this spin forever).
                try:
                    if os.stat(lock).st_ino == os.fstat(fd).st_ino:
                        return fd, ""
                except FileNotFoundError:
                    pass
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"manifest lock file for {table!r} kept being "
                        f"externally replaced for > {self._LOCK_WAIT_SECS}s "
                        f"({lock})")
            except (TimeoutError, OSError):
                os.close(fd)
                raise
            os.close(fd)  # inode mismatch, not timed out: reopen fresh
            time.sleep(0.02)  # pace the reopen loop like the flock-
            # contention branch — an external process replacing the lock
            # file in a loop must not make this spin at full speed

    def _release_manifest_lock(self, table: str, fd: int,
                               token: str) -> None:
        """flock release == close; the kernel drops the lock with the
        fd (and with the process, which is what makes crashed-writer
        staleness logic unnecessary).  The lock file stays on disk."""
        os.close(fd)

    def _read_manifest(self, table: str) -> dict | None:
        mp = self._manifest_path(table)
        if not os.path.exists(mp):
            return None
        with open(mp) as fh:
            return json.load(fh)

    def _publish_manifest(self, table: str, version: int,
                          versions: dict[str, list[str]],
                          expected_version: int | None = None,
                          promote: tuple[str, str] | None = None,
                          schemas: dict[str, str] | None = None,
                          windows: dict[str, list] | None = None,
                          absorbed: list | None = None,
                          batch_tags: list | None = None) -> None:
        """Atomic pointer flip: tmp file + ``os.replace`` locally — the
        analogue of a single small-object PUT on S3/GCS (which IS atomic,
        unlike directory rename there).  The manifest maps each retained
        version to its DIR LIST (a snapshot is the union of immutable
        dirs, Iceberg-style), so both full refreshes AND incremental
        appends become visible atomically: readers resolve the manifest
        first and see a complete previous snapshot or a complete new one,
        never a partial table.

        ``expected_version`` arms the compare-and-swap: under the table's
        exclusive lock the manifest is re-read, and if its version moved
        past the one this writer based its dir list on, the publish is
        REJECTED with :class:`ManifestConflict` — last-writer-wins would
        silently drop the other writer's dirs from the snapshot (the
        object-store analogue is a conditional PUT / If-Match ETag).

        ``promote`` = (stage_dirname, final_dirname): writers land their
        data in a writer-UNIQUE stage dir (two writers racing to the
        same ``__vN`` name would overwrite each other's files before
        either published) and the winner renames it to the version name
        here, after the CAS check, still under the lock — a metadata-only
        rename, so the lock is never held across a data write.  A final
        dir already present at that point is provably an unreferenced
        orphan (version N publishes at most once; the CAS just proved N
        is unpublished) from a writer that crashed between rename and
        pointer flip — it is removed."""
        tomb = None
        fd, lock_token = self._acquire_manifest_lock(table)
        try:
            if expected_version is not None:
                m = self._read_manifest(table)
                current = m["version"] if m else 0
                if current != expected_version:
                    raise ManifestConflict(
                        f"{table}: manifest advanced to v{current} while "
                        f"this writer prepared v{version} from "
                        f"v{expected_version}")
            if promote is not None:
                stage, final = (os.path.join(self.storage, d)
                                for d in promote)
                if os.path.exists(final):
                    # crash orphan, never published (the CAS just proved
                    # version N is unpublished).  Rename it aside and
                    # DELETE AFTER RELEASE: an rmtree of a table-sized
                    # dir would stretch the critical section from
                    # microseconds to seconds and stall every concurrent
                    # writer behind the flock.  Every operation under
                    # the lock stays metadata-only (reads, renames, one
                    # small replace).
                    tomb = final + ".tomb." + os.urandom(4).hex()
                    os.rename(final, tomb)
                os.rename(stage, final)
            tmp = self._manifest_path(table) + ".tmp"
            record = {"version": version, "versions": versions}
            if schemas is not None:
                # schema-on-manifest (see read_table): per retained
                # version, the authoritative reader schema
                record["schemas"] = schemas
            if windows is not None:
                # window-on-manifest (see _write_append): per still-
                # referenced dir, the [lower, upper) time window whose
                # rows it carries — the replace-key for idempotent
                # same-window fact reruns
                record["windows"] = windows
            if absorbed:
                # windows merged into an un-replaceable dir by
                # compact_fact (see there): a later append overlapping
                # one of these is REFUSED — the per-dir swap that made
                # same-window reruns idempotent no longer exists for
                # them.  A true full refresh publishes absorbed=None,
                # clearing the list (it recomputes everything).
                record["absorbed"] = absorbed
            if batch_tags:
                # content fingerprints of micro-batch appends already in
                # this snapshot (see _write_append): recorded in the SAME
                # atomic pointer flip as the data they describe, so a
                # foreachBatch retry can never observe the data without
                # its tag (or the tag without its data) — the
                # exactly-once gate for streaming fact appends (r18).
                # Compaction carries the list forward; a true full
                # refresh publishes batch_tags=None, clearing it.
                record["batch_tags"] = batch_tags
            with open(tmp, "w") as fh:
                json.dump(record, fh)
            os.replace(tmp, self._manifest_path(table))
        finally:
            self._release_manifest_lock(table, fd, lock_token)
        if tomb is not None:
            shutil.rmtree(tomb, ignore_errors=True)

    @staticmethod
    def _manifest_versions(m: dict) -> dict[str, list[str]]:
        if "versions" in m:
            return m["versions"]
        return {str(m["version"]): [m["dir"]]}  # pre-dirs-list manifests

    def _next_versions(self, m: dict | None, version: int,
                       dirs: list[str]) -> dict[str, list[str]]:
        """Retained-version map for a new publish: previous entries inside
        the retention horizon plus the new snapshot."""
        versions = dict(self._manifest_versions(m)) if m else {}
        versions = {v: ds for v, ds in versions.items()
                    if int(v) > version - self.keep_versions}
        versions[str(version)] = dirs
        return versions

    @staticmethod
    def _iso(bound) -> str | None:
        """Window bound -> ISO string (None passes through = unbounded).
        ``datetime.isoformat`` output is zero-padded, so lexicographic
        comparison of two bounds IS chronological comparison — including
        the no-microseconds short form, which prefix-compares correctly
        against the long form.  That property only holds when every stamp
        shares one clock, so tz-AWARE datetimes are converted to UTC and
        stamped NAIVE (the ``+00:00`` suffix would otherwise sort after a
        naive twin of the same instant and silently break the covers
        check across runs with mixed bounds); naive datetimes are taken
        to already BE UTC, which makes aware and naive inputs denoting
        the same instant produce the identical stamp."""
        if bound is None:
            return None
        if not hasattr(bound, "isoformat"):
            return str(bound)
        if getattr(bound, "tzinfo", None) is not None:
            from datetime import timezone

            bound = bound.astimezone(timezone.utc).replace(tzinfo=None)
        return bound.isoformat()

    @classmethod
    def _window_covers(cls, new_window: tuple, old: list | None) -> bool:
        """True when an incoming append's [lower, upper) window fully
        covers a live dir's recorded window — every row in that dir is
        being recomputed by this append, so the dir leaves the new
        snapshot (the MERGE/replaceWhere semantics).  A dir with no
        recorded window (full-refresh base, pre-window appends) is never
        replaced.  None bounds read as ±infinity."""
        if old is None:
            return False
        new_lo, new_hi = (cls._iso(b) for b in new_window)
        old_lo, old_hi = old
        lo_ok = new_lo is None or (old_lo is not None and new_lo <= old_lo)
        hi_ok = new_hi is None or (old_hi is not None and old_hi <= new_hi)
        return lo_ok and hi_ok

    @classmethod
    def _window_overlaps(cls, new_window: tuple, old: list | None) -> bool:
        """True when an incoming append's [lower, upper) window overlaps
        a recorded stamp at all (None bounds read as ±infinity) — the
        refuse-key for windows a compaction absorbed (r16 review)."""
        if old is None:
            return False
        new_lo, new_hi = (cls._iso(b) for b in new_window)
        old_lo, old_hi = old
        before = new_hi is not None and old_lo is not None and new_hi <= old_lo
        after = new_lo is not None and old_hi is not None and old_hi <= new_lo
        return not (before or after)

    def _next_windows(self, m: dict | None,
                      versions: dict[str, list[str]],
                      new_dir: str | None = None,
                      window: tuple | None = None) -> dict[str, list]:
        """Per-dir window map for a new publish: previous stamps pruned
        to dirs some retained version still references, plus the new
        dir's stamp when this append carries one."""
        referenced = {d for ds in versions.values() for d in ds}
        windows = {d: w for d, w in (m.get("windows", {}) if m else {}).items()
                   if d in referenced}
        if new_dir is not None and window is not None:
            windows[new_dir] = [self._iso(window[0]), self._iso(window[1])]
        return windows

    def _next_schemas(self, m: dict | None, version: int,
                      schema_json: str) -> dict[str, str]:
        """Per-retained-version schema map for a new publish — pruned on
        the same horizon as the dir lists, so a time-travel read always
        finds the schema its snapshot was published with."""
        schemas = dict(m.get("schemas", {})) if m else {}
        schemas = {v: s for v, s in schemas.items()
                   if int(v) > version - self.keep_versions}
        schemas[str(version)] = schema_json
        return schemas

    @staticmethod
    def _union_schema(prev_json: str | None, df: DataFrame) -> str:
        """Schema evolution for appends: the published snapshot's schema
        is the PREVIOUS schema plus any columns the append adds (old
        files simply lack the new columns — the explicit reader schema
        null-fills them, no footer merge ever happens).  A same-name
        column with a DIFFERENT type is a declared-schema conflict and
        fails loudly — silent coercion would corrupt every older file's
        reads.

        DROP CONTRACT: appends can only ADD columns.  A column present
        in the published schema but absent from the appending frame is
        NOT dropped — it stays in the snapshot schema and the appended
        files read as null for it (they have no such column on disk).
        Dropping a column requires a FULL REFRESH, which records exactly
        the refreshing frame's schema; still-retained older versions
        keep their publish-time schema for time-travel reads.  Pinned by
        ``test_manifest_schema_drop_requires_full_refresh``.  Rationale:
        an append is an additive delta — inferring "user meant to drop"
        from an absent column would turn every projection mistake into
        silent data loss across the whole table history."""
        from pyspark.sql import types as T

        new = df.schema
        if prev_json is None:
            return new.json()
        prev = T.StructType.fromJson(json.loads(prev_json))
        by_name = {f.name: f for f in prev.fields}
        fields = list(prev.fields)
        for f in new.fields:
            old = by_name.get(f.name)
            if old is None:
                fields.append(f)
            elif old.dataType != f.dataType:
                raise ValueError(
                    f"schema conflict on append: column {f.name!r} is "
                    f"{old.dataType.simpleString()} in the published "
                    f"snapshot but {f.dataType.simpleString()} in the "
                    f"append — widen explicitly with a full refresh")
        return T.StructType(fields).json()

    _STAGE_ORPHAN_AGE_SECS = 3600.0   # crashed-writer stage dirs

    def _write_stage(self, df: DataFrame, table: str, partition_by=()) -> str:
        """Write the manifest-mode data payload into a writer-unique
        stage dir (pid + random token) — promoted to its ``__vN`` name
        under the publish lock.  Version-named dirs must never be write
        targets: two writers computing the same next version would
        overwrite each other's files before either publish."""
        stage = f"{table}__stage_{os.getpid()}_{os.urandom(4).hex()}"
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(os.path.join(self.storage, stage))
        return stage

    @staticmethod
    def _dir_version(name: str, prefix: str) -> int | None:
        """Version number parsed from a ``<table>__vN[...]`` dir name
        (tomb suffixes included); None when the suffix is not numeric."""
        digits = ""
        for ch in name[len(prefix):]:
            if not ch.isdigit():
                break
            digits += ch
        return int(digits) if digits else None

    @staticmethod
    def _newest_mtime(path: str, newer_than: float) -> bool:
        """True iff ANY entry under ``path`` is newer than the cutoff —
        early-exits on the first hit, so a LIVE write is detected from
        its most recent file without walking the whole tree."""
        try:
            if os.path.getmtime(path) > newer_than:
                return True
            for root, dirs, files in os.walk(path):
                for n in dirs + files:
                    if os.path.getmtime(os.path.join(root, n)) > newer_than:
                        return True
        except OSError:
            return True        # vanishing/err-ing entries: assume live
        return False

    def _gc_versions(self, table: str, versions: dict[str, list[str]],
                     published_version: int | None = None) -> None:
        """Drop ``<table>__v*`` dirs no retained snapshot references.  A
        crash anywhere here is harmless: orphans are re-collected on the
        next publish, and readers never resolve them.  Orphans from a
        crashed publish (written but never referenced) are collected the
        same way.

        Two liveness guards (post-review hardening):

        * GC runs AFTER the publish lock is released, so a concurrent
          writer may have published a HIGHER version by now — a dir with
          a version number above this writer's own publish is someone
          else's live data, never garbage.  (Versions at or below ours
          are final: our CAS proved them, so unreferenced ones really
          are orphans.)
        * A stage dir's TOP-LEVEL mtime is set when Spark creates it and
          is not refreshed as files stream into partition subdirs, so
          age is judged by the NEWEST entry anywhere under the dir
          (early-exit walk) — a live writer mid-write always has a
          recent file."""
        prefix = table + "__v"
        referenced = {d for ds in versions.values() for d in ds}
        cutoff = time.time() - self._STAGE_ORPHAN_AGE_SECS
        for d in os.listdir(self.storage):
            full = os.path.join(self.storage, d)
            if d.startswith(prefix) and d not in referenced:
                v = self._dir_version(d, prefix)
                if (published_version is not None and v is not None
                        and v > published_version):
                    continue    # a later concurrent writer's live data
                shutil.rmtree(full, ignore_errors=True)
            elif d.startswith(table + "__stage_"):
                if not self._newest_mtime(full, cutoff):
                    shutil.rmtree(full, ignore_errors=True)

    def _snapshot_paths(self, table: str, version: int | None = None,
                        m: dict | None = None) -> list[str]:
        """Dir list for a manifest snapshot (live or time-travel).

        Callers that also need other manifest fields (e.g. the snapshot
        schema) pass the already-read manifest as ``m`` so the dir list
        and those fields come from ONE consistent read — two separate
        reads can straddle a concurrent publish and pair version V's
        dirs with version V+1's schema."""
        if m is None:
            m = self._read_manifest(table)
        if m is None:
            raise FileNotFoundError(f"no manifest for table {table!r}")
        v = m["version"] if version is None else version
        dirs = self._manifest_versions(m).get(str(v))
        if dirs is None:
            raise FileNotFoundError(
                f"{table} version {v} is not retained "
                f"(live={m['version']}, keep_versions={self.keep_versions})")
        return [os.path.join(self.storage, d) for d in dirs]

    def _live_dir(self, table: str) -> str:
        """Current readable directory — rename mode only (manifest
        snapshots are dir *lists*; use :meth:`_snapshot_paths`)."""
        self._recover_swap(table)
        return self._path(table)

    def table_exists(self, table: str) -> bool:
        if self.commit_mode == "manifest":
            return self._read_manifest(table) is not None
        self._recover_swap(table)
        return os.path.exists(self._path(table))

    def read_table(self, table: str, version: int | None = None) -> DataFrame:
        """Read the live table, or (manifest mode, ``keep_versions`` > 1)
        time-travel to a still-retained published snapshot — e.g. pin a
        training run to version N while refreshes and appends move the
        pointer forward."""
        if self.commit_mode == "manifest":
            # ONE manifest read resolves both the dir list and the
            # snapshot schema — a second read could land after a
            # concurrent publish and pair version V's dirs with
            # version V+1's schema (or a dropped table's None).
            m = self._read_manifest(table)
            paths = self._snapshot_paths(table, version, m=m)
            # schema-on-manifest: the publish recorded the snapshot's
            # authoritative schema, so mixed-schema snapshots (an append
            # that ADDED columns) read correctly — older files null-fill
            # the missing columns under the explicit reader schema.
            # This is the scale-safe alternative to mergeSchema, which
            # reads EVERY file footer (a non-starter on a 100 TB table);
            # pre-schema manifests fall back to footer inference.
            v = m["version"] if version is None else version
            schema_json = (m.get("schemas") or {}).get(str(v))
            if schema_json is not None:
                from pyspark.sql import types as T

                return (self.spark.read
                        .schema(T.StructType.fromJson(json.loads(schema_json)))
                        .parquet(*paths))
            return self.spark.read.parquet(*paths)
        if version is not None:
            raise ValueError("time-travel reads need commit_mode='manifest'")
        return self.spark.read.parquet(self._live_dir(table))

    def table_versions(self, table: str) -> list[int]:
        """Retained (readable) versions, oldest first; [] when absent."""
        if self.commit_mode != "manifest":
            return [1] if self.table_exists(table) else []
        m = self._read_manifest(table)
        if m is None:
            return []
        return sorted(int(v) for v in self._manifest_versions(m))

    def _write_full(self, df: DataFrame, table: str, partition_by=(),
                    absorbed: list | None = None,
                    preserve_windows: bool = False,
                    expected_input_version: int | None = None,
                    batch_tag: str | None = None) -> None:
        """Crash-safe full-refresh publication, per ``commit_mode``.

        rename: the previous live directory is renamed *aside* before
        staging is renamed in, so a crash at any point leaves either the
        old table or the new one readable — never neither.  The aside copy
        is deleted last (and reclaimed on the next swap if the delete
        itself crashed).

        manifest: the refresh lands in an immutable ``<table>__vN`` dir;
        the manifest pointer flips only after the write completes, then
        stale versions are garbage-collected.

        ``expected_input_version`` (compaction only, ADVICE r16): a full
        refresh whose payload was DERIVED from a specific published
        snapshot (compact_fact re-aggregates version V's rows) must not
        publish over a manifest that advanced past V — the concurrent
        commit's rows (and its window stamp) would silently vanish from
        the compacted snapshot.  The CAS loop's own retry-on-conflict is
        WRONG for such writers, so a version advance aborts with
        ManifestConflict and the caller reruns over the new snapshot."""
        if self.commit_mode == "manifest":
            stage = self._write_stage(df, table, partition_by)
            try:
                self._full_manifest_cas(df, table, stage, absorbed,
                                        expected_input_version,
                                        preserve_windows, batch_tag)
            except BaseException:
                # same stage-leak rule as _write_append: any raise after
                # the payload staged (version-advance abort, CAS
                # exhaustion) must reclaim the staged copy (ADVICE r16)
                shutil.rmtree(os.path.join(self.storage, stage),
                              ignore_errors=True)
                raise
            return
        staging, live = self._path(table, True), self._path(table)
        old = live + "__old"
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(staging)
        if batch_tag is not None:
            # inflight bracket around the tagged first-batch full write
            # (ADVICE r18): the tag sidecar lands only AFTER the live
            # rename below, so a crash in between left committed data
            # with no recorded tag and no marker — a foreachBatch replay
            # then took the append path untagged and double-counted.
            # With the marker, the replay's _inflight_retry_is_safe
            # refuses loudly (tag absent + opaque rename marker), and a
            # replay after a crash that DID reach the stamp no-op-skips
            # on the tag and heals the marker, exactly like the
            # bracketed append path.
            self._mark_inflight(table)
        self._recover_swap(table)     # heal a swap crashed before rename-in
        if os.path.exists(old):       # leftover from a crash mid-delete
            shutil.rmtree(old)
        if os.path.exists(live):
            os.rename(live, old)
        os.rename(staging, live)
        if os.path.exists(old):
            shutil.rmtree(old)
        if not preserve_windows:
            # a full refresh recomputes every window, so previously
            # stamped appends no longer exist to double-count against.
            # Compaction passes preserve_windows=True: it MERGES the
            # stamped rows (they still exist), so the ledger must keep
            # refusing their reruns (r16 review).  Batch tags follow the
            # same rule (compaction merges the tagged rows; a true full
            # refresh replaces them).
            self._clear_rename_windows(table)
            self._clear_batch_tags(table)
        if batch_tag is not None:
            # a streaming pipeline's FIRST micro-batch lands as a full
            # write (table doesn't exist yet) — its tag must still be
            # recorded or a later replay of that batch, arriving once the
            # table exists, would take the append path untagged and
            # double-count (r18)
            self._stamp_batch_tag(table, batch_tag)
            self._mark_inflight(table, clear=True)

    def _full_manifest_cas(self, df: DataFrame, table: str, stage: str,
                           absorbed: list | None,
                           expected_input_version: int | None,
                           preserve_windows: bool = False,
                           batch_tag: str | None = None) -> None:
        """The manifest-mode full-refresh publish: bounded CAS retry
        promoting the already-staged payload (stage cleanup on raise is
        the caller's job — see :meth:`_write_full`)."""
        for _ in range(16):    # bounded CAS retry; no data rewrite
            m = self._read_manifest(table)
            if expected_input_version is not None and \
                    (m is None or m["version"] != expected_input_version):
                # derived-payload writer (compaction): someone committed
                # (or dropped/recreated the table) since the input
                # snapshot was read — retrying the CAS would publish a
                # snapshot missing their rows and their window stamp
                # (ADVICE r16 TOCTOU; the vanished-manifest arm is
                # ADVICE r17: without it a derived payload silently
                # published as v1 over the recreated table).  Abort;
                # the caller reruns over the current snapshot.
                now = f"v{m['version']}" if m is not None else \
                    "a dropped/recreated manifest"
                raise ManifestConflict(
                    f"{table}: manifest advanced to {now} "
                    f"after the compaction read its input at "
                    f"v{expected_input_version} — publishing would drop "
                    "the concurrent commit's rows; rerun the compaction")
            version = (m["version"] if m else 0) + 1
            dirname = f"{table}__v{version}"
            versions = self._next_versions(m, version, [dirname])
            schemas = self._next_schemas(m, version, df.schema.json())
            # a full refresh carries no window stamp (it covers
            # everything); prior stamps prune to dirs some retained
            # snapshot still references.  ``absorbed`` (compaction
            # only) carries the merged-away window stamps forward as
            # refuse-keys; a true full refresh passes None, clearing
            # them.
            wins = self._next_windows(m, versions)
            # batch tags follow the window rule: compaction
            # (preserve_windows=True) merges the tagged rows, so their
            # replay protection carries forward; a true full refresh
            # replaces them and clears the list — unless this full write
            # IS a tagged micro-batch (a streaming pipeline's first
            # batch landing on a nonexistent table), which seeds it.
            tags = (list(m.get("batch_tags", []))
                    if preserve_windows and m is not None else [])
            if batch_tag is not None and batch_tag not in tags:
                tags.append(batch_tag)
            tags = self._bound_tags(tags)
            try:
                self._publish_manifest(table, version, versions,
                                       expected_version=version - 1,
                                       promote=(stage, dirname),
                                       schemas=schemas, windows=wins,
                                       absorbed=absorbed,
                                       batch_tags=tags or None)
            except ManifestConflict:
                continue       # re-read the advanced manifest, retry
            self._gc_versions(table, versions,
                              published_version=version)
            return
        raise ManifestConflict(
            f"{table}: full refresh lost the manifest CAS 16 times")

    def _write_append(self, df: DataFrame, table: str, partition_by=(),
                      window: tuple | None = None,
                      batch_tag: str | None = None) -> None:
        """Append ``df`` as a new immutable dir of the live snapshot.

        ``batch_tag`` (streaming micro-batches, r18): a content
        fingerprint of the batch this append carries.  A tag already
        recorded for the table means the batch is fully committed — the
        append is a SKIPPED no-op (exactly-once across foreachBatch
        retries and checkpoint-lineage resets, where unbounded windows
        can't protect: they are refused as stamps below).  Manifest mode
        records the tag in the SAME atomic pointer flip as the data;
        rename mode stamps a sidecar after the files land (same crash
        exposure as its window ledger, bracketed by the inflight
        journal).

        ``window=(lower, upper)`` stamps the dir with the time window it
        carries and REPLACES any live dirs whose recorded window the new
        one fully covers — MERGE/replaceWhere semantics on the window
        key, manifest mode only.  A re-run of an already-committed fact
        window (late-arriving data, a healing rerun after a crash) then
        swaps the recomputed rows in atomically instead of double-
        counting them (pinned by
        ``test_incremental_rerun_same_window_is_idempotent``).  Forward
        windows are disjoint from every recorded stamp, so a normal
        incremental run is a pure append, exactly as before.  Replaced
        dirs stay on disk while an older retained snapshot references
        them (time travel); GC reclaims them on the usual horizon.
        Rename mode CANNOT merge — file-level appends have no atomic
        swap — so instead of silently double-counting it stamps each
        windowed append in a sidecar ledger and REFUSES a rerun whose
        window covers a recorded stamp (raising with the two honest ways
        out: full refresh, or manifest mode — the 100 TB path — whose
        swap-in semantics the refusal mirrors; pinned by
        ``test_rename_mode_same_window_rerun_refuses``).
        A window with an unbounded (None) upper is refused as a stamp:
        it delimits nothing, and an unbounded stamp would cover every
        other unbounded stamp (the streaming micro-batch data-loss
        shape; see _run_fact_table)."""
        if window is not None and window[1] is None:
            window = None
        if batch_tag is not None and batch_tag in self._recorded_tags(table):
            return            # batch already committed: retry is a no-op
        if self.commit_mode == "manifest":
            # the append lands in its OWN immutable dir and the pointer
            # flip adds it to the snapshot's dir list — appends are as
            # atomic as full refreshes on an object store (a crashed
            # append leaves an unreferenced orphan, never a half-visible
            # table).  The inflight journal still brackets the
            # append-then-watermark pair (see below): manifest atomicity
            # covers table visibility, not the separate watermark file.
            if self._read_manifest(table) is None:
                raise FileNotFoundError(f"no manifest for table {table!r}")
            stage = self._write_stage(df, table, partition_by)
            try:
                self._append_manifest_cas(df, table, stage, window,
                                          batch_tag)
            except BaseException:
                # a refused rerun (absorbed-window overlap) or CAS
                # exhaustion raises AFTER the stage payload landed —
                # without this, every refusal leaks a full copy of the
                # append on disk until some later successful publish's
                # _gc_versions ages it out (ADVICE r16).  A successful
                # publish renamed the stage away, so the rmtree is a
                # no-op there.
                shutil.rmtree(os.path.join(self.storage, stage),
                              ignore_errors=True)
                raise
            return
        if window is not None:
            stamps = self._rename_window_stamps().get(table, [])
            covered = [s for s in stamps if self._window_covers(window, s)]
            if covered:
                lo, hi = (self._iso(b) for b in window)
                raise ValueError(
                    f"{table}: append window [{lo}, {hi}) covers "
                    f"{len(covered)} already-committed window(s) "
                    f"(e.g. [{covered[0][0]}, {covered[0][1]})) — rename "
                    "mode has no atomic swap, so re-appending would "
                    "double-count those rows.  Re-run as a full refresh, "
                    "or use commit_mode='manifest' for MERGE semantics")
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._live_dir(table))
        if window is not None:
            # stamped AFTER the files land: a crash in between leaves the
            # ledger behind the data, but fact appends are bracketed by
            # the inflight journal (below), which already refuses a
            # rerun after a mid-append crash in rename mode.
            self._stamp_rename_window(table, window)
        if batch_tag is not None:
            # same land-then-stamp order and crash bracket as the window
            # ledger above
            self._stamp_batch_tag(table, batch_tag)

    def _append_manifest_cas(self, df: DataFrame, table: str, stage: str,
                             window: tuple | None,
                             batch_tag: str | None = None) -> None:
        """The manifest-mode append publish: bounded CAS retry promoting
        the already-staged payload dir into the next snapshot.  Factored
        out of :meth:`_write_append` so the caller can guarantee stage
        cleanup on ANY raise (absorbed-window refusal, CAS exhaustion —
        ADVICE r16: each leaked a full payload copy on disk)."""
        legacy_schema_cache: dict = {}
        for _ in range(16):    # bounded CAS retry; no data rewrite
            m = self._read_manifest(table)
            if batch_tag is not None and batch_tag in m.get("batch_tags",
                                                            []):
                # a concurrent/prior writer committed this batch while we
                # prepared (or the pre-stage check raced): nothing to
                # publish — reclaim the staged payload HERE (the caller's
                # cleanup only runs on raise; a silent return would leak
                # a full copy on disk, the ADVICE r16 stage-leak class)
                shutil.rmtree(os.path.join(self.storage, stage),
                              ignore_errors=True)
                return
            version = m["version"] + 1
            dirname = f"{table}__v{version}"
            # live_dirs is re-resolved per attempt: on a lost CAS the
            # re-read picks up the OTHER writer's dirs, so both
            # appends end up in the published snapshot — the exact
            # lost-update the plain read-modify-write allowed
            live_dirs = self._manifest_versions(m)[str(m["version"])]
            if window is not None:
                # windows a compaction merged away have no dir to
                # swap — an overlapping rerun would silently double
                # those rows, so it is refused (the rename-mode
                # semantics; r16 review)
                hit = [s for s in m.get("absorbed", [])
                       if self._window_overlaps(window, s)]
                if hit:
                    lo, hi = (self._iso(b) for b in window)
                    raise ValueError(
                        f"{table}: append window [{lo}, {hi}) overlaps "
                        f"{len(hit)} window(s) merged by compaction "
                        f"(e.g. [{hit[0][0]}, {hit[0][1]})) — their "
                        "rows no longer live in a swappable dir, so "
                        "re-appending would double-count them.  "
                        "Re-run as a full refresh")
                stamps = m.get("windows", {})
                live_dirs = [d for d in live_dirs
                             if not self._window_covers(window,
                                                        stamps.get(d))]
            versions = self._next_versions(m, version,
                                           live_dirs + [dirname])
            # evolved snapshot schema: previous + any appended columns
            prev_schema = m.get("schemas", {}).get(str(m["version"]))
            if prev_schema is None:
                # pre-schema manifest (published before schema
                # tracking existed): footer-infer the live
                # snapshot's schema so columns present in older
                # files but absent from this append survive the
                # union, and the type-conflict guard covers them.
                # mergeSchema because a legacy snapshot can span
                # MULTIPLE dirs with heterogeneous file schemas
                # (old narrow appends + a wide refresh) — a single
                # footer could record a narrowed schema and drop
                # columns from all future reads.  The every-footer
                # cost is paid once per SNAPSHOT (cached across the
                # CAS retries of this call — N contending legacy
                # writers previously re-read every footer per lost
                # CAS, r16 review); the publish records the merged
                # schema and the path never runs again.
                snap = tuple(self._snapshot_paths(table, m=m))
                if legacy_schema_cache.get("paths") != snap:
                    legacy_schema_cache["paths"] = snap
                    legacy_schema_cache["schema"] = (
                        self.spark.read
                        .option("mergeSchema", "true")
                        .parquet(*snap).schema.json())
                prev_schema = legacy_schema_cache["schema"]
            schemas = self._next_schemas(
                m, version, self._union_schema(prev_schema, df))
            wins = self._next_windows(m, versions, dirname, window)
            tags = list(m.get("batch_tags", []))
            if batch_tag is not None:
                tags.append(batch_tag)
            tags = self._bound_tags(tags)
            try:
                self._publish_manifest(table, version, versions,
                                       expected_version=version - 1,
                                       promote=(stage, dirname),
                                       schemas=schemas, windows=wins,
                                       absorbed=m.get("absorbed"),
                                       batch_tags=tags or None)
            except ManifestConflict:
                continue
            self._gc_versions(table, versions,
                              published_version=version)
            return
        raise ManifestConflict(
            f"{table}: append lost the manifest CAS 16 times")

    # --- rename-mode window ledger -----------------------------------------
    # Manifest mode records per-dir window stamps inside the manifest;
    # rename mode appends files into one live dir, so its stamps live in
    # a sidecar JSON keyed by table.  A full refresh clears the table's
    # stamps (it covers everything, same as manifest dropping old dirs).

    @staticmethod
    def _atomic_json(path: str, obj) -> None:
        """Sidecar state files (watermarks, inflight journal, window
        ledger) rewrite via tmp + os.replace — an in-place open('w')
        truncate-then-write leaves partial JSON after a crash/disk-full,
        and these files ARE the crash-recovery state (r16 review; the
        manifest pointer and index_lifecycle.flip_pointer already used
        this pattern)."""
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(obj, fh, indent=2)
        os.replace(tmp, path)

    def _update_json(self, path: str, edit) -> None:
        """The one read-modify-write of a sidecar: under the engine's
        sidecar lock, ``edit`` mutates the parsed dict in place (``{}``
        when the file is absent) and returns False to skip the rewrite.
        All writers of a sidecar share its ``path + ".tmp"``
        (:meth:`_atomic_json`), so two unlocked writers — two tables of
        one DAG committing at once — would lose entries or collide on
        the tmp file."""
        with self._sidecar_lock:
            obj = {}
            if os.path.exists(path):
                with open(path) as fh:
                    obj = json.load(fh)
            if edit(obj) is not False:
                self._atomic_json(path, obj)

    @property
    def _rename_windows_path(self) -> str:
        return os.path.join(self.storage, "_rename_windows.json")

    def _rename_window_stamps(self) -> dict:
        if os.path.exists(self._rename_windows_path):
            with open(self._rename_windows_path) as fh:
                return json.load(fh)
        return {}

    def _stamp_rename_window(self, table: str, window: tuple) -> None:
        stamp = [self._iso(window[0]), self._iso(window[1])]
        self._update_json(self._rename_windows_path,
                          lambda stamps: stamps.setdefault(table, [])
                          .append(stamp))

    def _clear_rename_windows(self, table: str) -> None:
        self._update_json(self._rename_windows_path,
                          lambda stamps: stamps.pop(table, None) is not None)

    # --- micro-batch tag ledger (r18) ---------------------------------------
    # Exactly-once for streaming fact appends: each micro-batch's content
    # fingerprint is recorded with the data it produced (inside the
    # manifest in manifest mode — atomic with the pointer flip; in this
    # sidecar in rename mode), and _write_append skips a batch whose tag
    # is already recorded.  Unbounded micro-batch windows are refused as
    # window stamps (see _run_fact_table), so without tags a foreachBatch
    # retry double-counted silently.

    # Tag retention bound (ADVICE r18): without one, every micro-batch
    # grew the ledger forever — manifest size and the per-append
    # membership scan linear in stream lifetime.  The ledger keeps the
    # newest BATCH_TAG_RETENTION tags (FIFO); the replay-protection
    # window is therefore the last N batches, which covers the real
    # replay sources — foreachBatch retries (always the current batch)
    # and checkpoint-lineage resets replaying the recent source tail.  A
    # fresh-checkpoint replay reaching further back than N committed
    # batches is outside the ledger's protection and needs a full
    # refresh, documented in StreamingPipeline.  At the default bound
    # the ledger costs ~100 KB of manifest and a trivial linear scan.
    BATCH_TAG_RETENTION = 4096

    def _bound_tags(self, tags: list) -> list:
        """Newest-N retention for the micro-batch tag ledger; tags are
        appended in commit order, so the slice drops the oldest."""
        return tags[-self.BATCH_TAG_RETENTION:]

    @property
    def _batch_tags_path(self) -> str:
        return os.path.join(self.storage, "_batch_tags.json")

    def _recorded_tags(self, table: str) -> list:
        if self.commit_mode == "manifest":
            m = self._read_manifest(table)
            return m.get("batch_tags", []) if m else []
        if os.path.exists(self._batch_tags_path):
            with open(self._batch_tags_path) as fh:
                return json.load(fh).get(table, [])
        return []

    def _stamp_batch_tag(self, table: str, tag: str) -> None:
        """Rename-mode sidecar stamp (manifest mode records tags inside
        the manifest publish itself — never call this there for appends;
        _write_full calls it for the rename-mode first-batch full write)."""
        if self.commit_mode == "manifest":
            return

        def stamp(tags: dict) -> bool:
            per = tags.setdefault(table, [])
            if tag in per:
                return False
            tags[table] = self._bound_tags(per + [tag])
            return True
        self._update_json(self._batch_tags_path, stamp)

    def _clear_batch_tags(self, table: str) -> None:
        if self.commit_mode == "manifest":
            return            # the full publish writes batch_tags itself
        self._update_json(self._batch_tags_path,
                          lambda tags: tags.pop(table, None) is not None)

    # --- watermarks --------------------------------------------------------

    @property
    def _wm_path(self) -> str:
        return os.path.join(self.storage, "_watermarks.json")

    def watermarks(self) -> dict:
        if os.path.exists(self._wm_path):
            with open(self._wm_path) as fh:
                return json.load(fh)
        return {}

    def _store_watermark(self, table: str, upper) -> None:
        """Record the exclusive upper bound of the last refresh as an ISO
        timestamp — the resume point for the next incremental run (see
        run_fact).  Unbounded refreshes (upper=None) store nothing."""
        if upper is None:
            return
        iso = upper.isoformat() if hasattr(upper, "isoformat") else str(upper)
        self._update_json(self._wm_path, lambda wm: wm.update({table: iso}))

    def _commit_watermark(self, table: str, upper) -> None:
        """Watermark update + inflight-marker clear in ONE atomic write
        (r16 review): they live in the same file, and a crash between
        two separate writes left a stale inflight marker that bricked
        the next incremental run after a fully successful append."""
        def commit(wm: dict) -> None:
            if upper is not None:
                wm[table] = (upper.isoformat()
                             if hasattr(upper, "isoformat") else str(upper))
            wm.get("__inflight__", {}).pop(table, None)
        self._update_json(self._wm_path, commit)

    # Incremental fact appends are not atomic with the watermark update:
    # a crash between the append's job commit and _store_watermark would
    # make a watermark-resumed rerun append the same window twice — and
    # doubled counts/sums are indistinguishable from legitimate mergeable
    # partials, so compaction cannot heal them.  An in-flight marker
    # brackets the append; finding a stale one fails loudly instead.
    # (Incremental DIMENSION appends are replay-idempotent — the anti-join
    # drops already-present rows — so only facts are journaled.)

    def _inflight(self) -> dict:
        return self.watermarks().get("__inflight__", {})

    def _mark_inflight(self, table: str, clear: bool = False) -> None:
        # manifest mode records the pre-append manifest version: on
        # resume, an unchanged version proves the append never became
        # visible (crash before the pointer flip) and the retry is safe —
        # only a version that DID advance means the append committed
        # without its watermark (double-count risk).  rename mode can't
        # tell the two apart (files appear as they land), so it stores an
        # opaque True and always refuses.
        marker = True
        if not clear and self.commit_mode == "manifest":
            m = self._read_manifest(table)
            marker = m["version"] if m else 0

        def mark(wm: dict) -> None:
            inf = wm.setdefault("__inflight__", {})
            if clear:
                inf.pop(table, None)
            else:
                inf[table] = marker
        self._update_json(self._wm_path, mark)

    def _inflight_retry_is_safe(self, table: str,
                                window: tuple | None = None,
                                batch_tag: str | None = None) -> bool:
        """True when the interrupted append provably never published — or
        (window-stamped manifest appends, r12) when the rerun's window
        fully covers every dir the interrupted run DID publish, so the
        rerun atomically swaps the half-committed window out instead of
        doubling it — or (tagged micro-batches, r18) when the batch's
        content tag is already recorded: the interrupted run provably
        COMPLETED its append (tag and data commit together in manifest
        mode), only the watermark commit was lost, and the retry's
        _write_append will no-op-skip before this run re-commits it."""
        if batch_tag is not None and batch_tag in self._recorded_tags(table):
            return True
        marker = self._inflight().get(table)
        # bool is an int subclass: a rename-mode opaque `True` marker read
        # by a manifest-mode engine must NOT compare equal to version 1
        if (self.commit_mode != "manifest" or isinstance(marker, bool)
                or not isinstance(marker, int)):
            return False
        m = self._read_manifest(table)
        if m is None:
            return False
        if m["version"] == marker:
            return True        # never published; plain retry is safe
        if window is None:
            return False
        # The interrupted append DID publish.  Dir names carry the
        # version they published at (`<table>__vN`), so the dirs it (or
        # any later writer) added are exactly the live dirs with a
        # version past the marker — no retention of the marker version
        # itself is needed.  The rerun is safe iff every one of them is
        # window-stamped and fully covered: the append then swaps the
        # half-committed window out instead of doubling it.
        prefix = table + "__v"
        stamps = m.get("windows", {})
        added = [d for d in self._manifest_versions(m)[str(m["version"])]
                 if (self._dir_version(d, prefix) or 0) > marker]
        return all(self._window_covers(window, stamps.get(d))
                   for d in added)

    # --- execution ---------------------------------------------------------

    def _fact_partition_cols(self, fact: Fact) -> list[str]:
        return [fc.target_column for fc in fact.columns
                if isinstance(fc.type, TenantId)]

    def _with_fact_partitioning(self, fact: Fact, df: DataFrame
                                ) -> tuple[DataFrame, list[str]]:
        """(df with derived day column, partition column list) when
        partition_facts is on — shared by initial writes and compaction so
        re-writes never silently drop the directory layout."""
        if not self.partition_facts:
            return df, []
        s = self.env.settings
        partition_by = []
        for fc in fact.columns:
            if isinstance(fc.type, DimTime):
                from .extractor import time_unit_column_name

                tid = time_unit_column_name(
                    s.dim_table_id_column_name, fc.target_column, s.time_unit)
                day = f"{fc.target_column}_day"
                if day not in df.columns:
                    df = df.withColumn(
                        day, F.floor(F.col(tid) * s.time_unit.seconds / 86400))
                partition_by.append(day)
                break
        partition_by += self._fact_partition_cols(fact)
        return df, partition_by

    def run_fact(self, fact: Fact, mode: PopulationMode, time_upper,
                 time_lower=None, resume: bool = True,
                 batch_tag: str | None = None) -> str:
        """Populate one fact and every dimension it (recursively) needs;
        returns the extracted fact table name.

        Incremental runs with no explicit lower bound resume from the
        stored watermark (the previous run's upper bound); pass
        ``resume=False`` to process an unbounded window instead (the
        streaming pipeline does — its micro-batches are already bounded).

        ``batch_tag`` (streaming micro-batches): a content fingerprint of
        the batch; a tag already recorded for the fact table makes the
        append a no-op, so foreachBatch retries and checkpoint-lineage
        replays are exactly-once (see :meth:`_write_append`).  Dimension
        appends need no tag — their anti-join is replay-idempotent."""
        return self._run_dag([fact], mode, time_upper, time_lower, resume,
                             batch_tag)[0]

    def run(self, mode: PopulationMode = PopulationMode.FULL, time_upper=None,
            time_lower=None) -> list[str]:
        """Populate every persistent fact (and all dimensions) as one DAG;
        returns the fact table names in env order."""
        return self._run_dag([f for f in self.env.facts if f.persistent],
                             mode, time_upper, time_lower)

    def _resume_lower(self, fact: Fact, mode: PopulationMode, time_lower,
                      resume: bool):
        """The window's lower bound for ``fact``: ``time_lower``, or on an
        incremental resume without one, the fact table's stored
        watermark."""
        if resume and mode == PopulationMode.INCREMENTAL and time_lower is None:
            stored = self.watermarks().get(extract_fact_table(self.env, fact).name)
            if stored is not None:
                import datetime as _dt

                return _dt.datetime.fromisoformat(stored)
        return time_lower

    def _run_dag(self, facts: list[Fact], mode: PopulationMode, time_upper,
                 time_lower, resume: bool = True,
                 batch_tag: str | None = None) -> list[str]:
        """Populate ``facts`` and the derived dimensions they need as one
        DAG (module docstring): a node per derived table, the edges of
        :func:`extract_dependencies` between them.  A dimension is built
        once, from the first fact (in ``facts`` order) that needs it and
        in that fact's window.  Returns the fact table names."""
        steps: dict[str, partial] = {}
        deps: dict[str, list[str]] = {}
        produced = []
        for fact in facts:
            lower = self._resume_lower(fact, mode, time_lower, resume)
            for dim_fact, dim in extract_all_dimension_tables(self.env, fact):
                if (self.env.find_table(dim.name) is None
                        and dim.name not in steps):
                    steps[dim.name] = partial(self._run_dimension, dim_fact,
                                              dim.name, mode, time_upper,
                                              lower)
            name = extract_fact_table(self.env, fact).name
            steps[name] = partial(self._run_fact_table, fact, mode,
                                  time_upper, lower, batch_tag)
            deps.update(extract_dependencies(self.env, fact))
            produced.append(name)
        self._run_steps(steps, {t: [d for d in deps.get(t, ()) if d in steps]
                                for t in steps})
        return produced

    def _run_steps(self, steps: dict, deps: dict[str, list[str]]) -> None:
        """Run each step once every step it depends on has succeeded,
        independent steps at the same time, one worker thread per step.
        After the first failure nothing new starts; steps in flight
        finish, then the failure first in topo order is re-raised."""
        if not steps:
            return
        order = topo_order(deps)
        waiting = {t: set(deps[t]) for t in order}
        running, failed = {}, {}
        with ThreadPoolExecutor(max_workers=len(order),
                                thread_name_prefix="ringo-dag") as pool:
            while True:
                ready = [] if failed else [t for t in order
                                           if t in waiting and not waiting[t]]
                for t in ready:
                    del waiting[t]
                    # local properties (job group, scheduler pool) are
                    # copied here, in the submitting thread
                    step = inheritable_thread_target(self.spark)(steps[t])
                    running[pool.submit(step)] = t
                if not running:
                    break
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    t = running.pop(fut)
                    if fut.exception() is not None:
                        failed[t] = fut.exception()
                        continue
                    for rest in waiting.values():
                        rest.discard(t)
        if failed:
            raise failed[min(failed, key=order.index)]

    def _run_dimension(self, fact: Fact, dim_table: str, mode: PopulationMode,
                       time_upper, time_lower) -> None:
        exists = self.table_exists(dim_table)
        if mode == PopulationMode.INCREMENTAL and exists:
            existing = self.read_table(dim_table)
            new_rows = dimension_population_df(
                self.env, fact, dim_table, self.sources,
                mode=PopulationMode.INCREMENTAL, time_upper=time_upper,
                time_lower=time_lower, existing_dim=existing)
            self._write_append(new_rows, dim_table)
        else:
            df = dimension_population_df(
                self.env, fact, dim_table, self.sources,
                mode=PopulationMode.FULL, time_upper=time_upper)
            self._write_full(df, dim_table)
        self._store_watermark(dim_table, time_upper)

    def _run_fact_table(self, fact: Fact, mode: PopulationMode,
                        time_upper, time_lower,
                        batch_tag: str | None = None) -> None:
        derived = extract_fact_table(self.env, fact)
        dim_names = {t.name for _, t in extract_all_dimension_tables(self.env, fact)
                     if self.env.find_table(t.name) is None}
        dims = {name: self.read_table(name) for name in dim_names}
        df = fact_population_df(self.env, fact, self.sources, dims=dims,
                                mode=mode, time_upper=time_upper,
                                time_lower=time_lower,
                                count_distinct_mode=self.count_distinct_mode,
                                salt_tenant_buckets=self.salt_tenant_buckets)
        df, partition_by = self._with_fact_partitioning(fact, df)
        # A window stamp asserts "this dir carries exactly the source
        # rows in [lower, upper)" — meaningless without a FINITE upper.
        # Streaming micro-batches run unbounded (time_upper=None,
        # resume=False): their rows partition by ARRIVAL, not by any
        # time window, so stamping them (None, None) would make every
        # later micro-batch 'cover' — and silently replace — all
        # earlier ones (r12 review finding; pinned by the 3-batch
        # streaming-pipeline test).  Unbounded appends stay unstamped:
        # pure additive, never replaced, never replacing.
        window = (time_lower, time_upper) if time_upper is not None else None
        if mode == PopulationMode.INCREMENTAL and self.table_exists(derived.name):
            if (derived.name in self._inflight()
                    and not self._inflight_retry_is_safe(derived.name,
                                                         window,
                                                         batch_tag)):
                raise RuntimeError(
                    f"previous incremental append to {derived.name} did not "
                    f"complete (crash between append and watermark update); "
                    f"the window may be partially committed — re-run the "
                    f"same window (manifest mode swaps it in atomically), "
                    f"run a full refresh, or verify the table and clear "
                    f"the '__inflight__' entry in _watermarks.json")
            self._mark_inflight(derived.name)
            # window-stamped: a rerun of an already-committed window
            # REPLACES that window's dirs instead of double-counting
            # (manifest mode; see _write_append)
            try:
                self._write_append(df, derived.name, partition_by,
                                   window=window, batch_tag=batch_tag)
            except ValueError:
                # a window REFUSAL (rename-ledger cover / compaction-
                # absorbed overlap) raises before anything lands in the
                # live table — clearing the bracket keeps the next run's
                # inflight check telling the truth (a stale marker here
                # would surface as a spurious mid-append-crash error
                # once the manifest version moves, e.g. via compaction)
                self._mark_inflight(derived.name, clear=True)
                raise
        else:
            self._write_full(df, derived.name, partition_by,
                             batch_tag=batch_tag)
            self._mark_inflight(derived.name, clear=True)  # full run heals
        # watermark + inflight-clear as ONE atomic write (r16 review)
        self._commit_watermark(derived.name, time_upper)

    def compact_fact(self, fact: Fact) -> None:
        """Re-aggregate the persisted fact table to one row per grain key.

        Incremental appends (and streaming micro-batches) may write partial
        rows for the same grain; every measure is mergeable by design —
        counts/sums add, min/min, max/max, avg stays a (count,sum) pair,
        count-distinct sketches union (this is the reference's motive for
        storing partial-aggregate state, Extractor.hs:48-51 + §2.6)."""
        from .model import (
            FactAverage, FactCount, FactCountDistinct, FactMax, FactMin,
            FactSum,
        )

        s = self.env.settings
        derived = extract_fact_table(self.env, fact)
        # manifest mode: ONE manifest read anchors the whole compaction —
        # the input rows, the absorbed refuse-keys, and the publish's
        # expected version all come from the same snapshot.  A concurrent
        # commit between this read and the publish makes _write_full
        # abort (ManifestConflict) instead of publishing a snapshot
        # missing that commit's rows and window stamp (ADVICE r16 TOCTOU;
        # previously the CAS loop silently retried over the advance).
        input_version: int | None = None
        m0 = None
        if self.commit_mode == "manifest":
            m0 = self._read_manifest(derived.name)
            if m0 is not None:
                input_version = m0["version"]
                df = self.read_table(derived.name, version=input_version)
            else:
                df = self.read_table(derived.name)
        else:
            df = self.read_table(derived.name)
        measure_aggs, measures = [], set()
        for fc in fact.columns:
            c, t = fc.target_column, fc.type
            if isinstance(t, (FactCount, FactSum)):
                measure_aggs.append(F.sum(c).alias(c))
                measures.add(c)
            elif isinstance(t, FactMax):
                measure_aggs.append(F.max(c).alias(c))
                measures.add(c)
            elif isinstance(t, FactMin):
                measure_aggs.append(F.min(c).alias(c))
                measures.add(c)
            elif isinstance(t, FactAverage):
                for suf in (s.avg_count_column_suffix, s.avg_sum_column_suffix):
                    measure_aggs.append(F.sum(c + suf).alias(c + suf))
                    measures.add(c + suf)
            elif isinstance(t, FactCountDistinct):
                if self.count_distinct_mode != "sketch":
                    raise ValueError(
                        "compaction of count-distinct requires sketch mode "
                        "(estimates are not mergeable)")
                measure_aggs.append(F.hll_union_agg(c).alias(c))
                measures.add(c)
        keys = [c for c in df.columns if c not in measures]
        # re-summing widens decimals (sum of decimal(28,2) is
        # decimal(38,2)); cast every merged measure back to its
        # published type, or the next append's schema conflicts with
        # the compacted snapshot's
        types = {f.name: f.dataType for f in df.schema.fields}
        out = df.groupBy(*keys).agg(*measure_aggs).select(
            *[F.col(c).cast(types[c]).alias(c) if c in measures else c
              for c in df.columns])
        # safe: _write_full materializes into the staging dir before the
        # live dir (our input) is replaced; re-applying the partitioning
        # keeps the day/tenant directory layout through compaction
        out, partition_by = self._with_fact_partitioning(fact, out)
        # compaction is NOT a full refresh: the windowed rows it merges
        # still exist in the output, so the same-window rerun protection
        # must survive it (r16 review — _write_full's default clears it,
        # silently re-enabling double-counting appends).  Manifest mode
        # carries every live dir's stamp (plus previously absorbed ones)
        # forward as refuse-keys; rename mode keeps its ledger.
        absorbed = None
        if m0 is not None:
            live = self._manifest_versions(m0)[str(m0["version"])]
            stamps = m0.get("windows", {})
            absorbed = (list(m0.get("absorbed", []))
                        + [stamps[d] for d in live if stamps.get(d)])
            absorbed = absorbed or None
        self._write_full(out, derived.name, partition_by,
                         absorbed=absorbed, preserve_windows=True,
                         expected_input_version=input_version)

    # --- JDBC sink (Postgres-sink parity, Main.hs:35-83) -------------------

    def published_tables(self) -> list[str]:
        """Names of every dim/fact table a full run materializes, in topo
        order (dims before the facts that reference them — FK-friendly
        load order for a relational sink)."""
        names: list[str] = []
        for fact in self.env.facts:
            if not fact.persistent:
                continue
            derived = extract_fact_table(self.env, fact)
            for _, t in extract_all_dimension_tables(self.env, fact):
                if self.env.find_table(t.name) is None and t.name not in names:
                    names.append(t.name)
            if derived.name not in names:
                names.append(derived.name)
        return [n for n in names if self.table_exists(n)]

    def publish_jdbc(self, jdbc_url: str, tables: list[str] | None = None,
                     mode: str = "error", options: dict | None = None,
                     num_partitions: int | None = None) -> list[str]:
        """Publish populated dimension/fact tables to a JDBC sink.

        The reference's actual output target is Postgres — its generated
        DDL+DML runs inside the database (``app/Main.hs:35-83``); our
        engine's native storage is parquet, and this pushes the populated
        tables over JDBC for users migrating off the reference who keep a
        relational serving layer.

        Scale notes: Spark opens one connection per partition, so
        ``num_partitions`` caps write parallelism at what the target can
        absorb (rollup facts are small relative to their sources — the
        100 TB corpus never transits JDBC, only the aggregated marts).
        The default ``mode="error"`` refuses to touch an existing target
        table: publishing to a serving database is outward-facing, and a
        silent default overwrite would drop its indexes and grants
        (ADVICE r05).  Refresh flows opt in explicitly —
        ``mode="overwrite"`` with ``truncate=true`` in ``options`` keeps
        the target's DDL/grants; plain overwrite re-creates the table;
        ``mode="append"`` for additive loads."""
        out = []
        for name in (tables if tables is not None else self.published_tables()):
            df = self.read_table(name)
            if num_partitions:
                df = df.coalesce(num_partitions)
            w = (df.write.format("jdbc")
                 .option("url", jdbc_url).option("dbtable", name).mode(mode))
            for k, v in (options or {}).items():
                w = w.option(k, v)
            w.save()
            out.append(name)
        return out

    # --- artifacts (writeFiles parity, Main.hs:35-83) ----------------------

    def write_artifacts(self, out_dir: str, dialect: str = "spark") -> None:
        write_artifacts(self.env, out_dir, dialect)


def write_artifacts(env: Env, out_dir: str, dialect: str = "spark") -> None:
    """Emit the reference's orchestration artifacts (Main.hs:35-83):
    dependencies/dimensions/facts JSON + create/fullrefresh/increfresh SQL.
    Spark-free — artifact-only CLI runs need no session."""
    s = env.settings
    os.makedirs(out_dir, exist_ok=True)

    deps: dict[str, list[str]] = {}
    for fact in env.facts:
        deps.update(extract_dependencies(env, fact))
    with open(os.path.join(out_dir, s.dependencies_json_file_name), "w") as fh:
        json.dump(deps, fh, indent=2, sort_keys=True)

    dim_tables = [(f, extract_dimension_tables(env, f)) for f in env.facts]
    derived_dims = [t.name for _, tabs in dim_tables for t in tabs
                    if env.find_table(t.name) is None]
    with open(os.path.join(out_dir, s.dimension_json_file_name), "w") as fh:
        json.dump(derived_dims, fh, indent=2)

    fact_tables = [(f, extract_fact_table(env, f))
                   for f in env.facts if f.persistent]
    with open(os.path.join(out_dir, s.facts_json_file_name), "w") as fh:
        json.dump([t.name for _, t in fact_tables], fh, indent=2)

    for sub in ("create", "fullrefresh", "increfresh"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)

    def write(sub: str, table: str, text: str) -> None:
        with open(os.path.join(out_dir, sub, table + ".sql"), "w") as fh:
            fh.write(text)

    for fact, tabs in dim_tables:
        for t in tabs:
            if env.find_table(t.name) is not None:
                continue
            write("create", t.name,
                  sqlgen.dimension_table_defn_sql(env, t, dialect))
            write("fullrefresh", t.name, sqlgen.dimension_table_populate_sql(
                env, fact, t.name, PopulationMode.FULL, dialect))
            write("increfresh", t.name, sqlgen.dimension_table_populate_sql(
                env, fact, t.name, PopulationMode.INCREMENTAL, dialect))
    for fact, table in fact_tables:
        write("create", table.name,
              sqlgen.fact_table_defn_sql(env, fact, dialect))
        write("fullrefresh", table.name,
              sqlgen.fact_table_populate_sql(env, fact, PopulationMode.FULL,
                                             dialect))
        write("increfresh", table.name,
              sqlgen.fact_table_populate_sql(env, fact,
                                             PopulationMode.INCREMENTAL,
                                             dialect))
