"""Shared lifecycle kernel for every persisted index / sink root.

Seven artifact roots persist derived state keyed by (source fingerprint,
params): minhash bands+shingles (``operators/dedup.py``), LSH buckets /
IVF cells / PQ codes / k-means-trained IVF centroids (the ``kmeans*``
sidecar dirs under the IVF root, ``operators/similarity.py``), the
streaming CMS sink (``streaming/vocab.py``), the streaming reservoir
sink (``streaming/sampling.py``), and the BPE tokenizer cache
(``operators/text.py``).  Through r14 each carried its own copy of the
same five mechanics — fingerprint tag, build-once marker gate,
crash-safe swap, LRU GC, mtime touch — and four of them needed separate
crash-window fixes across r13-r14 (VERDICT r14 item 3).  This module is
the single audited implementation; the per-index modules keep only what
is genuinely theirs (what to compute, how to partition it).

Behavior contract: extracting the kernel changed NO on-disk layout —
tags, directory names, marker filenames, and swap sequences are
byte-identical to the r14 per-module copies, so every cached index
built before the refactor still serves (pinned by the unchanged
correctness hashes).

Reference parity note: the reference engine has no persisted-index
lifecycle at all (it emits SQL text; see ``src/Ringo.hs``); this module
exists for the Spark-side production shape — build once, serve many,
survive crashes, never grow without bound.
"""

from __future__ import annotations

import hashlib
import os
import shutil

INDEX_KEEP_LAST = 3
# LRU eviction never touches a dir used within this window: builders and
# probers bump their marker mtime on every hit, so a recent mtime means
# a session (possibly a CONCURRENT one — CI workers share the root) may
# hold live frames over those files; rmtree'ing them mid-job surfaces as
# FileNotFoundException at action time (r06 ADVICE).  Stale-by-hours
# dirs are safe: nothing has resolved a plan against them recently.
GC_MIN_AGE_SECONDS = 6 * 3600


def repo_root() -> str:
    """The repo tree that owns every scratch index root (scratch indexes
    must not land outside it); at real scale this is an object-store
    prefix."""
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def index_tag(spec: str) -> str:
    """The 10-hex cache tag of an index spec string.  Callers fold the
    source path, every build parameter, and :func:`source_fingerprint`
    into ``spec`` — two indexes agree on a directory iff they agree on
    ALL of it, so probe and build can never disagree within one index
    lifecycle."""
    return hashlib.md5(spec.encode()).hexdigest()[:10]


def source_fingerprint(sf_dir: str, table: str = "embeddings.parquet") -> str:
    """Content fingerprint of a source table (file sizes + mtimes),
    folded into the index cache tag: if the parquet at the same path is
    regenerated, the tag changes and a fresh index is built instead of
    silently serving from the stale one (ADVICE r04).  Stat-based
    (not a content hash) so it's O(#files), never O(bytes)."""
    src = os.path.join(sf_dir, table)
    parts = []
    if os.path.isdir(src):
        for root, dirs, files in os.walk(src):
            # os.walk's subdir order is os.scandir order — arbitrary and
            # host-dependent; unsorted it makes the fingerprint of a
            # partitioned source filesystem-order-dependent, causing
            # spurious cache misses and duplicate index builds (r16
            # review).  Sorting dirs in place fixes the walk order.
            dirs.sort()
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                parts.append(f"{os.path.relpath(os.path.join(root, f), src)}"
                             f":{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(src):
        st = os.stat(src)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:10]


def touch(path: str) -> None:
    """Record a cache hit: bump the marker's (and its dir's) mtime so
    :func:`gc_index_root`'s LRU ordering sees the index as recently
    used."""
    os.utime(path, None)
    os.utime(os.path.dirname(path), None)


def serve_cached(index_path: str, marker: str, force: bool = False) -> bool:
    """The build-once gate: True iff the index at ``index_path`` is
    complete (its ``marker`` file exists) and ``force`` is off — in
    which case the marker is touched (LRU liveness) and the caller
    serves from cache instead of rebuilding.  The exists-then-touch
    pair races a concurrent session's GC collecting a stale-by-hours
    dir (r16 review): a marker that vanishes between the two reads as
    a clean cache MISS (rebuild), not a crash."""
    m = os.path.join(index_path, marker)
    if not force and os.path.exists(m):
        try:
            touch(m)
        except FileNotFoundError:
            return False
        return True
    if force:
        # a force rebuild is about to overwrite the stored data, so
        # prior batch admissions no longer describe it: a replay refused
        # as 'done' against the REBUILT corpus would silently skip its
        # work (the span cleaner leaked duplicate spans uncleaned and
        # emitted no sink output — ADVICE r17).  Archive the ledger so
        # replays re-run, keeping the stamp floor monotone.
        archive_admissions(index_path)
    return False


def finish_build(index_path: str, root: str,
                 marker: str | None = None) -> None:
    """Complete a fresh build: create ``marker`` (when the write itself
    didn't — Spark parquet writes leave ``_SUCCESS``, hand-assembled
    dirs need an explicit completeness marker) and LRU-GC the root,
    protecting the dir just built.  The marker lands LAST: a crash
    mid-build leaves no marker, so the next call's
    :func:`serve_cached` misses and rebuilds."""
    if marker is not None:
        open(os.path.join(index_path, marker), "w").close()
    gc_index_root(root, protect=index_path)


def gc_index_root(root: str, keep: int | None = None,
                  protect: str | None = None,
                  min_age_seconds: float | None = None) -> list[str]:
    """Index-lifecycle GC: each distinct (source fingerprint, params)
    combination gets its own directory under ``root``, so a long-lived
    session (or CI machine) re-generating its corpus accumulates stale
    index dirs forever.  Keep the ``keep`` most-recently-USED dirs
    (builders touch their marker file on every cache hit, making dir
    recency an LRU signal) plus ``protect`` (the dir just built), remove
    the rest.  Dirs younger than ``min_age_seconds`` are NEVER removed
    even past the keep count — with >keep corpora in rotation or
    concurrent sessions sharing the root, LRU alone could delete an
    index another in-flight query is scanning (r06 ADVICE).  Returns the
    removed paths.  Same keep-last-N policy as ``Engine._gc_versions``;
    crash-safe for the same reason — a half-removed stale dir has no
    live marker and is re-collected next time."""
    import time

    if keep is None:  # resolved at call time so INDEX_KEEP_LAST is tunable
        keep = INDEX_KEEP_LAST
    if min_age_seconds is None:
        min_age_seconds = GC_MIN_AGE_SECONDS
    if not os.path.isdir(root):
        return []
    now = time.time()
    entries = []
    for d in os.listdir(root):
        p = os.path.join(root, d)
        # a concurrent session's GC can remove an entry between listdir
        # and stat (shared CI roots are a documented use) — a vanished
        # dir is simply not a candidate, never a crash (r16 review; the
        # same guard Engine._newest_mtime carries)
        try:
            if not os.path.isdir(p) or p == protect:
                continue
            mtime = os.path.getmtime(p)
        except OSError:
            continue
        if now - mtime >= min_age_seconds:
            entries.append((mtime, p))
    removed = []
    for _, p in sorted(entries)[:-keep] if keep else sorted(entries):
        shutil.rmtree(p, ignore_errors=True)
        removed.append(p)
    return removed


# --- crash-safe swap ---------------------------------------------------------
#
# The compaction / rewrite protocol every root shares (local-fs layout;
# on object storage the same sequence rides the engine's
# manifest-pointer protocol): a replacement is built in full as a
# ``<live>__compact`` sibling, then swapped in via two renames through a
# ``<live>__old`` holding name, then the holding copy is dropped.
# Nothing under the live path is ever deleted before a complete
# replacement exists.  The ONLY window in which the live path is absent
# is between the two renames, and `recover_live` closes it: the original
# is intact in ``__old``.

def swap_paths(live: str) -> tuple[str, str]:
    """The (tmp, old) sibling names of a live index path — one naming
    rule for every root so recovery code can always find the pieces."""
    live = live.rstrip("/")
    return live + "__compact", live + "__old"


def recover_live(live: str, *, require: bool = False) -> None:
    """Close the mid-swap crash window BEFORE anything reads or clears
    leftovers: if ``live`` is absent, a prior run crashed between its
    two renames — restore ``__old`` (the original, intact; any
    tombstone log rides inside it so a redo still sees the deletes).
    If ``__old`` is somehow gone too, a COMPLETE rewrite in
    ``__compact`` is the only copy: promote it (a redo over it is a
    no-op second rewrite).  Completeness is the Spark ``_SUCCESS``
    marker INSIDE ``__compact`` — promoting a partial rewrite would
    silently accept data loss as the live index (ADVICE r15), so an
    incomplete sibling raises instead (loud, like the missing-path
    read error this branch replaced).  ``require=True`` raises when
    neither recovery copy exists; False tolerates a live path that
    never existed (first build)."""
    tmp, old = swap_paths(live)
    if os.path.exists(live):
        return
    if os.path.isdir(old):
        os.rename(old, live)
    elif os.path.isdir(tmp):
        if not os.path.exists(os.path.join(tmp, "_SUCCESS")):
            raise FileNotFoundError(
                f"index path missing and the only recovery copy is an "
                f"INCOMPLETE rewrite (no _SUCCESS): {tmp}")
        os.rename(tmp, live)
    elif require:
        raise FileNotFoundError(
            f"index path missing with no recovery copy: {live}")


def clear_swap_leftovers(live: str) -> None:
    """Drop stale ``__compact`` / ``__old`` siblings — ONLY safe after
    :func:`recover_live` confirmed the live path is present (rmtree'ing
    the leftovers of a mid-swap crash before restoring would lose the
    index permanently — the r13 crash-window bug class)."""
    tmp, old = swap_paths(live)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)


def publish_swap(live: str) -> None:
    """Swap a complete ``__compact`` replacement in: rename(live, __old),
    rename(__compact, live), rmtree(__old).  A crash between the two
    renames is recovered by :func:`recover_live`; a crash before the
    rmtree leaves a stale ``__old`` that the next
    :func:`clear_swap_leftovers` drops."""
    tmp, old = swap_paths(live)
    os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old)


# --- batch-admission ledger ----------------------------------------------
#
# Index append paths (IVF / LSH / PQ) admit ingestion batches with
# mode("append") parquet writes — physically at-most-once per CALL, but a
# lost-ack RETRY of the same batch (the caller never saw the first call
# finish) used to land its rows twice (VERDICT r16: the CMS sink's retry
# data loss was the same class).  The ledger makes appends idempotent:
# one content fingerprint per admitted batch, recorded as an empty file
# under the index's ``_admitted/`` dir (underscore prefix: Spark data
# discovery skips it; compaction's sidecar carry-over preserves it, so a
# retry of a batch whose rows were later tombstoned+compacted away is
# STILL refused — deletes are never resurrected by a replay).
#
# Two-phase protocol (single-writer per index, the append paths'
# standing contract):
#   intent (``<fp>.intent``) -> data + stats writes -> done (``<fp>``)
# A retry that finds ``done`` is a no-op; one that finds a dangling
# ``intent`` knows the prior attempt may have PARTIALLY landed and runs
# the caller's repair path (anti-join against stored ids, then sidecar
# rebuild) before committing.  ``done`` is created before the intent is
# unlinked, so a crash between the two reads as done.

ADMITTED = "_admitted"


def batch_fingerprint(df, cols: list[str]) -> str:
    """Order-independent content fingerprint of an ingestion batch —
    count + decimal-summed xxhash64 over ``cols`` (decimal(38,0): two
    random longs already overflow int64 under ANSI; the
    deletion._tombstone_fingerprint lesson).  Content-sensitive, so two
    different batches never alias as a retry; one tiny agg job over the
    batch."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in cols])
              .cast("decimal(38,0)")).alias("h")).first()
    return index_tag(f"{row.n}:{row.h}")


def _admit_paths(index_path: str, fp: str) -> tuple[str, str]:
    led = os.path.join(index_path, ADMITTED)
    return os.path.join(led, fp), os.path.join(led, fp + ".intent")


def admit_state(index_path: str, fp: str) -> str:
    """'done' (batch fully admitted — retry is a no-op), 'torn' (a
    prior attempt crashed mid-land — repair before committing), or
    'new'."""
    done, intent = _admit_paths(index_path, fp)
    if os.path.exists(done):
        return "done"
    if os.path.exists(intent):
        return "torn"
    return "new"


def admit_intent(index_path: str, fp: str, note: str = "") -> None:
    """Record the intent, optionally carrying a small ``note`` payload
    (the streaming span/near-dup sinks stamp each batch's assigned
    monotone id here, so a torn retry reuses the SAME stamp instead of
    allocating a new one and orphaning the first attempt's output)."""
    done, intent = _admit_paths(index_path, fp)
    os.makedirs(os.path.dirname(intent), exist_ok=True)
    tmp = intent + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(note)
    os.replace(tmp, intent)


def admit_commit(index_path: str, fp: str) -> None:
    done, intent = _admit_paths(index_path, fp)
    try:
        # atomic promote, note preserved: after this the fp reads as
        # done and the intent is gone in ONE operation (no both-exist
        # crash window)
        os.rename(intent, done)
    except FileNotFoundError:
        # commit without a recorded intent: if the done marker already
        # exists (a prior commit's rename won the race) the admit is
        # already effective — never truncate its note (a re-committed
        # probe batch keeps its stamp).  Otherwise FAIL LOUD: the old
        # defensive empty-note done file desynced the stamp ledger
        # (_next_stamp reads an empty note as unknown, so a replay of
        # that batch minted a SECOND stamp and wrote a second sink
        # partition — ADVICE r17).
        if not os.path.exists(done):
            raise RuntimeError(
                f"admit_commit({fp!r}) without a prior admit_intent — "
                "refusing to mint an intent-less done marker (protocol "
                "requires intent -> land -> commit)")


def admit_note(index_path: str, fp: str) -> str | None:
    """The note recorded for ``fp`` (done wins over intent), or None if
    the batch is unknown."""
    done, intent = _admit_paths(index_path, fp)
    for p in (done, intent):
        if os.path.exists(p):
            with open(p) as fh:
                return fh.read()
    return None


def archive_admissions(index_path: str) -> None:
    """Retire the admission ledger when the data it describes is about
    to be rebuilt from scratch (the ``serve_cached(force=True)`` path,
    ADVICE r17): the live ``_admitted/`` dir is renamed aside to
    ``_admitted.rebuilt.N`` (audit trail — archived batches' notes stay
    inspectable), and a fresh ledger is seeded with a ``__floor`` entry
    carrying the old top stamp so post-rebuild stamps stay MONOTONE —
    an archived batch's stamp-keyed sink partition is never reused by a
    different post-rebuild batch.  (``__floor`` participates naturally
    in the stamp scan — it is just another int note — and its name can
    never collide with a real fingerprint, which is always a hex tag.)
    No-op when no ledger exists.

    Refuses while a batch admission is in flight (ADVICE r18,
    mirroring the guard every other destructive sidecar maintenance
    honors): archiving mid-admission moves the writer's intent aside,
    so its admit_commit would raise the misleading intent-less-commit
    error and the batch's work would be recorded nowhere.  Let the
    admission commit (or retry a crashed one — the torn-retry path
    heals it) before force-rebuilding."""
    led = os.path.join(index_path, ADMITTED)
    if not os.path.isdir(led):
        return
    if admits_in_flight(index_path):
        raise RuntimeError(
            f"{index_path}: a batch admission is in flight — archiving "
            "the ledger now would orphan its intent and fail its "
            "commit; let it commit (or retry the crashed batch, which "
            "heals the dangling intent) before a force rebuild")
    top = -1
    for n in os.listdir(led):
        try:
            with open(os.path.join(led, n)) as fh:
                top = max(top, int(fh.read()))
        except (ValueError, OSError):
            continue
    k = 1
    while os.path.exists(f"{led}.rebuilt.{k}"):
        k += 1
    os.rename(led, f"{led}.rebuilt.{k}")
    if top >= 0:
        os.makedirs(led, exist_ok=True)
        with open(os.path.join(led, "__floor"), "w") as fh:
            fh.write(str(top))


def admits_in_flight(index_path: str) -> bool:
    """True iff any batch admission has an intent without its done
    marker — the guard destructive sidecar maintenance must honor (an
    in-flight append has landed data files its stats epoch hasn't
    covered yet; ADVICE r16)."""
    led = os.path.join(index_path, ADMITTED)
    if not os.path.isdir(led):
        return False
    names = set(os.listdir(led))
    return any(n.endswith(".intent") and n[:-len(".intent")] not in names
               for n in names)


def recover_staging(stage: str, marker: str, finish) -> None:
    """The staged-rewrite recovery decision (the CMS-compaction crash
    protocol, ADVICE r13): a staging dir is COMPLETE iff both its
    Spark ``_SUCCESS`` and its domain ``marker`` exist — then the
    (idempotent) ``finish`` callback lands it; an incomplete staging
    dir is discarded and the caller redoes the rewrite.  Write-then-
    delete, never delete-then-write: ``finish`` is the only code that
    may remove source data, and it runs only against a complete
    staging dir."""
    if not os.path.isdir(stage):
        return
    if os.path.exists(os.path.join(stage, marker)) and \
            os.path.exists(os.path.join(stage, "_SUCCESS")):
        finish()
    else:
        shutil.rmtree(stage)   # incomplete rewrite — redo


def flip_pointer(ptr: str, value: str) -> None:
    """Atomic current-version pointer update (write-temp + rename): a
    crash leaves either the old pointer or the new one, never a torn
    file."""
    tmp = ptr + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(value)
    os.replace(tmp, ptr)


def read_pointer(ptr: str) -> str | None:
    """The current version name a pointer file designates, or None if
    the pointer doesn't exist yet (empty sink)."""
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return fh.read().strip()
