"""Deduplication operators over the ``documents`` table.

Five strategies, all JVM-side (no Python UDFs), each with an exact DuckDB
oracle (see textfn.py for the portable-hash trick that makes the
randomized-looking ones deterministic across engines):

- exact           — hash-groupBy on full text
- minhash_lsh     — shingle → seeded min-hashes → banded buckets →
                    bucket-join candidates → exact-Jaccard verification
- simhash         — 60-bit frequency-weighted sign fingerprint
- ngram_jaccard   — exact all-pairs Jaccard via a shingle inverted index
- embedding       — cosine near-dup pairs over the embeddings table

Scale notes (100 TB):
- exact: single hash-shuffle on a 16-byte key; map-side partial combine.
- minhash_lsh: the *only* shuffle of the big side is on band keys (bounded
  per doc: BANDS rows); candidate verification joins doc shingle sets only
  for candidate pairs.  This is the standard linear-scaling LSH layout.
  On MASS-DUPLICATED corpora (boilerplate, licenses — the normal case in
  crawled data) use minhash_lsh_capped: exact-collapse first plus a
  band-bucket cap bound candidate generation at C(cap,2) per bucket,
  where the uncapped path goes quadratic in the duplication factor.
- ngram_jaccard: the inverted-index self-join is quadratic in posting-list
  length per shingle — correct as a small-scale oracle/baseline; use
  minhash_lsh at scale.
- embedding: quadratic crossJoin baseline; use similarity.ann_lsh_bucketed
  as the scale path.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..catalog import read_parquet_stable as _rps

from .textfn import (
    MINHASH_A, MINHASH_B, MINHASH_P, cosine_pre, minhash_signature,
    explode_elements, phash, shingle_hashes, shingles, sql_cosine,
    sql_minhash_signature, sql_phash, sql_shingles, sql_tokens, tokens,
    vnorm,
)

NUM_PERM = 12
BANDS = 6          # rows per band = NUM_PERM // BANDS = 2
SHINGLE_N = 3
JACCARD_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.4


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rps(spark, f"{sf_dir}/documents.parquet")


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents scan widened to full parallelism when under-split,
    for the heavy per-document lanes (signatures, chunk hashing)."""
    from ..functions.spread import spread_source

    return spread_source(_docs(spark, sf_dir), f"{sf_dir}/documents.parquet")


# The two quadratic baselines below are exact small-scale oracles, not
# production operators — guard them so the all-pairs shape can't be
# cargo-culted onto a corpus where it would never finish.
QUADRATIC_BASELINE_MAX_ROWS = 100_000
# Free-pass byte ceiling for the no-estimate case: an input whose
# optimizer sizeInBytes is at most MAX_ROWS · 64 B cannot plausibly
# exceed the row bound (the guarded inputs — document text, 64-float
# embeddings — run hundreds of on-disk bytes per row; 64 B/row is the
# conservative floor).  Above it, the exact count() decides.
QUADRATIC_BASELINE_FREE_PASS_BYTES = QUADRATIC_BASELINE_MAX_ROWS * 64


def _assert_small_scale(df: DataFrame, op: str, scale_path: str) -> DataFrame:
    """Raise when ``df`` is too large for a quadratic exact baseline.

    Decided WITHOUT a Spark job whenever possible (VERDICT r11 item 5),
    in safety order:

    1. parquet FOOTER rows of the scanned files (``df.inputFiles()`` —
       driver-side listing, no job): an exact UPPER bound on the frame
       (filters only remove rows), so it can never admit an over-bound
       input.  This covers the guarded operators' actual inputs and is
       immune to the estimate failure modes below.  PRECONDITION: only
       row-reducing-or-preserving plans — a join or generator can
       exceed its input-file row sum, so when the optimized plan
       contains a multiplying node (Join/Generate/Expand/CoGroup) the
       footer path is skipped and the decision falls through to the
       estimate/count steps (ADVICE r12; a false positive in the node
       scan merely costs a count(), never admits an over-bound frame).
    2. Catalyst rowCount when defined (spark.range, CBO tables with
       fresh stats).  An ANALYZE-stale under-estimate could in
       principle admit a grown table — acceptable for non-file frames,
       where the alternative is always paying a count().
    3. A sizeInBytes free pass ONLY for passing, never for raising —
       and only under a floor of 64 B/row.  (Not reachable for file
       scans, which step 1 decides exactly: a dictionary-compressed
       mass-duplicated corpus can sit far below 64 B/row on disk —
       r12 review finding — so bytes alone must never clear a file
       input.)
    4. The exact count() — paid only when nothing above applies."""
    from urllib.parse import unquote, urlparse

    import pyarrow as pa
    import pyarrow.parquet as pq
    from py4j.protocol import Py4JJavaError

    n = None
    row_multiplying = True      # unknown plan shape reads as multiplying
    try:
        tree = df._jdf.queryExecution().optimizedPlan().treeString()
        # SUBSTRING match, not \b-anchored (r17 review): LateralJoin,
        # Unpivot, FlatMapCoGroupsInPandas etc. multiply rows too, and
        # a false positive here merely costs a count() — a false
        # negative admits an over-bound frame to a quadratic baseline
        # Union is in the list not because it multiplies per row but
        # because df.inputFiles() DEDUPLICATES paths: a self-union of
        # one parquet reads the file set once, so the footer sum
        # under-counts the frame 2x (r19 review) — route it to the
        # estimate/count steps like any other exceeds-its-inputs shape
        row_multiplying = any(
            node in tree
            for node in ("Join", "Generate", "Expand", "CoGroup",
                         "Unpivot", "Union"))
    except Py4JJavaError:   # the plan could not be optimized
        pass
    files = [] if row_multiplying else list(df.inputFiles())
    try:
        # ALL inputs must be local parquet (r17 review): a mixed
        # parquet+csv union would silently sum only the parquet side
        # and under-count; non-local / URL-encoded paths go to the
        # estimate/count steps instead of mangled-string fallbacks
        if files and all(".parquet" in f for f in files):
            total = 0
            for f in files:
                u = urlparse(f)
                if u.scheme not in ("", "file"):
                    total = None
                    break
                total += pq.ParquetFile(
                    unquote(u.path)).metadata.num_rows
            n = total
    except (OSError, pa.ArrowInvalid):   # missing or not parquet
        n = None
    if n is None:
        try:
            stats = df._jdf.queryExecution().optimizedPlan().stats()
            rc = stats.rowCount()
            if rc.isDefined():
                n = int(rc.get())
            elif (not row_multiplying
                  and int(stats.sizeInBytes())
                  <= QUADRATIC_BASELINE_FREE_PASS_BYTES):
                # the bytes free pass assumes bytes bound rows at
                # >= 64 B/row, which only holds when the plan cannot
                # multiply its input (an explode's estimate stays near
                # its child's bytes while its rows do not)
                return df
        except Py4JJavaError:   # the plan's statistics could not be computed
            pass
    if n is None:
        n = df.count()
    if n > QUADRATIC_BASELINE_MAX_ROWS:
        raise ValueError(
            f"{op} is a quadratic exact baseline guarded at "
            f"{QUADRATIC_BASELINE_MAX_ROWS} input rows (got {n}); use "
            f"{scale_path} at scale — it is the sub-quadratic production "
            f"path with the same semantics up to approximation")
    return df


def _shingled(spark: SparkSession, sf_dir: str,
              docs: DataFrame | None = None) -> DataFrame:
    # The shingling expressions are interpreted (higher-order) and
    # CPU-bound, so widen under-split scans across cores first.
    # ``spread_source`` decides from the source files, so the
    # docs-given (collapsed-reps) path widens too instead of inheriting
    # the AQE-coalesced (often single) post-join partitioning for the
    # heaviest map stage in the repo.
    #
    # Tokens are materialized in their OWN projection: shingles() refers
    # to its input three times (sequence bound, transform body, guard),
    # and CollapseProject won't inline a non-cheap split() used thrice —
    # inline, the split ran 3x per row (measured 3.6s -> 2.8s at sf0.1).
    #
    # The emptiness filter is applied BELOW the widening exchange as a
    # token-count bound (r19 opt): ``size(sh) > 0`` above the exchange
    # is pushed through it by the optimizer, which re-evaluates the
    # whole shingle pipeline under the exchange — on an under-split
    # scan that ran the entire corpus' shingling in ONE task (3.6s of
    # the old 4.3s dedup_minhash_lsh wall) and then AGAIN distributed.
    # ``size(tokens) >= n`` is the same predicate (shingles() yields a
    # non-empty array iff the doc has >= n tokens) over the cheap
    # split() only.  Consumers that explode ``sh`` go through
    # textfn.explode_elements for the same reason: an inner explode
    # makes InferFiltersFromGenerate add that very ``size(sh) > 0``
    # filter, and pushdown carries it under the exchange again.
    from ..functions.spread import spread_source

    if docs is None:
        docs = _docs(spark, sf_dir)
    kept = docs.where(F.size(tokens(F.col("text"))) >= SHINGLE_N)
    return (spread_source(kept, f"{sf_dir}/documents.parquet")
            .select("doc_id", tokens(F.col("text")).alias("__toks"))
            .select("doc_id",
                    shingles(F.col("__toks"), SHINGLE_N).alias("sh")))


def _band_rows(sigs: DataFrame, bands: int = BANDS) -> DataFrame:
    """(doc_id, sig) -> (doc_id, band_key) rows: one row per (doc, band),
    band key = band index ':'-joined with that band's signature slice.
    Only these two narrow columns ever enter the LSH shuffle.  ONE
    implementation (r17 review): the recall-contract audit had its own
    inline copy, which a key-format change would silently desync from
    the production banding it claims to measure."""
    rows_per_band = NUM_PERM // bands
    band_key = F.concat_ws(
        ":", F.col("b").cast("string"),
        *[F.get("sig", F.col("b") * rows_per_band + i).cast("string")
          for i in range(rows_per_band)])
    return (sigs
            .select("doc_id",
                    F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("b"),
                    "sig")
            .select("doc_id", band_key.alias("band_key")))


def sql_band_key(bands: int = BANDS) -> str:
    """The DuckDB twin of :func:`_band_rows`' key expression, derived
    from the SAME constants (r17 review: four oracles hard-coded the
    rows-per-band as 2 — retuning NUM_PERM or BANDS would desync them
    from the Spark side with a confusing pair-set diff)."""
    rpb = NUM_PERM // bands
    return " || ':' || ".join(
        ["b::VARCHAR"] + [f"sig[{rpb}*b + {i + 1}]::VARCHAR"
                          for i in range(rpb)])


def _candidate_pairs(bands: DataFrame) -> DataFrame:
    """Banded-LSH candidate generation: band-key self-join with ordered
    pair dedup."""
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"]))


def _verify_pairs(cand: DataFrame, sets: DataFrame, set_col: str = "sh",
                  out_col: str = "jaccard",
                  threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Exact-Jaccard verification: join the candidate pair list back to
    the per-doc set table (``cand`` is tiny, so AQE turns these into
    broadcast joins — the set arrays never shuffle), keep pairs at or
    above the threshold."""
    sa = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col(set_col).alias("__sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col(set_col).alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    jac = inter / (F.size("__sa") + F.size("__sb") - inter)
    return (cand.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", F.round(jac, 6).alias(out_col))
            .where(F.col(out_col) >= threshold))


# --- exact ------------------------------------------------------------------


def dedup_exact_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per distinct text: representative doc (min id) + group size."""
    return (_docs(spark, sf_dir)
            .groupBy(F.md5("text").alias("text_hash"))
            .agg(F.min("doc_id").alias("rep_doc_id"),
                 F.count(F.lit(1)).alias("dup_count")))


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash,
       min(doc_id) AS rep_doc_id,
       count(*) AS dup_count
FROM documents
GROUP BY 1
"""


# --- minhash + LSH ----------------------------------------------------------


def dedup_minhash_lsh_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs: banded-MinHash candidates, verified by exact
    Jaccard over distinct shingle sets.  Returns (doc_a, doc_b, jaccard).

    Scale layout: band rows carry (doc_id, band_key) ONLY — the shingle
    arrays (the heaviest column) never enter the band explode or the
    LSH self-join shuffle.  Exact Jaccard verification joins the (tiny:
    collision pairs only) candidate list back to the shingle table —
    the same layout as the DuckDB oracle below.

    One lazy plan: building the frame runs no Spark job.  Eager caches
    and checkpoints of the shingle, signature and pair tables cost ten
    jobs per construction and saved no execution time at the contract
    scale (warm and cold calls measured).
    """
    shingled = _shingled(spark, sf_dir)
    sigs = (shingled
            # hs aliased in its own projection: the 12 permutations each
            # reference it, and the optimizer will not inline a non-trivial
            # alias used 12 times — one md5 per shingle, not twelve
            # (see textfn.shingle_hashes docstring)
            .withColumn("hs", shingle_hashes(F.col("sh")))
            .select("doc_id",
                    minhash_signature(F.col("hs"), NUM_PERM).alias("sig")))
    return _verify_pairs(_candidate_pairs(_band_rows(sigs)), shingled)


# --- persisted minhash band+shingle index ------------------------------------
#
# The shingle + 12-permutation signature pass is the CPU-heavy half of
# minhash dedup, and it is a pure function of the corpus — so persist it
# once and serve every dedup/cluster run from the index, exactly like the
# IVF/LSH vector indexes in similarity.py.  At 100 TB the index is
# appended per ingestion batch (dedup_minhash_incremental already probes
# it that way); here the builder also demonstrates the layout: band rows
# (doc_id, band_key) for candidate generation, shingle sets for exact
# verification.

import os as _os

from .. import index_lifecycle as _ilc

MINHASH_INDEX_ROOT = _os.path.join(_ilc.repo_root(), ".minhash_index")

# --- deterministic index file layout (r19) -----------------------------------
# The build previously wrote bands/shingles with whatever partitioning
# the build plan happened to have — AQE coalescing (which is load- and
# plan-history-sensitive) decides that, so two builds of the SAME code
# and data differed 32x in stored file count and ~10x in warm-serve
# executor CPU (per-task constant overhead dominates at ~1k rows/file;
# ROUND19_NOTES.md has the measured adjudication).  File count is now a
# pure function of the corpus footer estimate (driver-side, no job):
# contract corpora get one file per table, web-scale corpora get
# bounded file sizes — the correct 100 TB behavior too, since a build's
# file count should never depend on build-time machine weather.  The
# layout version is folded into the index cache tag (|L2) so
# stale-layout caches rebuild instead of serving forever.
BAND_ROWS_PER_FILE = 2_000_000      # (doc_id, band_key) pairs — narrow
SHINGLE_ROWS_PER_FILE = 200_000     # shingle-set rows are array-heavy
INDEX_LAYOUT_VERSION = "L2"


def _layout_files(n_rows: int | None, per_file: int) -> int:
    """Target file count for ``n_rows`` at ``per_file`` rows/file; a
    missing estimate degrades to one file (the contract-scale answer —
    at web scale the footer estimate is always available)."""
    import math as _math

    if not n_rows or n_rows <= 0:
        return 1
    return max(1, _math.ceil(n_rows / per_file))


def _docs_meta_rows(sf_dir: str) -> int | None:
    """Footer row count of the documents table (exact upper bound for
    the rep-collapsed build; driver-side, cached) — None when
    unreadable."""
    from .similarity import _parquet_meta_rows

    try:
        return _parquet_meta_rows(f"{sf_dir}/documents.parquet")
    except Exception:
        return None


def build_minhash_index(spark: SparkSession, sf_dir: str,
                        index_path: str | None = None,
                        force: bool = False,
                        collapse: bool = False) -> str:
    """Build (once) the persisted minhash index: band rows + shingle sets.
    The cache tag folds in a stat fingerprint of the source parquet so a
    regenerated corpus misses the cache (same policy as the ANN indexes).

    ``collapse=True`` is the production web-scale build: run the
    exact-collapse of :func:`dedup_minhash_lsh_capped_df` FIRST and index
    representatives only — identical texts add band rows (and candidate
    pairs) the capped query would discard anyway, and dedup_exact's
    (text_hash -> rep) table recovers them.  The default uncollapsed
    build matches the registered ``dedup_minhash_lsh_indexed`` oracle
    (pair-equality with the live uncapped path)."""
    if index_path is None:
        fp = _ilc.source_fingerprint(sf_dir, "documents.parquet")
        c = "c" if collapse else ""
        tag = _ilc.index_tag(
            f"{_os.path.abspath(sf_dir)}|{NUM_PERM}|{BANDS}|{SHINGLE_N}|{fp}|{c}"
            f"|{INDEX_LAYOUT_VERSION}")
        index_path = _os.path.join(MINHASH_INDEX_ROOT,
                                   f"p{NUM_PERM}b{BANDS}{c}-{tag}")
    if _ilc.serve_cached(index_path, "_INDEX_OK", force):
        return index_path
    # a stale marker must not survive a crash mid-overwrite (the r17
    # streaming chunk-index rule, r19 review): unlink BEFORE the
    # rewrite, so a crash between the bands and shingles writes leaves
    # an unmarked (rebuildable) dir instead of a torn index served as
    # complete forever
    try:
        _os.remove(_os.path.join(index_path, "_INDEX_OK"))
    except FileNotFoundError:
        pass
    docs = _rep_docs(spark, sf_dir) if collapse else None
    shingled = _shingled(spark, sf_dir, docs=docs).persist()
    sigs = (shingled
            .withColumn("hs", shingle_hashes(F.col("sh")))
            .select("doc_id",
                    minhash_signature(F.col("hs"), NUM_PERM).alias("sig")))
    bands = _band_rows(sigs)
    # deterministic file layout (see the r19 module comment above):
    # size the writes from the corpus footer estimate instead of
    # inheriting the build plan's AQE-decided partitioning.  bands are
    # hash-split on band_key (bucket locality helps compression and
    # keeps any one file from holding a whole hot bucket), shingles on
    # doc_id (the verification joins' key).
    n_docs = _docs_meta_rows(sf_dir)
    (bands.repartition(_layout_files((n_docs or 0) * BANDS,
                                     BAND_ROWS_PER_FILE), "band_key")
     .write.mode("overwrite").parquet(_os.path.join(index_path, "bands")))
    (shingled.repartition(_layout_files(n_docs, SHINGLE_ROWS_PER_FILE),
                          "doc_id")
     .write.mode("overwrite").parquet(_os.path.join(index_path, "shingles")))
    shingled.unpersist()
    _ilc.finish_build(index_path, MINHASH_INDEX_ROOT, marker="_INDEX_OK")
    return index_path


def append_to_minhash_index(spark: SparkSession, index_path: str,
                            batch_docs: DataFrame) -> bool:
    """Admit an ingestion batch into a persisted minhash index: the
    batch's band rows and shingle sets are APPENDED — the existing index
    never rewrites, so admission cost is O(batch), not O(corpus).  This
    is the steady-state lifecycle the incremental/streaming probes
    assume: probe the index (reject near-dups), then append the admitted
    survivors.  Content duplicates remain the caller's job (append the
    same text under two doc_ids and it will self-pair) — dedup first,
    exactly like the probes do.

    EXACTLY-once per batch via the kernel's admission ledger (r19
    review — this was the one index append path without it; the
    IVF/LSH vector appends gained theirs in r16): a lost-ack RETRY of
    the same batch is a refused no-op (returns False), and a retry
    after a mid-land crash appends only the rows each side is missing
    — bands and shingles anti-join STORED doc_ids separately, which is
    exact because a doc's band rows colocate in one append task
    (narrow lineage from its one doc row), so per-side visibility is
    all-or-nothing per doc.

    Equivalence: per-document signatures are independent, so an index
    built from the full corpus equals corpus-index + appended batches
    (pytest-pinned)."""
    fp = _ilc.batch_fingerprint(batch_docs, ["doc_id", "text"])
    state = _ilc.admit_state(index_path, fp)
    if state == "done":
        _ilc.touch(_os.path.join(index_path, "_INDEX_OK"))
        return False
    # emptiness guard as a token-count bound BELOW the projection (r19
    # opt, the dedup._shingled fix): ``size(sh) > 0`` above it is
    # predicate-pushed under the Project and re-evaluates the shingle
    # pipeline once in the pushed filter and again in the projection
    shingled = (batch_docs
                .where(F.size(tokens(F.col("text"))) >= SHINGLE_N)
                .select("doc_id", tokens(F.col("text")).alias("__toks"))
                .select("doc_id",
                        shingles(F.col("__toks"), SHINGLE_N).alias("sh")))
    sigs = (shingled
            .withColumn("hs", shingle_hashes(F.col("sh")))
            .select("doc_id",
                    minhash_signature(F.col("hs"), NUM_PERM).alias("sig")))
    bands = _band_rows(sigs)
    bpath = _os.path.join(index_path, "bands")
    spath = _os.path.join(index_path, "shingles")
    if state == "torn":
        bands = bands.join(
            spark.read.parquet(bpath).select("doc_id").distinct(),
            "doc_id", "left_anti")
        shingled = shingled.join(
            spark.read.parquet(spath).select("doc_id").distinct(),
            "doc_id", "left_anti")
    else:
        _ilc.admit_intent(index_path, fp)
    bands.write.mode("append").parquet(bpath)
    shingled.write.mode("append").parquet(spath)
    _ilc.admit_commit(index_path, fp)
    # appends land in subdirs, which leaves the index dir's own mtime at
    # build time — touch the marker so gc_index_root's LRU sees a LIVE,
    # append-maintained index as recently used and never collects it
    _ilc.touch(_os.path.join(index_path, "_INDEX_OK"))
    return True


def dedup_minhash_lsh_indexed_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical result to :func:`dedup_minhash_lsh_df`, served from the
    persisted band+shingle index — the shingling/signature pass is paid
    once at build time and amortized across every dedup, cluster, and
    incremental-probe run (the steady-state shape of a production dedup
    service).  Query-time work is only the band self-join over (doc_id,
    band_key) rows and the broadcast verification joins."""
    p = build_minhash_index(spark, sf_dir)
    bands, shingled = _index_tables(spark, p)
    return _verify_pairs(_candidate_pairs(bands), shingled)


# fixed demo takedown target: in near-dup pairs at sf0.001 and sf0.01,
# so the deletion is non-vacuous there.  At sf0.1 doc 8 is in none of
# the 256 pairs (and no single doc id is paired at all three test SFs),
# so the deleted rows equal the plain ones at that scale.
DELETED_DOC_ID = 8


def dedup_minhash_lsh_deleted_df(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The delete-propagation path as a driver-checkable end-to-end
    query (operators/deletion.py): a DEDICATED index (never the shared
    cache — tombstoning that would leak into every other indexed query)
    is built for this query, the fixed demo doc is tombstoned, and the
    pairs are served through the same tombstone-filtered reader
    (:func:`_index_tables`) every indexed consumer uses.  The oracle is
    the plain LSH pair set minus pairs touching the deleted doc — i.e.
    the operator's contract: merge-on-read equals never-having-indexed
    the document.  Per-doc band rows are independent, so removal
    cannot create or destroy pairs between surviving docs."""
    import pyarrow.parquet as pq

    from .deletion import TOMBSTONES, tombstone_docs

    fp = _ilc.source_fingerprint(sf_dir, "documents.parquet")
    # the layout version rides the tag exactly like the default path's
    # (r19 review): a del index stored under the pre-deterministic
    # layout must rebuild, not serve its machine-weather file count
    tag = _ilc.index_tag(
        f"{_os.path.abspath(sf_dir)}|{NUM_PERM}|{BANDS}|{SHINGLE_N}|{fp}|del"
        f"|{INDEX_LAYOUT_VERSION}")
    p = build_minhash_index(
        spark, sf_dir,
        index_path=_os.path.join(MINHASH_INDEX_ROOT, f"del-{tag}"))
    # the request-sized log is read driver-side: no Spark job per call
    log = _os.path.join(p, TOMBSTONES)
    if not (_os.path.isdir(log) and DELETED_DOC_ID in pq.read_table(
            log, columns=["doc_id"]).column(0).to_pylist()):
        tombstone_docs(spark, p, [DELETED_DOC_ID])  # once; reruns no-op
    bands, shingled = _index_tables(spark, p)
    return _verify_pairs(_candidate_pairs(bands), shingled)


def _index_tables(spark: SparkSession, index_path: str):
    """Load a minhash index's band + shingle tables with delete
    propagation applied: rows for tombstoned docs
    (:mod:`~ringo_spark.operators.deletion`) are anti-joined out at
    read time, so every indexed/incremental/streaming consumer forgets
    a deleted document without an index rewrite.  No tombstone log ->
    both joins are no-ops (the registered oracles see the identical
    plan inputs).  Read through ``deletion.read_index``, so a warm read
    infers no schema with a Spark job."""
    from .deletion import load_tombstones, read_index, subtract_tombstones

    tombs = load_tombstones(spark, index_path)
    bands = subtract_tombstones(
        read_index(spark, _os.path.join(index_path, "bands")), tombs)
    shingled = subtract_tombstones(
        read_index(spark, _os.path.join(index_path, "shingles")), tombs)
    return bands, shingled


_SHINGLE_BASE_CTE = f"""
base AS (
  SELECT doc_id, {sql_shingles('t', SHINGLE_N)} AS sh
  FROM (SELECT doc_id, {sql_tokens('text')} AS t FROM documents)
  WHERE len(t) >= {SHINGLE_N})
"""

DEDUP_MINHASH_LSH_SQL = f"""
WITH {_SHINGLE_BASE_CTE},
sigs AS (
  SELECT doc_id, sh, {sql_minhash_signature('sh', NUM_PERM)} AS sig FROM base),
bands AS (
  SELECT doc_id, sh,
         {sql_band_key()}
           AS band_key
  FROM sigs, generate_series(0, {BANDS - 1}) g(b)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
verified AS (
  SELECT doc_a, doc_b,
         len(list_filter(x.sh, e -> list_contains(y.sh, e)))
           * 1.0 / (len(x.sh) + len(y.sh)
                    - len(list_filter(x.sh, e -> list_contains(y.sh, e)))) AS jac
  FROM cand
  JOIN base x ON x.doc_id = cand.doc_a
  JOIN base y ON y.doc_id = cand.doc_b)
SELECT doc_a, doc_b, round(jac, 6) AS jaccard
FROM verified WHERE round(jac, 6) >= {JACCARD_THRESHOLD}
"""

# NB: the Spark band key uses separator ':' between b and each signature
# value — the SQL above concatenates identically (b:sig1:sig2).


CONTAINMENT_THRESHOLD = 0.8
CONTAINMENT_DF_CAP = 20      # shingles hotter than this generate no pairs
CONTAINMENT_MIN_SHARED = 3   # rare shingles a pair must share


def dedup_containment_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-containment near-dup pairs — the quote/subset detector
    Jaccard structurally misses: a short document wholly embedded in a
    long one has containment |A∩B|/|A| ≈ 1 while its Jaccard stays far
    below any sane dedup threshold (the union is dominated by the long
    side).  Verification scores both directions and keeps pairs whose
    MAX containment clears the threshold.

    Candidate generation CANNOT reuse the banded-MinHash index: MinHash
    band collisions happen with probability ~J^rows, and containment
    pairs are Jaccard-LOW by construction — the banded path would never
    surface exactly the pairs this operator exists for.  Instead:
    a RARE-SHINGLE INVERTED INDEX — only shingles with document
    frequency in [2, DF_CAP] emit posting pairs, and a pair must share
    at least MIN_SHARED such shingles.  The df cap bounds candidate
    volume at C(cap,2) per rare shingle (the same guard shape as the
    capped LSH bands), and a genuine subset pair shares ALL of the
    short side's shingles, so it is found whenever ≥ MIN_SHARED of them
    are rare.  Recall contract: pairs whose every shared shingle is
    boilerplate-hot (df > cap) are intentionally out of scope — at web
    scale those are license/template matches the exact-dup and capped
    paths already collapse.

    Scale shape: one shuffle on the shingle key (posting lists bounded
    by the cap), then verification joins the tiny pair list back to
    the shingle table (AQE broadcasts the pair side — the
    shingle arrays never shuffle)."""
    shingled = _shingled(spark, sf_dir)
    sh_rows = explode_elements(shingled, "sh", "g", "doc_id")
    rare = (sh_rows.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
            .where((F.col("df") >= 2)
                   & (F.col("df") <= CONTAINMENT_DF_CAP))
            .select("g"))
    posts = sh_rows.join(rare, "g")
    a = posts.select("g", F.col("doc_id").alias("doc_a"))
    b = posts.select("g", F.col("doc_id").alias("doc_b"))
    cand = (a.join(b, "g").where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("__shared"))
            .where(F.col("__shared") >= CONTAINMENT_MIN_SHARED)
            .select("doc_a", "doc_b"))
    sa = shingled.select(F.col("doc_id").alias("doc_a"),
                         F.col("sh").alias("__sa"))
    sb = shingled.select(F.col("doc_id").alias("doc_b"),
                         F.col("sh").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    c_ab = F.round(inter / F.size("__sa"), 6)
    c_ba = F.round(inter / F.size("__sb"), 6)
    jac = F.round(inter / (F.size("__sa") + F.size("__sb") - inter), 6)
    return (cand.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b",
                    c_ab.alias("containment_a_in_b"),
                    c_ba.alias("containment_b_in_a"),
                    jac.alias("jaccard"))
            .where(F.greatest("containment_a_in_b", "containment_b_in_a")
                   >= CONTAINMENT_THRESHOLD))


DEDUP_CONTAINMENT_SQL = f"""
WITH {_SHINGLE_BASE_CTE},
sh_rows AS (
  SELECT doc_id, unnest(sh) AS g FROM base),
rare AS (
  SELECT g FROM (SELECT g, count(*) AS df FROM sh_rows GROUP BY 1)
  WHERE df BETWEEN 2 AND {CONTAINMENT_DF_CAP}),
posts AS (
  SELECT doc_id, g FROM sh_rows JOIN rare USING (g)),
cand AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2)
  WHERE shared >= {CONTAINMENT_MIN_SHARED}),
verified AS (
  SELECT doc_a, doc_b,
         len(list_filter(x.sh, e -> list_contains(y.sh, e))) AS i,
         len(x.sh) AS na, len(y.sh) AS nb
  FROM cand
  JOIN base x ON x.doc_id = cand.doc_a
  JOIN base y ON y.doc_id = cand.doc_b)
SELECT doc_a, doc_b,
       round(i * 1.0 / na, 6) AS containment_a_in_b,
       round(i * 1.0 / nb, 6) AS containment_b_in_a,
       round(i * 1.0 / (na + nb - i), 6) AS jaccard
FROM verified
WHERE greatest(round(i * 1.0 / na, 6), round(i * 1.0 / nb, 6))
      >= {CONTAINMENT_THRESHOLD}
"""


# --- scale-hardened capped LSH ------------------------------------------------
#
# The plain banded layout has one quadratic hole at web scale: a band
# bucket of size k yields C(k,2) candidate pairs, and mass-duplicated
# corpora (boilerplate pages, license texts, mirrored articles — the
# NORMAL case in crawled training data) make some buckets enormous.  Two
# composed guards close it:
#
#   1. EXACT-COLLAPSE FIRST: byte-identical texts are collapsed to one
#      representative (min doc_id) before shingling — a 10M-copy license
#      page contributes ONE band row per band instead of 10M, and its
#      duplicates are fully recoverable from dedup_exact's
#      (text_hash -> rep, count) table.  The collapse shuffles only
#      (md5, doc_id) pairs, never text.
#   2. BAND-BUCKET CAP: after collapsing, any band bucket still larger
#      than BAND_BUCKET_CAP is dropped from candidate generation.  Such a
#      bucket means > CAP *distinct* texts agreeing on a full band of
#      minhashes — overwhelmingly near-dup cliques, where the clique is
#      already discoverable through its other (smaller) band buckets and
#      transitively through dedup_clusters.  Recall trade-off: a pair
#      whose EVERY shared band lands in a >CAP bucket is missed; with 6
#      bands this requires the pair to sit inside a >CAP-clique in all
#      its colliding bands, so the loss is confined to giant
#      near-identical families whose members are interchangeable anyway.
#      In exchange, worst-case candidate volume per bucket is bounded by
#      C(CAP, 2) — candidate generation is O(corpus), never O(corpus²).

BAND_BUCKET_CAP = 32


def _rep_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with byte-identical texts collapsed to the min-doc_id
    representative.  Only (md5, doc_id) pairs shuffle; the text column
    rides the (doc_id-keyed) semi-join without entering the groupBy."""
    docs = _docs(spark, sf_dir)
    reps = (docs.groupBy(F.md5("text").alias("h"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"))
    return docs.join(reps, "doc_id", "left_semi")


def _capped_bands(bands: DataFrame) -> DataFrame:
    """Drop band buckets larger than BAND_BUCKET_CAP.  The window count
    partitions on band_key — the same key the LSH self-join shuffles on,
    so AQE coalesces the two into one exchange."""
    from pyspark.sql import Window

    w = Window.partitionBy("band_key")
    return (bands.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .where(F.col("__bsz") <= BAND_BUCKET_CAP)
            .drop("__bsz"))


def dedup_minhash_lsh_capped_df(spark: SparkSession, sf_dir: str,
                                return_candidates: bool = False) -> DataFrame:
    """Near-dup pairs like :func:`dedup_minhash_lsh_df`, hardened for
    mass-duplicated corpora: exact-collapse first, then band buckets
    capped at BAND_BUCKET_CAP (see module comment above for the recall
    trade-off).  Pairs are between representatives; exact duplicates are
    recovered via dedup_exact's (text_hash -> rep_doc_id) table.

    ``return_candidates`` short-circuits after candidate generation
    (columns doc_a, doc_b) — used by the scale test to assert the
    candidate set cannot go quadratic."""
    shingled = _shingled(spark, sf_dir, docs=_rep_docs(spark, sf_dir))
    sigs = (shingled
            .withColumn("hs", shingle_hashes(F.col("sh")))
            .select("doc_id",
                    minhash_signature(F.col("hs"), NUM_PERM).alias("sig")))
    cand = _candidate_pairs(_capped_bands(_band_rows(sigs)))
    if return_candidates:
        return cand
    return _verify_pairs(cand, shingled)


def dedup_minhash_lsh_capped_indexed_df(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """The capped result served from a PERSISTED collapsed index (built
    over representatives, ``build_minhash_index(collapse=True)``) — the
    steady-state production shape: collapse + shingling + signatures paid
    once at build/append time, query-time work reduced to the capped band
    self-join and broadcast verification.  Pair-equality with
    :func:`dedup_minhash_lsh_capped_df` is pytest-pinned, so the same
    oracle applies."""
    p = build_minhash_index(spark, sf_dir, collapse=True)
    raw_bands, shingled = _index_tables(spark, p)
    # tombstones drop BEFORE capping: as if the doc were absent
    return _verify_pairs(_candidate_pairs(_capped_bands(raw_bands)),
                         shingled)


_REP_SHINGLE_BASE_CTE = f"""
reps AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
base AS (
  SELECT d.doc_id, {sql_shingles('t', SHINGLE_N)} AS sh
  FROM (SELECT doc_id, {sql_tokens('text')} AS t
        FROM documents WHERE doc_id IN (SELECT doc_id FROM reps)) d
  WHERE len(t) >= {SHINGLE_N})
"""

DEDUP_MINHASH_LSH_CAPPED_SQL = f"""
WITH {_REP_SHINGLE_BASE_CTE},
sigs AS (
  SELECT doc_id, sh, {sql_minhash_signature('sh', NUM_PERM)} AS sig FROM base),
bands AS (
  SELECT doc_id, sh,
         {sql_band_key()}
           AS band_key
  FROM sigs, generate_series(0, {BANDS - 1}) g(b)
  QUALIFY count(*) OVER (PARTITION BY band_key) <= {BAND_BUCKET_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
verified AS (
  SELECT doc_a, doc_b,
         len(list_filter(x.sh, e -> list_contains(y.sh, e)))
           * 1.0 / (len(x.sh) + len(y.sh)
                    - len(list_filter(x.sh, e -> list_contains(y.sh, e)))) AS jac
  FROM cand
  JOIN base x ON x.doc_id = cand.doc_a
  JOIN base y ON y.doc_id = cand.doc_b)
SELECT doc_a, doc_b, round(jac, 6) AS jaccard
FROM verified WHERE round(jac, 6) >= {JACCARD_THRESHOLD}
"""


# --- simhash ----------------------------------------------------------------


def dedup_simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprint per document (frequency-weighted token
    sign bits).  Near-dup = small Hamming distance; the fingerprint itself
    is the oracle-checked output."""
    toks_h = F.transform(tokens(F.col("text")), lambda t: phash(t, 0))
    return (_docs_wide(spark, sf_dir)
            .select("doc_id", toks_h.alias("hs"))
            .select("doc_id", F.expr("""
aggregate(sequence(0, 59), 0L, (acc, b) -> acc + IF(
  aggregate(hs, 0, (a, h) -> a + IF(shiftright(h, b) & 1 = 1, 1, -1)) > 0,
  shiftleft(1L, b), 0L))""").alias("simhash")))


DEDUP_SIMHASH_SQL = f"""
SELECT doc_id,
       CAST(list_sum([CASE WHEN list_sum(
           [CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END for h in hs]) > 0
         THEN (1::BIGINT << b) ELSE 0::BIGINT END
         for b in generate_series(0, 59)]) AS BIGINT) AS simhash
FROM (SELECT doc_id,
             [{sql_phash('t', 0)} for t in {sql_tokens('text')}] AS hs
      FROM documents)
"""


# --- exact n-gram Jaccard ---------------------------------------------------


def dedup_ngram_jaccard_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs Jaccard >= threshold via a shingle inverted index
    (pairs must share at least one shingle).  Small-scale oracle baseline:
    posting-list self-join is quadratic — guarded, use dedup_minhash_lsh
    at scale.

    The guard counts the RAW documents table (a zero-column parquet scan),
    not the shingled frame — shingling is the CPU-heavy step and counting
    its output would run it twice per call (ADVICE r05); doc rows are an
    upper bound on shingled rows, so the guard is conservative."""
    _assert_small_scale(_docs(spark, sf_dir),
                        "dedup_ngram_jaccard", "dedup_minhash_lsh")
    base = _shingled(spark, sf_dir)
    sizes = base.select("doc_id", F.size("sh").alias("n"))
    e = explode_elements(base, "sh", "g", "doc_id")
    a, b = e.alias("a"), e.alias("b")
    inter = (a.join(b, (F.col("a.g") == F.col("b.g"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("i")))
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("i") / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    return (inter
            .join(sa, F.col("doc_a") == F.col("sa.doc_id"))
            .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
            .where(F.col("jaccard") >= JACCARD_THRESHOLD))


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH {_SHINGLE_BASE_CTE},
e AS (SELECT doc_id, unnest(sh) AS g FROM base),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(i * 1.0 / (len(x.sh) + len(y.sh) - i), 6) AS jaccard
FROM inter
JOIN base x ON x.doc_id = doc_a
JOIN base y ON y.doc_id = doc_b
WHERE round(i * 1.0 / (len(x.sh) + len(y.sh) - i), 6) >= {JACCARD_THRESHOLD}
"""


INGESTED_BELOW = 250   # docs below this id play the already-ingested corpus


def dedup_incremental_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time dedup: an incoming batch keeps only documents whose
    content hash is new — not present in the already-ingested corpus
    (left-anti join against the persisted hash set) and not duplicated
    within the batch itself (keep the lowest doc_id).

    Scale: the corpus side is only its 16-byte hash column (at scale, a
    persisted hash index — never the corpus itself); one equi-shuffle
    each for the in-batch window and the anti-join, both on the hash.
    The streaming twin is streaming/dedup.py."""
    docs = _docs(spark, sf_dir)
    seen = (docs.where(F.col("doc_id") < INGESTED_BELOW)
            .select(F.md5("text").alias("h")).distinct())
    incoming = (docs.where(F.col("doc_id") >= INGESTED_BELOW)
                .select("doc_id", F.md5("text").alias("h")))
    from pyspark.sql import Window

    w = Window.partitionBy("h").orderBy("doc_id")
    batch_first = (incoming.withColumn("rk", F.row_number().over(w))
                   .where(F.col("rk") == 1))
    return (batch_first.join(seen, "h", "left_anti")
            .select("doc_id", F.col("h").alias("text_hash")))


DEDUP_INCREMENTAL_SQL = f"""
WITH seen AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < {INGESTED_BELOW}),
incoming AS (
  SELECT doc_id, md5(text) AS h FROM documents
  WHERE doc_id >= {INGESTED_BELOW}),
batch_first AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, h, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rk
    FROM incoming)
  WHERE rk = 1)
SELECT doc_id, h AS text_hash
FROM batch_first
WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.h = batch_first.h)
"""


def dedup_minhash_incremental_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time NEAR-dup detection: the incoming batch's banded
    MinHash signatures are probed against the already-ingested corpus's
    band table, candidates verified by exact Jaccard — the near-dup twin
    of :func:`dedup_incremental_df` (which catches exact duplicates only).
    Returns (doc_new, doc_seen, jaccard) hits an ingestion pipeline would
    reject or link.

    Scale shape: the corpus band table is the persisted LSH *index* (at
    scale written once, appended per batch — same lifecycle as the IVF
    index in similarity.py).  The batch side is small, so its band rows
    and the candidate pair list are BROADCAST — the corpus-side band scan
    and the shingle verification are both map-only: nothing corpus-sized
    ever shuffles at query time.  Testbed caveat: the fixed
    INGESTED_BELOW id split makes the registered instance's "batch"
    most of the table at sf0.1 (the fraction grows with sf), so the
    bench timing exercises the hint on the large side; the production
    claim above describes the real ingestion shape, where the batch is
    a sliver (the r11 embedding twin's modulo split keeps its batch at
    a constant 5% instead)."""
    shingled = _shingled(spark, sf_dir)
    sigs = (shingled
            .withColumn("hs", shingle_hashes(F.col("sh")))
            .select("doc_id",
                    minhash_signature(F.col("hs"), NUM_PERM).alias("sig")))
    bands = _band_rows(sigs)
    corpus = bands.where(F.col("doc_id") < INGESTED_BELOW) \
                  .withColumnRenamed("doc_id", "doc_seen")
    batch = bands.where(F.col("doc_id") >= INGESTED_BELOW) \
                 .withColumnRenamed("doc_id", "doc_new")
    cand = (corpus.join(F.broadcast(batch), "band_key")
            .select("doc_new", "doc_seen")
            .dropDuplicates(["doc_new", "doc_seen"]))

    sh_new = shingled.select(F.col("doc_id").alias("doc_new"),
                             F.col("sh").alias("sh_n"))
    sh_seen = shingled.select(F.col("doc_id").alias("doc_seen"),
                              F.col("sh").alias("sh_s"))
    inter = F.size(F.array_intersect("sh_n", "sh_s"))
    jac = inter / (F.size("sh_n") + F.size("sh_s") - inter)
    return (cand.join(sh_new, "doc_new").join(sh_seen, "doc_seen")
            .select("doc_new", "doc_seen", F.round(jac, 6).alias("jaccard"))
            .where(F.col("jaccard") >= JACCARD_THRESHOLD))


DEDUP_MINHASH_INCREMENTAL_SQL = f"""
WITH {_SHINGLE_BASE_CTE},
sigs AS (
  SELECT doc_id, sh, {sql_minhash_signature('sh', NUM_PERM)} AS sig FROM base),
bands AS (
  SELECT doc_id,
         {sql_band_key()}
           AS band_key
  FROM sigs, generate_series(0, {BANDS - 1}) g(b)),
cand AS (
  SELECT DISTINCT n.doc_id AS doc_new, s.doc_id AS doc_seen
  FROM bands n JOIN bands s ON n.band_key = s.band_key
  WHERE n.doc_id >= {INGESTED_BELOW} AND s.doc_id < {INGESTED_BELOW}),
verified AS (
  SELECT doc_new, doc_seen,
         len(list_filter(x.sh, e -> list_contains(y.sh, e)))
           * 1.0 / (len(x.sh) + len(y.sh)
                    - len(list_filter(x.sh, e -> list_contains(y.sh, e)))) AS jac
  FROM cand
  JOIN base x ON x.doc_id = cand.doc_new
  JOIN base y ON y.doc_id = cand.doc_seen)
SELECT doc_new, doc_seen, round(jac, 6) AS jaccard
FROM verified WHERE round(jac, 6) >= {JACCARD_THRESHOLD}
"""


# --- near-dup clusters (connected components) -------------------------------

# Driver-local union-find gate (r19 opt): at or below this many verified
# pairs the component resolution runs on the driver (16 bytes/pair
# collected, near-linear union-find, one Arrow literal relation back) —
# the distributed pointer-jumping rounds are pure stage-scheduling
# latency at such sizes.  Above it the unchanged distributed kernel
# runs; a mass-duplication corpus at real scale lands there.  Bounded
# driver memory: 100k pairs is ~10 MB with the label dict.
CC_LOCAL_MAX_PAIRS = 100_000


def dedup_clusters_df(spark: SparkSession, sf_dir: str,
                      pairs_df: DataFrame | None = None) -> DataFrame:
    """Resolve the verified near-dup pairs into clusters: every clustered
    doc labeled with the minimum doc_id of its connected component (the
    canonical representative a dedup pass would keep).

    ``pairs_df`` (columns doc_a, doc_b) lets callers reuse an
    already-computed pair set — e.g. the persisted-index path
    (``dedup_minhash_lsh_indexed_df``) or pairs persisted by an earlier
    pipeline stage, which is how a production run would chain dedup →
    clustering without recomputing signatures.  Default recomputes via
    the live LSH path (the registered oracle-checked shape).

    Implementation: iterative min-label propagation with pointer jumping
    over the (tiny relative to the corpus) pair graph — each round takes
    the min of the own label, the neighbors' labels, AND the label's own
    label (path halving), converging in O(log diameter) rounds, so even a
    million-doc duplication chain fits the 50-round bound; exhausting the
    bound raises instead of returning unconverged labels.  The driver
    loop only checks a per-round convergence count; all data stays
    distributed.  Each round shuffles pair-graph edges, never the corpus."""
    if pairs_df is None:
        pairs_df = dedup_minhash_lsh_df(spark, sf_dir)
    pairs = pairs_df.select("doc_a", "doc_b")
    # Size-gated driver-local components (r19 opt, guide §1.2/§2.4):
    # the pair graph is tiny relative to the corpus by construction
    # (banded candidates, verified), and each distributed propagation
    # round costs a localCheckpoint job with ~6 kilobyte-sized
    # exchanges — pure scheduling latency at small pair counts.  Below
    # the gate, collect the pairs and run min-root union-find on the
    # driver (the BPE trainer's size-gated local/distributed pattern;
    # path-invariance pinned in tests).  Above it — a mass-duplication
    # corpus at real scale — the distributed pointer-jumping loop below
    # is unchanged.  The gate counts PAIRS (driver memory is bounded by
    # 16 bytes/pair plus the label dict).  One bounded collect both
    # decides the gate and feeds the local path: a count() followed by
    # a collect() ran the whole pair plan twice.
    rows = pairs.limit(CC_LOCAL_MAX_PAIRS + 1).collect()
    if len(rows) <= CC_LOCAL_MAX_PAIRS:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:        # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in rows:
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:                 # min doc_id stays the root
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        from ..functions.localrel import literal_df

        rows = [(d, find(d)) for d in parent]
        return literal_df(spark, rows,
                          "doc_id bigint, cluster_id bigint")
    sym = (pairs.selectExpr("doc_a AS src", "doc_b AS dst")
           .union(pairs.selectExpr("doc_b AS src", "doc_a AS dst")))
    sym = sym.localCheckpoint(eager=True)          # reused every round
    labels = (sym.select(F.col("src").alias("doc_id"))
              .distinct()
              .withColumn("label", F.col("doc_id")))
    for rnd in range(50):                          # >= log2(any real chain)
        neigh = (sym.join(labels, sym.src == labels.doc_id)
                 .groupBy(F.col("dst").alias("doc_id"))
                 .agg(F.min("label").alias("nlabel")))
        jump = labels.select(F.col("doc_id").alias("label"),
                             F.col("label").alias("jlabel"))
        updated = (labels.join(neigh, "doc_id", "left")
                   .join(jump, "label", "left")
                   .select("doc_id",
                           F.least("label",
                                   F.coalesce("nlabel", "label"),
                                   F.coalesce("jlabel", "label"))
                           .alias("label"))
                   .localCheckpoint(eager=True))   # cut lineage per round
        prev, labels = labels, updated
        # convergence probe every 3rd round only: each probe is its own
        # Spark job, and with path halving most graphs converge in a
        # handful of rounds — probing every round doubled job count for
        # no information (an extra converged round is a cheap no-op pass)
        if rnd % 3 == 2 or rnd == 49:
            changed = (updated.alias("u")
                       .join(prev.alias("l"), "doc_id")
                       .where(F.col("u.label") != F.col("l.label")).count())
            if changed == 0:
                break
    else:
        raise RuntimeError(
            "dedup_clusters did not converge within 50 rounds — "
            "pathological component structure; inspect the pair graph")
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def build_cluster_table(spark: SparkSession, sf_dir: str,
                        force: bool = False) -> str:
    """Persist the near-dup cluster table (dedup_clusters_indexed's
    output) once per corpus version, stored INSIDE the minhash index dir
    so the fingerprint tag, LRU marker, and GC lifecycle are shared.
    Consumers that only need doc_id -> cluster_id (leak-proof splits,
    mixture accounting, per-cluster sampling) read this table instead of
    re-running label propagation per call — the same amortization the
    ``*_indexed`` query variants get from the band index (VERDICT r06
    item 7: sample_cluster_split rebuilt clustering on every
    invocation)."""
    p = build_minhash_index(spark, sf_dir)
    cpath = _os.path.join(p, "clusters")
    if force:
        # only the derived clusters/ subdir is rebuilt — do NOT route
        # this through serve_cached(force=True): that archives the
        # INDEX's batch-admission ledger, which describes the untouched
        # bands/shingles (a forced cluster rebuild would wrongly reset
        # append idempotency, and would refuse while an append is in
        # flight).  Unlinking the marker up front also closes the
        # stale-marker crash window: a crash mid-overwrite leaves an
        # unmarked dir that rebuilds, never a torn (or pre-delete)
        # cluster table served as complete (r19 review).
        try:
            _os.remove(_os.path.join(p, "_CLUSTERS_OK"))
        except FileNotFoundError:
            pass
    elif _ilc.serve_cached(p, "_CLUSTERS_OK"):
        return cpath
    # same deterministic layout rule as the band/shingle writes: the
    # cluster table is at most one row per doc, so size its files from
    # the same footer estimate
    (dedup_clusters_indexed_df(spark, sf_dir)
     .repartition(_layout_files(_docs_meta_rows(sf_dir),
                                SHINGLE_ROWS_PER_FILE * 5), "doc_id")
     .write.mode("overwrite").parquet(cpath))
    open(_os.path.join(p, "_CLUSTERS_OK"), "w").close()
    return cpath


def dedup_clusters_indexed_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production composition: cluster from the PERSISTED band+shingle
    index's verified pairs instead of recomputing signatures
    (pair-set equality with the live path is pytest-pinned, so the
    oracle below applies unchanged).  This is the steady-state shape —
    signature extraction amortized at index build/append time, the
    clustering job touching only (doc_id, band_key) rows and the tiny
    pair graph."""
    return dedup_clusters_df(
        spark, sf_dir, pairs_df=dedup_minhash_lsh_indexed_df(spark, sf_dir))


# oracle: recursive-CTE transitive closure with min-label aggregation over
# the same verified pair list
DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_LSH_SQL})),
sym AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs),
reach AS (
  SELECT s AS doc, s AS r FROM sym
  UNION
  SELECT reach.doc, sym.d FROM reach JOIN sym ON reach.r = sym.s)
SELECT doc AS doc_id, min(r) AS cluster_id
FROM reach GROUP BY doc
"""


# --- embedding cosine near-dup ----------------------------------------------


def dedup_embedding_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-similar pairs over the embeddings table (brute-force
    baseline; similarity.ann_lsh_bucketed is the sub-quadratic path).
    Small-scale oracle baseline: the `<` theta-join is all-pairs —
    guarded via _assert_small_scale."""
    emb = _assert_small_scale(
        _rps(spark, f"{sf_dir}/embeddings.parquet"),
        "dedup_embedding", "dedup.dedup_embedding_lsh")
    # r20 (guide §4): when the guarded corpus also fits the Arrow
    # kernel's bounded query-set gate, the C(N,2) pair scoring runs in
    # the bit-exact numpy fold (functions/arrowkern.py) instead of ~N²/2
    # interpreted dim-64 folds — with a conservative kernel-side
    # pre-filter (threshold − 1e-5 on the RAW score; round-6 moves a
    # value < 5e-7, so no hit can be lost) and the authoritative
    # round-6 >= threshold filter staying a JVM expression.  Values are
    # float-identical (tests/test_arrow_parity.py), so the oracle's
    # pair set is unchanged.  Past the gate the JVM theta-join lane
    # below is byte-identical to r19.
    from ..functions.arrowkern import AuditSetTooLarge, \
        brute_cosine_pairs, collect_query_vectors
    try:
        q_rows = collect_query_vectors(emb, "vec_id", "embedding")
    except AuditSetTooLarge:
        q_rows = None   # corpus exceeds the kernel's bounded-audit gate
    if q_rows is not None:
        return (brute_cosine_pairs(emb, "vec_id", "embedding", q_rows,
                                   min_raw_score=COSINE_THRESHOLD - 1e-5,
                                   lt_only=True)
                .select(F.col("q_id").alias("vec_a"),
                        F.col("n_id").alias("vec_b"),
                        F.round(F.col("__cos_raw"), 6).alias("cosine"))
                .where(F.col("cosine") >= COSINE_THRESHOLD))
    emb = emb.withColumn("__vn", vnorm(F.col("embedding")))
    a, b = emb.alias("a"), emb.alias("b")
    # per-side norms hoisted once per row (r19 opt batch 8) — same
    # round-6 values as the in-line cosine (see textfn.cosine_pre)
    cos = F.round(cosine_pre(F.col("a.embedding"), F.col("b.embedding"),
                             F.col("a.__vn"), F.col("b.__vn")), 6)
    return (a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    cos.alias("cosine"))
            .where(F.col("cosine") >= COSINE_THRESHOLD))


DEDUP_EMBEDDING_SQL = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({sql_cosine('a.embedding', 'b.embedding')}, 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round({sql_cosine('a.embedding', 'b.embedding')}, 6) >= {COSINE_THRESHOLD}
"""


# bucket width FLOOR for the embedding near-dup pass: 2^4 = 16 buckets —
# the contract-corpus configuration (target bucket ~ N / 2**bits; dedup
# wants coarser buckets than top-k search because RECALL of true pairs
# matters more than per-query cost).  Since r12 the actual width
# auto-sizes from the corpus row estimate through the same conf-keyed
# gate as the ANN paths (similarity.auto_lsh_bits, VERDICT r11 item 1)
# with this constant as the floor — and since r14 the oracle SQL derives
# the SAME width from count(*) through the same formula, so the
# hash-checked contract is scale-portable (cell-exact at sf0.01 AND
# sf0.1, not just at the width the old static SQL hard-coded).
EMB_LSH_BITS = 4
# a constant, not an option: the oracle SQL derives its width from it
DEDUP_BUCKET_TARGET_ROWS = 32   # 500-vector contract corpus / 2^4 buckets


def _auto_dedup_bits(spark: SparkSession, sf_dir: str) -> int:
    from .similarity import _corpus_rows, auto_lsh_bits

    return auto_lsh_bits(spark, _corpus_rows(spark, sf_dir),
                         EMB_LSH_BITS, DEDUP_BUCKET_TARGET_ROWS)


def dedup_embedding_lsh_df(spark: SparkSession, sf_dir: str,
                           bits: int | None = None,
                           probe_hamming1: bool = False) -> DataFrame:
    """THE registered scale path for embedding near-dup (the shape
    :func:`dedup_embedding_df`'s guard message points to): candidate
    pairs are generated only within a deterministic sign-bit LSH bucket,
    so the self-join shuffles narrow (vec_id, bucket) rows and compares
    ~N²·probes/2^bits pairs instead of C(N,2).

    The (bits, probe_hamming1) knobs ARE the recall/cost contract.  Per
    agreeing sign bit, a pair at cosine c collides with p = 1 − θ/π
    (θ = arccos c); single-bucket recall is p^bits, Hamming-1 probing
    adds bits·p^(bits−1)(1−p) for (bits+1)× the candidate volume.  At
    scale, bits must GROW with the corpus (2^bits ≈ N/bucket_target) —
    since r12 that growth is AUTOMATED: ``bits=None`` resolves through
    the conf-keyed :func:`_auto_dedup_bits` gate, floor ``EMB_LSH_BITS``
    — and the threshold sets p: boilerplate dedup at c ≥ 0.9 (p ≈ 0.86)
    holds recall at widths where the testdata's c ≥ 0.4 (p ≈ 0.63)
    cannot.  The registered instance auto-resolves to bits=4 at the
    contract corpus size (pytest equality pin), single-probe — the
    oracle encodes the SAME scheme, so the recall boundary is part of
    the deterministic, hash-checked contract rather than hidden
    approximation."""
    from .similarity import _bucket_expr

    if bits is None:
        bits = _auto_dedup_bits(spark, sf_dir)
    emb = (_rps(spark, f"{sf_dir}/embeddings.parquet")
           .withColumn("bucket", _bucket_expr(F.col("embedding"), bits))
           .withColumn("__vn", vnorm(F.col("embedding"))))
    if probe_hamming1:
        probes = F.array(F.col("bucket"),
                         *[F.col("bucket").bitwiseXOR(F.lit(1 << j))
                           for j in range(bits)])
        a = (emb.select("vec_id", "embedding", "__vn",
                        F.explode(probes).alias("bucket")).alias("a"))
    else:
        a = emb.alias("a")
    b = emb.alias("b")
    # per-side norms hoisted once per row (r19 opt batch 8)
    cos = F.round(cosine_pre(F.col("a.embedding"), F.col("b.embedding"),
                             F.col("a.__vn"), F.col("b.__vn")), 6)
    out = (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                  & (F.col("a.vec_id") < F.col("b.vec_id")))
           .select(F.col("a.vec_id").alias("vec_a"),
                   F.col("b.vec_id").alias("vec_b"),
                   cos.alias("cosine")))
    if probe_hamming1:
        out = out.dropDuplicates(["vec_a", "vec_b"])
    return out.where(F.col("cosine") >= COSINE_THRESHOLD)


def _dedup_embedding_lsh_sql() -> str:
    """The oracle derives the LSH width from ``count(*)`` through the
    same ``max(floor, ceil(log2(N/target)))`` gate the operator runs
    (similarity.sql_auto_bits_cte), so the pair-set contract holds at
    EVERY scale factor — not just the sf0.01 width the old static SQL
    hard-coded (VERDICT r13 item 1)."""
    from .similarity import sql_auto_bits_cte, sql_bucket_dyn

    nb = sql_auto_bits_cte(EMB_LSH_BITS, DEDUP_BUCKET_TARGET_ROWS)
    return f"""
WITH nb AS ({nb}),
bk AS (SELECT vec_id, embedding, {sql_bucket_dyn()} AS bucket
       FROM embeddings, nb)
SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       round({sql_cosine('x.embedding', 'y.embedding')}, 6) AS cosine
FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
WHERE round({sql_cosine('x.embedding', 'y.embedding')}, 6) >= {COSINE_THRESHOLD}
"""


DEDUP_EMBEDDING_LSH_SQL = _dedup_embedding_lsh_sql()

# one vector in EMB_INGEST_MOD plays the incoming batch for the
# embedding ingestion twin; the rest are the already-ingested corpus.
# A MODULO split (not an id threshold like the doc-side
# INGESTED_BELOW) so the batch is a constant SMALL fraction (5%) of
# the table at every scale factor — the broadcast hint below must sit
# on the side that is genuinely small in the registered instance, or
# the bench would measure the inverse of the documented plan.
EMB_INGEST_MOD = 20


def dedup_embedding_incremental_df(spark: SparkSession, sf_dir: str,
                                   bits: int | None = None) -> DataFrame:
    """Ingestion-time embedding near-dup detection — the vector twin of
    :func:`dedup_minhash_incremental_df`, completing the incremental
    story across all four dedup modalities (exact hash, minhash bands,
    chunk hashes, embedding buckets): the incoming batch's vectors are
    probed against the already-ingested corpus's sign-bit LSH buckets;
    candidates verified by exact cosine.  Returns (vec_new, vec_seen,
    cosine) hits an ingestion pipeline would reject or link (in-batch
    near-dups are the batch-local concern of the batch operators).

    Scale shape: the corpus side is the persisted
    ``partitionBy("bucket")`` index (the ann_lsh_indexed lifecycle —
    written once, appended per batch); the batch side is small — 5% of
    the table here, a sliver of a real corpus — and BROADCAST, so the
    corpus-side bucket scan is map-only and, against the persisted
    index, partition-pruned to the batch's buckets: nothing
    corpus-sized ever shuffles at ingestion time.  Here both sides
    derive from the same embeddings table so the oracle can reproduce
    the split.

    ``bits=None`` resolves ONCE through the corpus-sized auto gate
    (:func:`_auto_dedup_bits`) and is used for BOTH sides — bucket
    agreement between batch and corpus is the whole mechanism, so the
    width must come from a single resolution (the r11 ingest probe
    measured the fixed-width alternative: constant bucket count ⇒
    ~k² candidate growth under k× corpus replication; with the gate the
    bucket count doubles as the corpus does and per-row candidates stay
    flat — SCALE.md ingest table)."""
    from .similarity import _bucket_expr

    if bits is None:
        bits = _auto_dedup_bits(spark, sf_dir)
    emb = (_rps(spark, f"{sf_dir}/embeddings.parquet")
           .withColumn("bucket", _bucket_expr(F.col("embedding"), bits))
           .withColumn("__vn", vnorm(F.col("embedding"))))
    corpus = emb.where(F.col("vec_id") % EMB_INGEST_MOD != 0).alias("c")
    batch = emb.where(F.col("vec_id") % EMB_INGEST_MOD == 0).alias("n")
    # per-side norms hoisted once per row (r19 opt batch 8)
    cos = F.round(cosine_pre(F.col("n.embedding"), F.col("c.embedding"),
                             F.col("n.__vn"), F.col("c.__vn")), 6)
    return (corpus.join(F.broadcast(batch),
                        F.col("n.bucket") == F.col("c.bucket"))
            .select(F.col("n.vec_id").alias("vec_new"),
                    F.col("c.vec_id").alias("vec_seen"),
                    cos.alias("cosine"))
            .where(F.col("cosine") >= COSINE_THRESHOLD))


def _dedup_embedding_incremental_sql() -> str:
    """Width derived from ``count(*)`` like the operator's single
    auto-gate resolution (see :func:`_dedup_embedding_lsh_sql`) —
    scale-portable, and one width for both join sides."""
    from .similarity import sql_auto_bits_cte, sql_bucket_dyn

    nb = sql_auto_bits_cte(EMB_LSH_BITS, DEDUP_BUCKET_TARGET_ROWS)
    return f"""
WITH nb AS ({nb}),
bk AS (SELECT vec_id, embedding, {sql_bucket_dyn()} AS bucket
       FROM embeddings, nb)
SELECT n.vec_id AS vec_new, c.vec_id AS vec_seen,
       round({sql_cosine('n.embedding', 'c.embedding')}, 6) AS cosine
FROM bk c JOIN bk n ON n.bucket = c.bucket
WHERE c.vec_id % {EMB_INGEST_MOD} != 0 AND n.vec_id % {EMB_INGEST_MOD} = 0
  AND round({sql_cosine('n.embedding', 'c.embedding')}, 6)
        >= {COSINE_THRESHOLD}
"""


DEDUP_EMBEDDING_INCREMENTAL_SQL = _dedup_embedding_incremental_sql()


# --- winnowing fingerprints -------------------------------------------------

WINNOW_K = 8       # character k-gram length
WINNOW_W = 4       # winnowing window (guarantee: any match >= k+w-1 chars
                   # shares a fingerprint)
WINNOW_THRESHOLD = 0.5


def dedup_winnowing_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint near-dup pairs (the MOSS local-similarity
    scheme): hash every character k-gram, keep the MINIMUM hash of each
    sliding window of w consecutive k-grams — the distinct minima are the
    document's fingerprints, a position-robust ~1/w sample of its k-gram
    profile.  Pairs with fingerprint-set Jaccard >= threshold are
    near-duplicates; unlike word-shingle MinHash this detects LOCAL
    overlap (a long shared passage fingerprints identically no matter
    what surrounds it).

    Scale: candidate generation is banded MinHash-LSH over the
    FINGERPRINT sets (fingerprints are already integers mod P, so they
    feed the permutation family directly — no second md5 pass).  A naive
    inverted-index self-join on raw fingerprints is quadratic in posting-
    list length: the scale probe measured 8.5x wall-clock at 8x corpus,
    because hot fingerprints (stock phrases) dominate.  The banded layout
    is the same one dedup_minhash_lsh uses — (doc_id, band_key) rows
    only, linear at 8x — and verification joins the tiny candidate list
    back to the fingerprint table for exact Jaccard."""
    docs = _docs_wide(spark, sf_dir)
    n_grams = F.length("text") - WINNOW_K + 1
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: phash(F.col("text").substr(i, F.lit(WINNOW_K))) % MINHASH_P)
    fps = (docs.where(n_grams >= WINNOW_W)
           .withColumn("gh", grams)
           .select("doc_id",
                   F.array_distinct(F.transform(
                       F.sequence(F.lit(0), F.size("gh") - WINNOW_W),
                       lambda i: F.array_min(F.slice("gh", i + 1, WINNOW_W))))
                   .alias("fp")))
    # one hash exchange on doc_id carries the fingerprints to both
    # consumers (signatures and verification): the two branches plan
    # the same exchange and ReuseExchange runs it once, so the k-gram
    # hashing runs once per doc
    fps = fps.repartition("doc_id")
    sigs = fps.select(
        "doc_id", minhash_signature(F.col("fp"), NUM_PERM).alias("sig"))
    return _verify_pairs(_candidate_pairs(_band_rows(sigs)), fps,
                         set_col="fp", out_col="fp_jaccard",
                         threshold=WINNOW_THRESHOLD)


def _sql_minhash_over_ints(hs: str, num_perm: int) -> str:
    """Permutation-family minhash over an ALREADY-HASHED int list (the
    fingerprint sets) — the int twin of textfn.sql_minhash_signature."""
    a = "[" + ", ".join(str(x) for x in MINHASH_A) + "]"
    b = "[" + ", ".join(str(x) for x in MINHASH_B) + "]"
    return (f"[list_min([({a}[k+1] * h + {b}[k+1]) % {MINHASH_P} "
            f"for h in {hs}]) for k in generate_series(0, {num_perm - 1})]")


DEDUP_WINNOWING_SQL = f"""
WITH grams AS (
  SELECT doc_id,
         [{sql_phash('g')} % {MINHASH_P}
          for g in [substr(text, i, {WINNOW_K})
                    for i in generate_series(1, length(text) - {WINNOW_K - 1})]]
           AS gh
  FROM documents
  WHERE length(text) - {WINNOW_K - 1} >= {WINNOW_W}),
fps AS (
  SELECT doc_id,
         list_distinct([list_min(gh[i + 1:i + {WINNOW_W}])
                        for i in generate_series(0, len(gh) - {WINNOW_W})])
           AS fp
  FROM grams),
sigs AS (
  SELECT doc_id, fp, {_sql_minhash_over_ints('fp', NUM_PERM)} AS sig FROM fps),
bands AS (
  SELECT doc_id, fp,
         {sql_band_key()}
           AS band_key
  FROM sigs, generate_series(0, {BANDS - 1}) g(b)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
verified AS (
  SELECT doc_a, doc_b,
         len(list_filter(x.fp, e -> list_contains(y.fp, e)))
           * 1.0 / (len(x.fp) + len(y.fp)
                    - len(list_filter(x.fp, e -> list_contains(y.fp, e)))) AS jac
  FROM cand
  JOIN fps x ON x.doc_id = cand.doc_a
  JOIN fps y ON y.doc_id = cand.doc_b)
SELECT doc_a, doc_b, round(jac, 6) AS fp_jaccard
FROM verified WHERE round(jac, 6) >= {WINNOW_THRESHOLD}
"""


# --- LSH candidate-recall contract (bounds row) ------------------------------
#
# The minhash-LSH family's driver rows verify RESULTS (verified pairs),
# but none pins the property that makes banded LSH trustworthy at scale:
# that band collisions RECOVER the true near-duplicate pairs.  This
# bounds query audits candidate recall against exact-Jaccard ground
# truth over a fixed-size audit set, the same contract pattern as
# ann_ivf_recall_bounds (similarity.py).

LSH_RECALL_AUDIT_MAX = 60    # audit docs: doc_id < 60 at every SF
LSH_RECALL_FLOOR = 0.8


def dedup_lsh_recall_bounds_df(spark: SparkSession, sf_dir: str,
                               bands: int = BANDS,
                               floor: float = LSH_RECALL_FLOOR) -> DataFrame:
    """Driver-hashable recall contract for banded-MinHash candidate
    generation: of the TRUE near-duplicate pairs (exact Jaccard >=
    JACCARD_THRESHOLD) touching a fixed audit set, what fraction
    collides in at least one LSH band?  One row: exact pair counts,
    recall, and a boolean pinning recall >= floor.

    The bound is falsifiable: at ``bands=1`` (all NUM_PERM rows in one
    band) even near-identical docs need all 12 min-hashes equal, and
    recall collapses to ~0.43 at sf0.01 — under the floor
    (pytest-pinned).  Both engines compute the identical integer pair
    counts (the minhash permutation family is deterministic and
    portable), so the row hash-matches exactly.

    Scale shape: ground truth is audit-restricted — audit postings
    (fixed-size) join the corpus inverted index on the shingle key, so
    the exact-Jaccard side is linear in corpus size, never the
    quadratic all-pairs form; the candidate side reuses the production
    band layout (narrow (doc_id, band_key) rows) filtered to audit
    collisions.  The standard recall-audit pattern: the contract runs
    on a sample, the production path stays sub-quadratic."""
    if NUM_PERM % bands:
        raise ValueError(f"bands={bands} must divide NUM_PERM={NUM_PERM}")
    # one hash exchange on doc_id carries the shingle sets to the
    # corpus-wide consumers (postings, sizes, signatures): ReuseExchange
    # runs it once, so the shingling runs once per doc (the audit-side
    # branches push their doc_id filter under it and shingle 60 docs)
    base = _shingled(spark, sf_dir).repartition("doc_id")
    audit_filter = F.col("doc_id") < LSH_RECALL_AUDIT_MAX

    # ground truth: exact Jaccard via the audit-restricted inverted
    # index.  The audit postings are fixed-size (60 docs' shingles), so
    # they BROADCAST: the corpus-sized posting explode stays map-local
    # instead of shuffling on the shingle key — only matched (a, b)
    # rows reach the groupBy exchange (r12 pin-ratio shave).
    e_all = explode_elements(base, "sh", "g", "doc_id")
    e_aud = explode_elements(base.where(audit_filter)
                             .withColumnRenamed("doc_id", "a_id"),
                             "sh", "g", "a_id")
    inter = (e_all.join(F.broadcast(e_aud), "g")
             .where(F.col("doc_id") != F.col("a_id"))
             .groupBy("a_id", F.col("doc_id").alias("b_id"))
             .agg(F.count(F.lit(1)).alias("i")))
    sizes = base.select("doc_id", F.size("sh").alias("n"))
    na = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    truth = (inter.join(na, "a_id").join(nb, "b_id")
             .where(F.round(jac, 6) >= JACCARD_THRESHOLD)
             .select(F.least("a_id", "b_id").alias("lo"),
                     F.greatest("a_id", "b_id").alias("hi"))
             .distinct())

    # candidates: the production band layout at the requested band
    # count — THROUGH the shared helper, so the audit can never
    # measure a different banding scheme than the path it pins
    sigs = (base
            .withColumn("hs", shingle_hashes(F.col("sh")))
            .select("doc_id",
                    minhash_signature(F.col("hs"), NUM_PERM).alias("sig")))
    brows = _band_rows(sigs, bands=bands)
    a, b = brows.where(audit_filter).alias("a"), brows.alias("b")
    # audit band rows broadcast for the same reason: the corpus band
    # table never shuffles on the band key for the audit's sake
    cand = (b.join(F.broadcast(a),
                   (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col("a.doc_id") != F.col("b.doc_id")))
            .select(F.least("a.doc_id", "b.doc_id").alias("lo"),
                    F.greatest("a.doc_id", "b.doc_id").alias("hi"))
            .distinct())

    tot = truth.agg(F.count(F.lit(1)).alias("n_true"))
    caught = (truth.join(cand, ["lo", "hi"])
              .agg(F.count(F.lit(1)).alias("n_caught")))
    recall = F.round(F.col("n_caught") / F.col("n_true"), 6)
    return (tot.crossJoin(caught)
            .select("n_true", "n_caught", recall.alias("recall"),
                    (recall >= F.lit(floor)).alias("meets_floor"),
                    F.lit(bands).cast("int").alias("bands")))


def _lsh_recall_bounds_sql(bands: int = BANDS,
                           floor: float = LSH_RECALL_FLOOR) -> str:
    key = sql_band_key(bands)
    return f"""
WITH {_SHINGLE_BASE_CTE.strip()},
e AS (SELECT doc_id, unnest(sh) AS g FROM base),
ea AS (SELECT doc_id AS a_id, unnest(sh) AS g FROM base
       WHERE doc_id < {LSH_RECALL_AUDIT_MAX}),
inter AS (
  SELECT a_id, e.doc_id AS b_id, count(*) AS i
  FROM ea JOIN e ON ea.g = e.g AND e.doc_id <> a_id
  GROUP BY 1, 2),
truth AS (
  SELECT DISTINCT least(a_id, b_id) AS lo, greatest(a_id, b_id) AS hi
  FROM inter
  JOIN base x ON x.doc_id = a_id
  JOIN base y ON y.doc_id = b_id
  WHERE round(i * 1.0 / (len(x.sh) + len(y.sh) - i), 6)
          >= {JACCARD_THRESHOLD}),
sigs AS (SELECT doc_id, {sql_minhash_signature('sh', NUM_PERM)} AS sig
         FROM base),
bands AS (
  SELECT doc_id, {key} AS band_key
  FROM sigs, generate_series(0, {bands - 1}) g(b)),
cand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS lo,
                  greatest(a.doc_id, b.doc_id) AS hi
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id <> b.doc_id
  WHERE a.doc_id < {LSH_RECALL_AUDIT_MAX}),
caught AS (SELECT CAST(count(*) AS BIGINT) AS c FROM truth JOIN cand USING (lo, hi)),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM truth)
SELECT t AS n_true, c AS n_caught, round(c * 1.0 / t, 6) AS recall,
       round(c * 1.0 / t, 6) >= {floor} AS meets_floor,
       CAST({bands} AS INT) AS bands
FROM tot, caught
"""


DEDUP_LSH_RECALL_BOUNDS_SQL = _lsh_recall_bounds_sql()


# --- cross-document duplicated-span fraction ---------------------------------
#
# The Gopher/RefinedWeb-style "copy fraction" gate: a document whose
# content largely consists of spans that ALSO appear in other documents
# (boilerplate, licenses, syndicated text) should be dropped even when
# no single whole-document near-duplicate exists.  Complements
# text_repetition (WITHIN-doc repetition) with the cross-doc axis, at
# sub-document granularity no whole-doc Jaccard can see.

DUP_CHUNK_TOKENS = 10        # non-overlapping token window per chunk
DUP_CHUNK_MAX_FRACTION = 0.5  # keep docs under this duplicated fraction


def _chunks_from_tokens(toks_df: DataFrame,
                        with_index: bool = False) -> DataFrame:
    """Chunk rows from an already-tokenized (doc_id, __toks) frame —
    the single chunking kernel behind :func:`_chunk_hashes` and the
    span-removal operator (which tokenizes once and reuses the token
    frame for reconstruction)."""
    W = DUP_CHUNK_TOKENS
    nch = F.floor(F.size("__toks") / W).cast("int")
    chunk = F.md5(F.concat_ws(
        " ", F.slice("__toks", F.col("i") * W + 1, W)))
    exploded = (toks_df
                .select("doc_id", nch.alias("__n"), "__toks")
                .where(F.col("__n") >= 1)
                .select("doc_id",
                        F.explode(F.sequence(F.lit(0), F.col("__n") - 1))
                        .alias("i"),
                        "__toks"))
    if with_index:
        return exploded.select("doc_id", "i", chunk.alias("h"))
    return exploded.select("doc_id", chunk.alias("h"))


def _chunk_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, h): the md5 of each non-overlapping DUP_CHUNK_TOKENS-
    token window of each document — the ONE chunking pipeline the
    batch and incremental copy-fraction gates AND the span-removal
    operator build on (a divergence in W handling or the 1-based slice
    bounds would silently split their semantics).  Map-side bounded
    explode: corpus tokens / W rows."""
    return _chunks_from_tokens(
        docs.select("doc_id", tokens(F.col("text")).alias("__toks")))


def doc_dup_chunk_fraction_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: how many of its fixed-width token chunks also occur
    (verbatim) in at least one OTHER document, the duplicated fraction,
    and the keep/drop verdict at DUP_CHUNK_MAX_FRACTION.

    Scale shape: chunking is a map-side bounded explode (corpus tokens /
    W rows, each a 16-byte md5 + ids); the one corpus-sized shuffle is
    the hash-key groupBy counting DISTINCT source docs per chunk (the
    exact-dedup shuffle at chunk granularity); the per-doc rollup joins
    chunk rows back to their doc — chunk-table-sized, shuffled on the
    hash key then doc_id.  No quadratic form exists at any step, so
    this runs at corpora where pairwise dedup cannot."""
    chunks = _chunk_hashes(_docs_wide(spark, sf_dir))
    docs_per_h = (chunks.groupBy("h")
                  .agg(F.countDistinct("doc_id").alias("nd")))
    per_doc = (chunks.join(docs_per_h, "h")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_chunks"),
                    F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                    .cast("long").alias("n_dup_chunks")))
    frac = F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6)
    return (per_doc
            .select("doc_id", "n_chunks", "n_dup_chunks",
                    frac.alias("dup_fraction"),
                    (frac < DUP_CHUNK_MAX_FRACTION).alias("keep"))
            .orderBy("doc_id"))


DOC_DUP_CHUNK_FRACTION_SQL = f"""
WITH chunks AS (
  SELECT doc_id, unnest(ch) AS h
  FROM (
    SELECT doc_id,
           [md5(array_to_string(
              t[i*{DUP_CHUNK_TOKENS}+1 : i*{DUP_CHUNK_TOKENS}+{DUP_CHUNK_TOKENS}],
              ' '))
            for i in generate_series(0, len(t) // {DUP_CHUNK_TOKENS} - 1)]
             AS ch
    FROM (SELECT doc_id, {sql_tokens('text')} AS t FROM documents)
    WHERE len(t) >= {DUP_CHUNK_TOKENS})),
docs_per_h AS (
  SELECT h, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY 1),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_chunks
  FROM chunks JOIN docs_per_h USING (h)
  GROUP BY 1)
SELECT doc_id, n_chunks, n_dup_chunks,
       round(n_dup_chunks * 1.0 / n_chunks, 6) AS dup_fraction,
       round(n_dup_chunks * 1.0 / n_chunks, 6) < {DUP_CHUNK_MAX_FRACTION}
         AS keep
FROM per_doc ORDER BY doc_id
"""


def doc_dedup_spans_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-SPAN removal — the operator behind the
    copy-fraction gate's verdict: instead of keeping/dropping whole
    documents, it removes the duplicated chunks themselves and emits
    the cleaned token stream (the "dedup the spans, keep the document"
    move of modern pretraining pipelines, applied at the same
    non-overlapping DUP_CHUNK_TOKENS-token granularity as
    :func:`doc_dup_chunk_fraction_df` — one chunking pipeline,
    :func:`_chunks_from_tokens`).

    Policy: for every chunk hash occurring more than once in the
    corpus, exactly ONE canonical occurrence survives — the globally
    least (doc_id, chunk index) — and every other occurrence (across
    docs AND repeats within a doc) is removed.  Identical hash means
    identical chunk text, so the canonical choice only decides WHERE
    the one surviving copy lives.  The tail beyond the last full chunk
    is always kept.  Output per doc: chunk/removal counts and
    ``cleaned_text`` (kept chunks in order + tail, single-space
    joined — the whitespace-normalized token stream, which is what a
    training pipeline consumes).

    Scale shape: chunk rows are (doc_id, i, 16-byte md5) — one
    corpus-chunk-sized shuffle for the per-hash canonical min, one for
    the per-doc removal lists (only DUPLICATED occurrences reach it),
    one doc_id join of those lists back to the token frame;
    reconstruction is a map-side higher-order expression.  Nothing is
    quadratic and the heavy text/token payload never shuffles — the
    removal lists do."""
    base = (_docs_wide(spark, sf_dir)
            .select("doc_id", tokens(F.col("text")).alias("__toks")))
    chunks = _chunks_from_tokens(base, with_index=True)
    own = (chunks.groupBy("h")
           .agg(F.count(F.lit(1)).alias("cnt"),
                F.min(F.struct("doc_id", "i")).alias("own")))
    removed = (chunks.join(own, "h")
               .where((F.col("cnt") > 1)
                      & ~((F.col("doc_id") == F.col("own.doc_id"))
                          & (F.col("i") == F.col("own.i"))))
               .groupBy("doc_id")
               .agg(F.sort_array(F.collect_list("i")).alias("rem")))
    return _spans_cleaned(base, removed)


def _spans_cleaned(base: DataFrame, removed: DataFrame,
                   ordered: bool = True) -> DataFrame:
    """Shared reconstruction for both span-removal operators: join the
    per-doc removal lists onto the (doc_id, __toks) frame and rebuild
    the cleaned token stream — kept chunks in order plus the tail
    beyond the last full chunk.  ONE implementation on purpose: a
    divergence in W arithmetic or the 1-based slice bounds between the
    batch and incremental paths would silently break their pinned
    restriction equality (the _chunk_hashes rationale).

    ``ordered=False`` skips the presentation orderBy — the streaming
    sink writes batch-partitioned parquet whose row order is
    irrelevant, and the global sort was a full extra exchange per
    micro-batch (r17 review)."""
    W = DUP_CHUNK_TOKENS
    n = F.floor(F.size("__toks") / W).cast("int")
    idxs = F.when(n >= 1, F.sequence(F.lit(0), n - 1)) \
            .otherwise(F.array().cast("array<int>"))
    # array_except is hash-based (build a set from `rem`, probe per chunk
    # index) and preserves the left array's order; both sides are distinct
    # and idxs is ascending, so semantics match the per-element filter it
    # replaced — without the O(n_chunks * n_removed) per-doc scan that a
    # fully-duplicated 1e5-chunk document would pay under array_contains
    # (VERDICT r12 item 1; massdup spans probe measures the flat cost).
    kept_idx = F.array_except(idxs, F.col("rem"))
    kept_toks = F.flatten(F.transform(
        kept_idx, lambda i: F.slice("__toks", i * W + 1, W)))
    tail = F.slice("__toks", n * W + 1, F.size("__toks") - n * W)
    out = (base
           .join(removed, "doc_id", "left")
           .withColumn("rem", F.coalesce(
               "rem", F.array().cast("array<int>")))
           .select("doc_id",
                   n.cast("long").alias("n_chunks"),
                   F.size("rem").cast("long").alias("n_removed"),
                   # null-text docs: a NULL token array propagates NULL
                   # through concat/array_join, but the operator contract
                   # (the oracle's coalesce(..., '')) is an EMPTY cleaned
                   # stream — the null-injected sweep caught the Spark
                   # side missing the matching coalesce (r18)
                   F.coalesce(
                       F.array_join(F.concat(kept_toks, tail), " "),
                       F.lit("")).alias("cleaned_text")))
    return out.orderBy("doc_id") if ordered else out


DOC_DEDUP_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
chunks AS (
  SELECT doc_id, CAST(u.i AS INT) AS i, u.h AS h FROM (
    SELECT doc_id,
           unnest([{{'i': i,
                     'h': md5(array_to_string(
                            t[i*{DUP_CHUNK_TOKENS}+1 :
                              (i+1)*{DUP_CHUNK_TOKENS}], ' '))}}
                   for i in generate_series(
                        0, len(t) // {DUP_CHUNK_TOKENS} - 1)]) AS u
    FROM toks WHERE len(t) >= {DUP_CHUNK_TOKENS})),
owners AS (
  SELECT h, count(*) AS cnt,
         min({{'doc_id': doc_id, 'i': i}}) AS own
  FROM chunks GROUP BY 1),
removed AS (
  SELECT c.doc_id, list_sort(list(c.i)) AS rem
  FROM chunks c JOIN owners o USING (h)
  WHERE o.cnt > 1
    AND NOT (c.doc_id = o.own.doc_id AND c.i = o.own.i)
  GROUP BY 1)
SELECT d.doc_id,
       CAST(len(t) // {DUP_CHUNK_TOKENS} AS BIGINT) AS n_chunks,
       CAST(coalesce(len(rem), 0) AS BIGINT) AS n_removed,
       coalesce(array_to_string(
         flatten([t[i*{DUP_CHUNK_TOKENS}+1 : (i+1)*{DUP_CHUNK_TOKENS}]
                  for i in generate_series(
                       0, len(t) // {DUP_CHUNK_TOKENS} - 1)
                  if NOT list_contains(coalesce(rem, []), i)])
         || t[(len(t) // {DUP_CHUNK_TOKENS}) * {DUP_CHUNK_TOKENS} + 1 :],
         ' '), '') AS cleaned_text
FROM toks d LEFT JOIN removed USING (doc_id)
ORDER BY doc_id
"""


def doc_dedup_spans_incremental_df(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Ingestion-time duplicate-span removal — the production twin of
    :func:`doc_dedup_spans_df`: only the INCOMING batch (doc_id >=
    INGESTED_BELOW) is chunked, cleaned, and emitted.  A batch chunk
    occurrence is removed when its hash exists in the already-ingested
    corpus's chunk-hash index (the corpus holds the canonical copy —
    corpus ids precede batch ids, so this IS the global least-owner
    rule) OR when an earlier batch occurrence (least (doc_id, i) within
    the batch) owns it.  Therefore the result provably EQUALS the batch
    operator restricted to batch docs (pytest-pinned), the same
    restriction contract as the other three incremental dedup twins.

    Scale shape: the corpus side is its DISTINCT 16-byte chunk-hash
    column only — the persisted index of
    :func:`doc_dup_chunk_fraction_incremental_df`, written once and
    appended per batch; ingestion never re-chunks or re-reads corpus
    text.  Batch chunk rows shuffle on the hash (owner min + index
    probe) and the removal lists on doc_id — all batch-sized."""
    from ..functions.spread import spread_source

    docs = _docs(spark, sf_dir)
    corpus_h = (_chunk_hashes(docs.where(F.col("doc_id") < INGESTED_BELOW))
                .select("h").distinct())
    base = (spread_source(docs.where(F.col("doc_id") >= INGESTED_BELOW),
                          f"{sf_dir}/documents.parquet")
            .select("doc_id", tokens(F.col("text")).alias("__toks")))
    removed = _span_removal_lists(
        _chunks_from_tokens(base, with_index=True), corpus_h)
    return _spans_cleaned(base, removed)


def _span_removal_lists(chunks: DataFrame,
                        corpus_h: DataFrame) -> DataFrame:
    """Per-doc removal lists for a batch's (doc_id, i, h) chunk rows
    probed against a corpus chunk-hash set (a distinct ``h`` column):
    an occurrence is removed when its hash exists in the corpus (the
    corpus holds the canonical copy) OR an earlier batch occurrence
    (least (doc_id, i)) owns it.  ONE kernel shared by the incremental
    operator and the streaming twin (``streaming/dedup.py``) — the
    same single-implementation rationale as :func:`_spans_cleaned`."""
    own = (chunks.groupBy("h")
           .agg(F.min(F.struct("doc_id", "i")).alias("own")))
    return (chunks.join(own, "h")
            .join(corpus_h.withColumn("in_corpus", F.lit(True)),
                  "h", "left")
            .where(F.coalesce("in_corpus", F.lit(False))
                   | ~((F.col("doc_id") == F.col("own.doc_id"))
                       & (F.col("i") == F.col("own.i"))))
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("i")).alias("rem")))


DOC_DEDUP_SPANS_INCREMENTAL_SQL = f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens('text')} AS t FROM documents
  WHERE doc_id >= {INGESTED_BELOW}),
corpus_h AS (
  SELECT DISTINCT unnest(ch) AS h
  FROM (
    SELECT [md5(array_to_string(
              t[i*{DUP_CHUNK_TOKENS}+1 : (i+1)*{DUP_CHUNK_TOKENS}], ' '))
            for i in generate_series(0, len(t) // {DUP_CHUNK_TOKENS} - 1)]
             AS ch
    FROM (SELECT {sql_tokens('text')} AS t FROM documents
          WHERE doc_id < {INGESTED_BELOW})
    WHERE len(t) >= {DUP_CHUNK_TOKENS})),
chunks AS (
  SELECT doc_id, CAST(u.i AS INT) AS i, u.h AS h FROM (
    SELECT doc_id,
           unnest([{{'i': i,
                     'h': md5(array_to_string(
                            t[i*{DUP_CHUNK_TOKENS}+1 :
                              (i+1)*{DUP_CHUNK_TOKENS}], ' '))}}
                   for i in generate_series(
                        0, len(t) // {DUP_CHUNK_TOKENS} - 1)]) AS u
    FROM toks WHERE len(t) >= {DUP_CHUNK_TOKENS})),
owners AS (
  SELECT h, min({{'doc_id': doc_id, 'i': i}}) AS own
  FROM chunks GROUP BY 1),
removed AS (
  SELECT c.doc_id, list_sort(list(c.i)) AS rem
  FROM chunks c JOIN owners o USING (h)
  WHERE h IN (SELECT h FROM corpus_h)
     OR NOT (c.doc_id = o.own.doc_id AND c.i = o.own.i)
  GROUP BY 1)
SELECT d.doc_id,
       CAST(len(t) // {DUP_CHUNK_TOKENS} AS BIGINT) AS n_chunks,
       CAST(coalesce(len(rem), 0) AS BIGINT) AS n_removed,
       coalesce(array_to_string(
         flatten([t[i*{DUP_CHUNK_TOKENS}+1 : (i+1)*{DUP_CHUNK_TOKENS}]
                  for i in generate_series(
                       0, len(t) // {DUP_CHUNK_TOKENS} - 1)
                  if NOT list_contains(coalesce(rem, []), i)])
         || t[(len(t) // {DUP_CHUNK_TOKENS}) * {DUP_CHUNK_TOKENS} + 1 :],
         ' '), '') AS cleaned_text
FROM toks d LEFT JOIN removed USING (doc_id)
ORDER BY doc_id
"""


def doc_dup_chunk_fraction_incremental_df(spark: SparkSession,
                                          sf_dir: str) -> DataFrame:
    """Ingestion-time copy-fraction gate — the production steady-state
    twin of :func:`doc_dup_chunk_fraction_df`: only the INCOMING batch
    (doc_id >= INGESTED_BELOW) is chunked and scored; a batch chunk
    counts as duplicated if its hash exists in the already-ingested
    corpus's chunk-hash index OR in at least one other batch doc.

    Scale shape: the corpus side is its DISTINCT 16-byte chunk-hash
    column only — at scale a persisted index written once and appended
    per batch (the dedup_incremental hash-set / minhash band-index
    lifecycle), so ingestion never re-chunks the corpus.  The batch's
    chunk rows shuffle twice on the hash (in-batch doc count + index
    probe join) and once on doc_id for the rollup — all batch-sized;
    the index side shuffles only hashes.  Here the index is derived
    from the same documents table so the oracle can reproduce it."""
    docs = _docs_wide(spark, sf_dir)
    index = (_chunk_hashes(docs.where(F.col("doc_id") < INGESTED_BELOW))
             .select("h").distinct()
             .withColumn("__in_corpus", F.lit(True)))
    batch = _chunk_hashes(docs.where(F.col("doc_id") >= INGESTED_BELOW))
    in_batch = (batch.groupBy("h")
                .agg(F.countDistinct("doc_id").alias("__nb")))
    dup = F.coalesce("__in_corpus", F.lit(False)) | (F.col("__nb") > 1)
    per_doc = (batch.join(in_batch, "h")
               .join(index, "h", "left")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_chunks"),
                    F.sum(dup.cast("int")).cast("long")
                    .alias("n_dup_chunks")))
    frac = F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6)
    return (per_doc
            .select("doc_id", "n_chunks", "n_dup_chunks",
                    frac.alias("dup_fraction"),
                    (frac < DUP_CHUNK_MAX_FRACTION).alias("keep"))
            .orderBy("doc_id"))


DOC_DUP_CHUNK_FRACTION_INCREMENTAL_SQL = f"""
WITH chunks AS (
  SELECT doc_id, unnest(ch) AS h
  FROM (
    SELECT doc_id,
           [md5(array_to_string(
              t[i*{DUP_CHUNK_TOKENS}+1 : i*{DUP_CHUNK_TOKENS}+{DUP_CHUNK_TOKENS}],
              ' '))
            for i in generate_series(0, len(t) // {DUP_CHUNK_TOKENS} - 1)]
             AS ch
    FROM (SELECT doc_id, {sql_tokens('text')} AS t FROM documents)
    WHERE len(t) >= {DUP_CHUNK_TOKENS})),
idx AS (
  SELECT DISTINCT h FROM chunks WHERE doc_id < {INGESTED_BELOW}),
batch AS (
  SELECT doc_id, h FROM chunks WHERE doc_id >= {INGESTED_BELOW}),
in_batch AS (
  SELECT h, count(DISTINCT doc_id) AS nb FROM batch GROUP BY 1),
per_doc AS (
  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(sum(CASE WHEN idx.h IS NOT NULL OR nb.nb > 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
  FROM batch b
  JOIN in_batch nb USING (h)
  LEFT JOIN idx ON idx.h = b.h
  GROUP BY 1)
SELECT doc_id, n_chunks, n_dup_chunks,
       round(n_dup_chunks * 1.0 / n_chunks, 6) AS dup_fraction,
       round(n_dup_chunks * 1.0 / n_chunks, 6) < {DUP_CHUNK_MAX_FRACTION}
         AS keep
FROM per_doc ORDER BY doc_id
"""


DEDUP_MINHASH_LSH_DELETED_SQL = f"""
SELECT * FROM ({DEDUP_MINHASH_LSH_SQL})
WHERE doc_a != {DELETED_DOC_ID} AND doc_b != {DELETED_DOC_ID}
"""


def dedup_clusters_deleted_df(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Derived-table delete propagation as a driver-checkable row
    (VERDICT r13 item 5): the cluster table is never patched in place
    — a cluster_id is the min doc id of its component, so deleting a
    representative would orphan the label — it REBUILDS from the
    already-tombstone-filtered pair set (the contract the
    :mod:`~ringo_spark.operators.deletion` module doc states).  This
    query runs exactly that rebuild: label propagation over the pairs
    the del-tagged index serves AFTER the demo doc's tombstone, so the
    oracle is components over the filtered pair set — i.e. rebuild ==
    never-having-indexed the document, including re-elected
    representatives and components the deletion splits in two."""
    return dedup_clusters_df(
        spark, sf_dir,
        pairs_df=dedup_minhash_lsh_deleted_df(spark, sf_dir))


DEDUP_CLUSTERS_DELETED_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_LSH_DELETED_SQL})),
sym AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs),
reach AS (
  SELECT s AS doc, s AS r FROM sym
  UNION
  SELECT reach.doc, sym.d FROM reach JOIN sym ON reach.r = sym.s)
SELECT doc AS doc_id, min(r) AS cluster_id
FROM reach GROUP BY doc
"""


def dedup_embedding_clusters_df(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Embedding-modality near-dup CLUSTERS: min-label connected
    components over the LSH-verified cosine pair graph — the semantic
    (paraphrase/translation) twin of :func:`dedup_clusters_df`, which
    sees only lexical MinHash pairs.  Reuses the identical propagation
    kernel, so the O(log diameter) rounds and edge-only shuffles carry
    over; the pair graph comes from the registered embedding scale path
    (:func:`dedup_embedding_lsh_df`), never the quadratic baseline."""
    pairs = dedup_embedding_lsh_df(spark, sf_dir).selectExpr(
        "vec_a AS doc_a", "vec_b AS doc_b")
    return (dedup_clusters_df(spark, sf_dir, pairs_df=pairs)
            .selectExpr("doc_id AS vec_id", "cluster_id"))


DEDUP_EMBEDDING_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT vec_a, vec_b FROM ({DEDUP_EMBEDDING_LSH_SQL})),
sym AS (
  SELECT vec_a AS s, vec_b AS d FROM pairs
  UNION ALL
  SELECT vec_b AS s, vec_a AS d FROM pairs),
reach AS (
  SELECT s AS vec, s AS r FROM sym
  UNION
  SELECT reach.vec, sym.d FROM reach JOIN sym ON reach.r = sym.s)
SELECT vec AS vec_id, min(r) AS cluster_id
FROM reach GROUP BY vec
"""
