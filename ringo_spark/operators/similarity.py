"""Similarity search over the ``embeddings`` table (array<float> column).

- ``ann_cosine_topk``   — brute-force cosine top-k: the exactness baseline.
  Query set broadcast against the corpus; per-query window ranks.  At scale
  the corpus scan is embarrassingly parallel and shuffle-free until the
  final per-query top-k (tiny).
- ``ann_lsh_bucketed``  — the sub-quadratic scale path: deterministic
  axis-aligned projection LSH (sign bits of ``bits`` evenly-strided
  coordinates ⇒ ``2**bits`` buckets).  Both queries and corpus hash to
  buckets; candidates are searched only within the query's bucket.  The
  bucket join shuffles on a ``bits``-bit key instead of crossJoining,
  turning O(N·Q) into O(N·Q/2**bits) with per-bucket locality.

  **Sizing at scale**: the bucket count must grow with the corpus —
  target ``2**bits ≈ N / bucket_target``.  Since r12 that rule is
  AUTOMATED: ``bits=None`` (the default) resolves through
  :func:`auto_lsh_bits` — a conf-keyed gate over a free row estimate
  (optimizer rowCount / parquet footers) with the pinned constant as
  floor, so contract-size results are bit-identical to the pinned
  width while larger corpora get log2-growth bucket counts.  The
  bucket target is a constant (``ANN_BUCKET_TARGET_ROWS`` = 2), not
  an option: it keeps the contract corpus at its pinned 8-bit width
  and suits exact-rerank top-k where multiprobe recovers recall, and
  the oracle SQL derives the same width from it.  The dim clamp
  (bits ≤ 64) caps the width.  The
  driver-registered entries prove correctness at two widths (the
  auto-resolved 8 and an explicit 12).  (A production IVF would learn
  centroids; the fixed projection keeps the operator deterministic
  and oracle-checkable.)

- ``ann_lsh_multiprobe`` — same index, higher recall: each query also
  probes the ``bits`` Hamming-distance-1 buckets (flip one sign bit).
  Probe expansion happens on the (tiny, broadcast) query side only — the
  corpus still stores exactly one row per vector, so the scan cost is
  unchanged and recall loss from near-hyperplane points is recovered.

All deterministic ⇒ all hash-checked against DuckDB.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..catalog import read_parquet_stable as _rps

from .. import index_lifecycle as _ilc
from ..functions.localrel import literal_df
from .deletion import STATS_SIDECAR
from .textfn import cosine, cosine_pre, sql_cosine, vnorm

TOP_K = 10
N_QUERIES = 5
LSH_TOP_K = 5
LSH_N_QUERIES = 20
LSH_BITS = 8         # default projection width: 2^8 = 256 buckets
EMB_DIM = 64         # testdata embedding dimensionality


# --- corpus-sized bucket width (the auto-gate; VERDICT r11 item 1) ----------
#
# `bits` must grow with the corpus (2^bits ≈ N / bucket_target) or the
# bucket join's candidate volume grows ~N²/2^bits — the r11 ingest probe
# MEASURED that consequence at fixed bits.  Like the dim-id scale gate
# (populate/dimension.py ringo.dimIdSingleSortMaxBytes), the width is now
# conf-keyed and derived from a FREE row estimate — no Spark job:
# optimizer rowCount when the catalog has stats (ANALYZE TABLE / CBO on a
# real deployment), else the parquet footer metadata row count (exact,
# driver-side, O(#files)).  The pinned constants (LSH_BITS / dedup's
# EMB_LSH_BITS) become the FLOOR: the gate never sizes COARSER than the
# contract configuration, so every contract-size result — and the static
# oracle SQL, which encodes the contract width — is bit-identical to the
# pinned behavior (pytest equality pin), while a larger corpus gets
# log2-growth bucket counts and flat per-row candidate volume.
LSH_AUTO_BITS_CONF_KEY = "ringo.lshAutoBits"        # "false" => pinned floors
LSH_CORPUS_ROWS_CONF_KEY = "ringo.lshCorpusRows"    # explicit N override
# The bucket targets are constants, not options: the oracle SQL
# (sql_auto_bits_cte) derives its width from the same value, so any
# other target would silently break cell-exactness.
ANN_BUCKET_TARGET_ROWS = 2   # top-k search wants fine buckets (the pinned
                             # 8-bit width ≈ 2 vectors/bucket on the
                             # 500-vector contract corpus)


# path -> (validator, row count); one entry per path (the validator is
# compared on lookup, so repeated appends never grow the dict)
_META_ROWS_CACHE: dict[str, tuple] = {}


def _meta_rows_validator(path: str) -> tuple:
    """Freshness token for the footer-count cache: the path's own
    (mtime_ns, size) plus, for directories, the ``_SUCCESS`` marker's
    (mtime_ns, size) when present.  Spark's own write paths always move
    one of these — a new file in the dir bumps the dir mtime, an
    overwrite rewrites ``_SUCCESS`` — so Spark-managed corpora
    invalidate naturally.  An EXTERNAL in-place rewrite of part files
    deep in partition subdirs with preserved timestamps is outside this
    token's reach (the same boundary the index source-fingerprint has);
    such pipelines should set ``ringo.lshCorpusRows`` explicitly or
    touch the corpus root."""
    st = os.stat(path)
    token = [st.st_mtime_ns, st.st_size]
    if os.path.isdir(path):
        marker = os.path.join(path, "_SUCCESS")
        try:
            ms = os.stat(marker)
            token += [ms.st_mtime_ns, ms.st_size]
        except OSError:
            pass
    return tuple(token)


def _parquet_meta_rows(path: str) -> int:
    """Exact row count from parquet footer metadata — driver-side, no
    Spark job.  Handles both a single file and a directory tree of part
    files (e.g. a `partitionBy` index or a multi-part write).

    Cached per path with a stat validator (see
    :func:`_meta_rows_validator`): the auto gates call this on every
    query construction, and at real scale the footer walk is O(#files)
    — the cache makes repeat queries over an unchanged corpus free."""
    key = os.path.abspath(path)
    validator = _meta_rows_validator(path)
    hit = _META_ROWS_CACHE.get(key)
    if hit is not None and hit[0] == validator:
        return hit[1]
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        total = pq.ParquetFile(path).metadata.num_rows
    else:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(root, f)).metadata.num_rows
    _META_ROWS_CACHE[key] = (validator, total)
    return total


def _data_meta_rows(path: str) -> int:
    """Footer row count of an index's DATA files only: underscore
    sidecars (``_centroids``, ``_codebooks``, ``_stats``,
    ``_tombstones``) are metadata Spark's data discovery skips, so the
    sidecar-validity check (does the stats log cover every data row?)
    must skip them too — :func:`_parquet_meta_rows` counts everything
    and would double-count.  Driver-side footer walk, no Spark job;
    cached per path with the same stat validator as
    :func:`_parquet_meta_rows` (appends bump the root ``_SUCCESS``
    mtime, builds rewrite it — both flip the validator)."""
    import pyarrow.parquet as pq

    key = ("data", os.path.abspath(path))
    validator = _meta_rows_validator(path)
    hit = _META_ROWS_CACHE.get(key)
    if hit is not None and hit[0] == validator:
        return hit[1]
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                total += pq.ParquetFile(
                    os.path.join(root, f)).metadata.num_rows
    _META_ROWS_CACHE[key] = (validator, total)
    return total


def _read_stats_log(stats_path: str):
    """Driver-side exact read of a tiny stats sidecar log (K-ish rows
    per build/append epoch — index metadata, never data-sized): a
    pyarrow Table, or None when the sidecar is absent, incomplete (no
    ``_SUCCESS`` — a torn write), or unreadable (a crash mid-append can
    leave a partial part file; the caller falls back to rescanning the
    index, which is always correct)."""
    if not os.path.exists(os.path.join(stats_path, "_SUCCESS")):
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = []
    try:
        for root, _dirs, files in os.walk(stats_path):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    tables.append(pq.read_table(os.path.join(root, f)))
        if not tables:
            return None
        # permissive promotion: epochs written by different plan shapes
        # legitimately differ in footer NULLABILITY metadata (e.g. a
        # cached lineage drops count(*)'s not-null flag — r19 review),
        # and the strict concat threw OUTSIDE the old try, crashing the
        # report path instead of falling back to the rescan
        return pa.concat_tables(tables, promote_options="permissive")
    except (OSError, pa.ArrowException):   # torn or unreadable part file
        return None


def corpus_rows_estimate(df: DataFrame, path: str | None = None) -> int | None:
    """Free (no-job) corpus row count: Catalyst's optimizer rowCount when
    defined (CBO / ANALYZE TABLE stats — the real-cluster source), else
    the parquet footer metadata of ``path``.  None when neither is
    available — callers fall back to their pinned configuration."""
    import pyarrow as pa
    from py4j.protocol import Py4JJavaError

    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        if rc.isDefined():
            return int(rc.get())
    except Py4JJavaError:   # the plan's statistics could not be computed
        pass
    if path is not None:
        try:
            return _parquet_meta_rows(path)
        except (OSError, pa.ArrowInvalid):  # missing or not parquet
            return None
    return None


def _resolve_corpus_rows(conf, n_rows) -> int | None:
    """Shared N resolution for the auto gates: the
    ``ringo.lshCorpusRows`` override wins; otherwise ``n_rows`` — which
    may be a CALLABLE so the (footer-walk / analyze) estimate is only
    paid when a gate actually needs it, not when the kill switch or
    the override decides first (r12 review finding)."""
    n_conf = conf.get(LSH_CORPUS_ROWS_CONF_KEY, None)
    if n_conf is not None:
        return int(n_conf)
    return n_rows() if callable(n_rows) else n_rows


def _corpus_rows(spark: SparkSession, sf_dir: str):
    """Lazy free row estimate over the embeddings table — the one
    incantation every auto gate shares (similarity bits, dedup bits,
    IVF K)."""
    def estimate() -> int | None:
        path = f"{sf_dir}/embeddings.parquet"
        return corpus_rows_estimate(_rps(spark, path), path)
    return estimate


def auto_lsh_bits(spark: SparkSession, n_rows, floor_bits: int,
                  target_rows: int, dim: int = EMB_DIM) -> int:
    """``max(floor, ceil(log2(N / bucket_target)))`` clamped to the
    embedding dimensionality — the corpus-sized projection width.
    ``ringo.lshAutoBits=false`` pins the floor (legacy behavior);
    ``ringo.lshCorpusRows`` overrides N (catalog-known cardinality, or a
    test hook).  ``n_rows`` may be an int or a lazy callable.  With no
    estimate at all, the floor is the honest answer."""
    conf = spark.conf
    if str(conf.get(LSH_AUTO_BITS_CONF_KEY, "true")).lower() == "false":
        return floor_bits
    n = _resolve_corpus_rows(conf, n_rows)
    if not n or n <= 0:
        return floor_bits
    bits = math.ceil(math.log2(max(1.0, n / target_rows)))
    return max(floor_bits, min(dim, bits))


def _auto_ann_bits(spark: SparkSession, sf_dir: str) -> int:
    return auto_lsh_bits(spark, _corpus_rows(spark, sf_dir),
                         LSH_BITS, ANN_BUCKET_TARGET_ROWS)


def bucket_coordinates(bits: int, dim: int = EMB_DIM) -> list[int]:
    """``bits`` 1-based coordinate picks, evenly strided across the vector
    (bits=8, dim=64 -> [1, 9, 17, ..., 57])."""
    if not 1 <= bits <= dim:
        raise ValueError(f"bits must be in [1, {dim}], got {bits}")
    stride = dim // bits
    return [1 + j * stride for j in range(bits)]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rps(spark, f"{sf_dir}/embeddings.parquet")


def _emb_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings corpus split for the Arrow-kernel lanes (r20):
    at the ``ARROW_KERNEL_BYTES`` floor the MB-scale local corpus stays
    ONE task (the kernel scores it in milliseconds) while any real
    under-split corpus still fans out to full parallelism."""
    from ..functions.spread import ARROW_KERNEL_BYTES, spread_source

    return spread_source(_emb(spark, sf_dir),
                         f"{sf_dir}/embeddings.parquet",
                         bytes_per_task=ARROW_KERNEL_BYTES)


def _emb_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings corpus widened across cores when its scan is
    under-split (r19 opt, guide §2): every corpus-side consumer here
    runs dim-64 interpreted folds per row (cosine scoring, argmax cell
    assignment, signature hashing) — pure CPU that nothing downstream
    re-parallelizes now that the assignment paths are map-only, so an
    under-split scan pins seconds of vector math to one core.
    Query-side frames (a handful of filtered vectors) keep the plain
    ``_emb`` scan — widening them would buy nothing and cost an
    exchange."""
    from ..functions.spread import INTERPRETED_FOLD_BYTES, spread_source

    return spread_source(_emb(spark, sf_dir),
                         f"{sf_dir}/embeddings.parquet",
                         bytes_per_task=INTERPRETED_FOLD_BYTES)


def _audit_queries(emb: DataFrame, n_queries: int, *extra) -> DataFrame:
    """(q_id, q_emb, *extra) for the first ``n_queries`` vectors of
    ``emb``: the audit query set every ANN lane searches and every
    recall contract scores.  ``extra`` columns are evaluated against
    ``emb`` (a query's bucket, its norm).  Spelled as SQL strings: one
    JVM call each instead of a Column call per name and alias."""
    return (emb.where(f"vec_id < {int(n_queries)}")
            .select(F.expr("vec_id AS q_id"), F.expr("embedding AS q_emb"),
                    *extra))


def _seed_centroids(emb: DataFrame, k: int) -> DataFrame:
    """(cid, cvec): the deterministic seed centroids, the first ``k``
    vectors of ``emb``."""
    return (emb.where(f"vec_id < {int(k)}")
            .selectExpr("vec_id AS cid", "embedding AS cvec"))


def _top_k(scored: DataFrame, k: int, *extra, score: str = "cosine",
           rank: str = "rank") -> DataFrame:
    """The ANN family's one rank policy: per ``q_id``, the ``k`` rows of
    highest ``score``, ties to the smaller ``n_id``, numbered 1..k in
    ``rank``.  Returns (q_id, n_id, rank, score, *extra); a query with
    fewer than ``k`` rows keeps them all."""
    w = Window.partitionBy("q_id").orderBy(F.desc(score), F.asc("n_id"))
    return (scored.withColumn(rank, F.row_number().over(w))
            .where(F.col(rank) <= k)
            .select("q_id", "n_id", rank, score, *extra))


def _score_candidates(corpus: DataFrame, probes: DataFrame,
                      key: str) -> DataFrame:
    """(q_id, n_id, cosine) for every corpus row that shares its ``key``
    (LSH bucket or IVF cell) with a probe row, q_id != n_id.  The corpus
    side carries (vec_id, embedding, key, __nn) and the broadcast probe
    side (q_id, q_emb, key, __qn): both norms are hoisted per row, so
    each pair folds only its dot product before the round(cosine, 6)."""
    return (corpus.selectExpr("vec_id AS n_id", "embedding AS n_emb", key,
                              "__nn")
            .join(F.broadcast(probes), key)
            .where(F.col("q_id") != F.col("n_id"))
            .select("q_id", "n_id",
                    F.round(cosine_pre(F.col("q_emb"), F.col("n_emb"),
                                       F.col("__qn"), F.col("__nn")), 6)
                    .alias("cosine")))


def _recall_bounds(emb: DataFrame, truth: DataFrame, found: DataFrame,
                   n_queries: int, top_k: int, floor: float) -> DataFrame:
    """The recall contracts' shared tail: per audit query, how many of
    its ``truth`` (q_id, n_id) neighbors ``found`` recovers (``hits``),
    ``recall`` = hits / top_k, the ``mean_recall`` over all
    ``n_queries`` queries and ``meets_floor`` against ``floor``.  A
    query with no hit still gets its row (hits 0)."""
    q = _audit_queries(emb, n_queries).select("q_id")
    hits = (truth.join(found, ["q_id", "n_id"])
            .groupBy("q_id").agg(F.count(F.lit(1)).alias("h")))
    gw = Window.partitionBy()
    return (q.join(hits, "q_id", "left")
            .select("q_id",
                    F.coalesce(F.col("h"), F.lit(0)).cast("long")
                    .alias("hits"))
            .withColumn("recall", F.round(F.col("hits") / F.lit(top_k), 6))
            .withColumn("mean_recall", F.round(F.avg("recall").over(gw), 6))
            .withColumn("meets_floor", F.col("mean_recall") >= F.lit(floor))
            .orderBy("q_id"))


def _brute_scored_pairs(spark: SparkSession, sf_dir: str,
                        n_queries: int) -> DataFrame:
    """Shared brute-force audit scorer: (q_id, n_id, cosine) for the
    first ``n_queries`` query vectors against the whole corpus, q != n.

    r20 (guide §4, VERDICT r19 item 3): the Q x N pair scoring runs in
    the bit-exact Arrow/numpy kernel (functions/arrowkern.py — the
    same left-to-right fold, float-for-float; parity pinned in
    tests/test_arrow_parity.py) over the widened corpus scan, replacing
    the interpreted per-pair dim-64 fold of the r19 JVM lane.  The
    query set is the bounded audit contract (Q = 5..20 rows), collected
    once at construction; round-6 stays a JVM expression, so the values
    the DuckDB oracle replays are unchanged."""
    from ..functions.arrowkern import brute_cosine_pairs, \
        collect_query_vectors

    q_rows = collect_query_vectors(
        _audit_queries(_emb(spark, sf_dir), n_queries), "q_id", "q_emb")
    return (brute_cosine_pairs(_emb_arrow(spark, sf_dir),
                               "vec_id", "embedding", q_rows)
            .select("q_id", "n_id",
                    F.round(F.col("__cos_raw"), 6).alias("cosine")))


def _brute_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, n_id): the exact top-LSH_TOP_K neighbors of the
    LSH_N_QUERIES audit queries, the recall contracts' brute-force
    ground truth (a Q x N audit scan, never a production path)."""
    return _top_k(_brute_scored_pairs(spark, sf_dir, LSH_N_QUERIES),
                  LSH_TOP_K).select("q_id", "n_id")


def ann_cosine_topk_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbors for the first 5 query vectors."""
    return _top_k(_brute_scored_pairs(spark, sf_dir, N_QUERIES), TOP_K)


ANN_COSINE_TOPK_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         round({sql_cosine('q.embedding', 'c.embedding')}, 6) AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERIES})
SELECT q_id, n_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id)
            AS INT) AS rank,
       cosine
FROM scored
QUALIFY rank <= {TOP_K}
"""


def _bucket_expr(col, bits: int = LSH_BITS):
    """Sign bits of ``bits`` strided coordinates -> bucket in [0, 2^bits)."""
    expr = F.lit(0)
    for j, d in enumerate(bucket_coordinates(bits)):
        expr = expr + F.when(
            F.element_at(col, d).cast("double") > 0, F.lit(1 << j)).otherwise(0)
    return expr


def ann_lsh_bucketed_df(spark: SparkSession, sf_dir: str,
                        bits: int | None = None) -> DataFrame:
    """Top-5 neighbors within the query's LSH bucket, first 20 queries.
    ``bits=None`` auto-sizes from the corpus row estimate (floor
    ``LSH_BITS`` — resolves to exactly ``LSH_BITS`` at the contract
    corpus size, which is what the static oracle SQL encodes)."""
    if bits is None:
        bits = _auto_ann_bits(spark, sf_dir)
    # corpus side deliberately NOT widened (r19 opt, measured): the
    # per-row work here is the bits-dot bucket hash plus cosine on the
    # few IN-BUCKET matches only — in a warm session that is cheaper
    # than the corpus-wide widening exchange (bench +0.27s when tried)
    emb = _emb(spark, sf_dir).withColumn(
        "bucket", _bucket_expr(F.col("embedding"), bits))
    # per-side norms hoisted (batch 8): computed once per corpus row,
    # folded once per IN-BUCKET pair instead of three times
    q = _audit_queries(emb, LSH_N_QUERIES, "bucket",
                       vnorm(F.col("embedding")).alias("__qn"))
    c = emb.withColumn("__nn", vnorm(F.col("embedding")))
    return _top_k(_score_candidates(c, q, "bucket"), LSH_TOP_K)


def ann_lsh_bucketed12_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 12-bit (4096-bucket) configuration of the same index —
    registered separately so correctness is proven at two bucket counts."""
    return ann_lsh_bucketed_df(spark, sf_dir, bits=12)


def ann_lsh_multiprobe_df(spark: SparkSession, sf_dir: str,
                          bits: int | None = None) -> DataFrame:
    """Multi-probe LSH: each query searches its own bucket plus every
    Hamming-distance-1 bucket.  A corpus vector matches at most one probe
    key (its single bucket), so no candidate dedup is needed.
    ``bits=None`` auto-sizes (see :func:`ann_lsh_bucketed_df`)."""
    if bits is None:
        bits = _auto_ann_bits(spark, sf_dir)
    emb = _emb(spark, sf_dir).withColumn(
        "bucket", _bucket_expr(F.col("embedding"), bits))
    probes = F.array(F.col("bucket"),
                     *[F.col("bucket").bitwiseXOR(F.lit(1 << j))
                       for j in range(bits)])
    q = _audit_queries(emb, LSH_N_QUERIES, F.explode(probes).alias("bucket"),
                       vnorm(F.col("embedding")).alias("__qn"))
    # corpus side deliberately not widened (see ann_lsh_bucketed_df);
    # per-side norms hoisted (batch 8)
    c = emb.withColumn("__nn", vnorm(F.col("embedding")))
    return _top_k(_score_candidates(c, q, "bucket"), LSH_TOP_K)


IVF_K = 16          # centroid-count FLOOR: the contract-corpus configuration
IVF_NPROBE = 2      # cells searched per query at the contract K

# --- corpus-sized centroid count (the IVF twin of auto_lsh_bits; r12) --------
#
# IVF's per-query scan cost is ~N/K + K, minimized at K ≈ sqrt(N) — the
# rule every ann_ivf docstring states ("production: ~sqrt(N)").  Like
# the LSH width, that rule is now a conf-keyed auto-gate over the same
# free row estimate: K = max(IVF_K, round(sqrt(N / divisor))), divisor
# 2 — calibrated so the 500-vector contract corpus resolves to
# EXACTLY the pinned K=16 (round(sqrt(250)) = 16; equality-pinned), so
# every hash-checked row and the K-shaped oracle SQL (including the
# replayed k-means trajectory) are bit-identical to the pinned
# behavior.  nprobe scales WITH K to hold the contract probe fraction
# (IVF_NPROBE / IVF_K of the cells), so recall does not silently decay
# as the gate widens the index.  Cell assignment (_with_cell) carries
# the centroids as broadcast data, so its plan does not grow with K.
IVF_AUTO_K_CONF_KEY = "ringo.ivfAutoK"            # "false" => pinned floor
# a constant, not an option: sql_auto_ivf_k_cte hard-codes the same
# divisor, so any other value silently breaks cell-exactness
IVF_SQRT_DIVISOR = 2
# Driver-memory ceiling on the auto-sized K (VERDICT r12 item 8): the
# Lloyd loop collects K×dim doubles per iteration (train_ivf_centroids
# — the ONLY driver-side state in the IVF family), so K is what bounds
# driver memory.  At the ceiling with dim=64 that is 2^20 × 64 × 8 B =
# 512 MiB/iter — large but survivable on any driver that runs 100 TB
# jobs; K = 2^20 cells also already serves a ~2·10^12-vector corpus at
# sqrt(N/2) sizing, past any corpus this engine targets.  A pathological
# ringo.lshCorpusRows override therefore clamps here instead of
# resolving to an OOM-sized K.
IVF_MAX_AUTO_K = 1 << 20


def auto_ivf_k(spark: SparkSession, n_rows,
               floor_k: int = IVF_K, exact: bool = False) -> int:
    """``min(MAX_AUTO_K, max(floor, round(sqrt(N / divisor))))`` — the
    corpus-sized centroid count, clamped at the driver-memory ceiling
    (see IVF_MAX_AUTO_K).  ``ringo.ivfAutoK=false`` pins the floor;
    ``ringo.lshCorpusRows`` (the shared corpus-rows hook) overrides N.
    ``n_rows`` may be an int or a lazy callable.

    ``exact=True`` says ``n_rows`` is a MEASURED count, not an
    estimate, and the ``lshCorpusRows`` override must not beat it (r19
    review): the hook exists to stand in for a missing/stale footer
    estimate, but :func:`retrain_ivf_index` counts the index's own
    live rows and :func:`ann_index_staleness_df` counts its exact half
    — with the hook set (external-rewrite pipelines), an
    estimate-scoped override re-sizing a 10k-row retrain at 1e9 rows
    produces a degenerate one-row-per-cell index, and the staleness
    row diverges from its count(*)-derived oracle."""
    conf = spark.conf
    if str(conf.get(IVF_AUTO_K_CONF_KEY, "true")).lower() == "false":
        return floor_k
    n = (n_rows() if callable(n_rows) else n_rows) if exact \
        else _resolve_corpus_rows(conf, n_rows)
    if not n or n <= 0:
        return floor_k
    return min(IVF_MAX_AUTO_K,
               max(floor_k, round(math.sqrt(n / IVF_SQRT_DIVISOR))))


def _auto_ivf_k(spark: SparkSession, sf_dir: str) -> int:
    return auto_ivf_k(spark, _corpus_rows(spark, sf_dir))


def _auto_nprobe(k: int, base: int) -> int:
    """Probe width at centroid count ``k``, holding the CONTRACT probe
    fraction (``base`` of ``IVF_K`` cells): at the contract K this is
    exactly ``base``, at a gate-widened K the same fraction of cells —
    per-query candidate volume stays ~(base/IVF_K)·N instead of
    collapsing as 2 fixed cells of an ever-finer index."""
    return max(base, math.ceil(base * k / IVF_K))


def sql_auto_ivf_k_cte() -> str:
    """DuckDB twin of :func:`auto_ivf_k` at default conf, as a 1-row
    CTE body ``kk(k)`` — the IVF analog of :func:`sql_auto_bits_cte`
    (VERDICT r13 item 1 extended to the whole vector family): derive K
    from ``count(*)`` exactly as the Spark gate does, so every IVF
    oracle constrains its operator at EVERY scale factor instead of
    hard-coding the contract K.  ``round()`` never straddles an engine
    difference because sqrt(N/divisor) can never land exactly on .5."""
    return (f"SELECT least({IVF_MAX_AUTO_K}, greatest({IVF_K}, "
            f"CAST(round(sqrt(count(*) / {IVF_SQRT_DIVISOR}.0), 0) "
            f"AS INT))) AS k FROM embeddings")


def sql_auto_nprobe_cte(base: int) -> str:
    """``np(nprobe)`` — :func:`_auto_nprobe`'s contract probe fraction
    at the kk-derived K (requires ``kk`` in scope)."""
    return (f"SELECT greatest({base}, "
            f"CAST(ceil({base} * k * 1.0 / {IVF_K}) AS INT)) AS nprobe "
            f"FROM kk")


def ann_ivf_df(spark: SparkSession, sf_dir: str, k: int | None = None,
               nprobe: int | None = None) -> DataFrame:
    """IVF-style ANN: partition the corpus into K centroid cells, search
    only the query's ``nprobe`` nearest cells (auto-default: the
    contract probe fraction — ceil(IVF_NPROBE·k/IVF_K)).  Centroids are
    deterministic seeds (the first K vectors) so the whole index is a
    pure function of the data and oracle-checkable; production swaps in
    k-means centroids — every other step is unchanged.

    Scale shape: cell assignment is a broadcast of K centroids against a
    map-side corpus scan with a partial-aggregate argmax (one shuffle of
    (vec_id, cell) pairs, never of vectors); at scale the assignment is
    written once with ``cell`` as the partition column so queries prune
    straight to their probed cells.  ``k=None``/``nprobe=None``
    auto-size from the corpus estimate (floor = the contract K=16 /
    its probe fraction; see :func:`auto_ivf_k`)."""
    if k is None:
        k = _auto_ivf_k(spark, sf_dir)
    if nprobe is None:
        nprobe = _auto_nprobe(k, IVF_NPROBE)
    emb = _emb(spark, sf_dir)
    cent = _seed_centroids(emb, k)
    # map-only argmax (_with_cell): the assignment carries the
    # embedding through, so there is no cells-to-emb join-back.  The
    # corpus scan is widened first (see _emb_wide): the scoring is pure
    # map CPU that nothing downstream re-parallelizes.  The row norm is
    # kept and reused by the candidate scoring below.
    cells = _with_cell(_emb_wide(spark, sf_dir), cent, keep_norm="__nn")

    # per-probe-row q norm (Q x nprobe rows — metadata scale)
    probes = _probe_cells(_audit_queries(emb, LSH_N_QUERIES), cent, nprobe) \
        .withColumn("__qn", vnorm(F.col("q_emb")))
    return _top_k(_score_candidates(cells, probes, "cell"), LSH_TOP_K)


ANN_IVF_SQL = f"""
WITH kk AS ({sql_auto_ivf_k_cte()}),
np AS ({sql_auto_nprobe_cte(IVF_NPROBE)}),
cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings, kk
  WHERE vec_id < kk.k),
cells AS (
  SELECT vec_id,
         max({{'s': round({sql_cosine('e.embedding', 'c.cvec')}, 6),
              'cid': c.cid}}).cid AS cell
  FROM embeddings e CROSS JOIN cent c
  GROUP BY vec_id),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.vec_id AS q_id, c.cid AS cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round({sql_cosine('q.embedding', 'c.cvec')}, 6) DESC,
                      c.cid DESC) AS pr
    FROM embeddings q CROSS JOIN cent c
    WHERE q.vec_id < {LSH_N_QUERIES}), np
  WHERE pr <= np.nprobe),
cand AS (
  SELECT p.q_id, e.vec_id AS n_id,
         round({sql_cosine('qe.embedding', 'e.embedding')}, 6) AS cosine
  FROM probes p
  JOIN cells ON cells.cell = p.cell
  JOIN embeddings e ON e.vec_id = cells.vec_id
  JOIN embeddings qe ON qe.vec_id = p.q_id
  WHERE p.q_id != e.vec_id)
SELECT q_id, n_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id)
            AS INT) AS rank,
       cosine
FROM cand
QUALIFY rank <= {LSH_TOP_K}
"""


# --- IVF persisted index ----------------------------------------------------
#
# ``ann_ivf_df`` above recomputes the cell assignment and re-joins the full
# corpus per query batch — fine as the index-build *oracle*, a full-corpus
# exchange per search at scale.  The persisted path below is the production
# shape: the assignment is computed ONCE (map-only argmax over broadcast
# centroid data — no shuffle of vectors, no groupBy) and written
# ``partitionBy("cell")``; every later query prunes straight to its probed
# cells at the parquet scan (PartitionFilters — asserted in test_plans).

# inside the repo tree (scratch indexes must not land outside it);
# at real scale this is an object-store prefix
IVF_INDEX_ROOT = os.path.join(_ilc.repo_root(), ".ivf_index")

# writer tasks per index cell/bucket at build time: a hot cell's rows are
# salted over this many writers so one giant cell (clustered embeddings,
# hot LSH buckets) can't serialize the build; the partitionBy layout is
# unchanged — each cell dir just holds up to this many files
BUILD_WRITERS_PER_CELL = 4


def _write_index(rows: DataFrame, key: str, path: str, mode: str) -> None:
    """Write index ``rows`` ``partitionBy(key)`` — the one salted layout
    every IVF/LSH/PQ build, append, retrain and rebucket shares: the
    ``repartition(key, pmod(vec_id, BUILD_WRITERS_PER_CELL))`` gives
    each cell/bucket up to that many writer tasks, and is the one
    shuffle of the write."""
    (rows.repartition(F.col(key),
                      F.pmod(F.col("vec_id"), F.lit(BUILD_WRITERS_PER_CELL)))
     .write.mode(mode).partitionBy(key).parquet(path))


def _stored_centroids(path: str, sidecar: str = "_centroids") -> list:
    """The rows of a centroid sidecar as tuples in file column order,
    sorted: an index's ``_centroids`` gives (cid, cvec), a PQ index's
    ``_codebooks`` (m, cid, cvec), and a trained-centroid dir's
    ``centroids.parquet`` (cid, cvec).  Read driver-side with pyarrow:
    K x dim numbers of index metadata, no Spark job.  Values are the
    stored ones bit for bit (a float32 vector reads as the same values
    in Python floats)."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(path, sidecar))
    return sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def _cb_df(spark: SparkSession, rows) -> DataFrame:
    """The (m, cid, cvec) PQ codebook relation from driver-side rows."""
    return literal_df(spark, [(int(m), int(c), [float(x) for x in v])
                              for m, c, v in rows],
                      "m int, cid int, cvec array<double>")


def _coerce_to_stored(spark: SparkSession, index_path: str,
                      batch: DataFrame) -> DataFrame:
    """``batch`` as (vec_id, embedding) with the embedding cast to the
    stored files' type: a float/double mix across parquet files passes
    the write silently and then fails every vectorized read of the
    index (schema merge picks one physical type) — fail-safe at admit
    time instead."""
    from .deletion import read_index

    stored_t = read_index(spark, index_path).schema["embedding"].dataType
    return batch.select(
        "vec_id", F.col("embedding").cast(stored_t).alias("embedding"))


# Lifecycle mechanics (fingerprint tag, LRU GC, liveness touch) live in
# the shared kernel (ringo_spark/index_lifecycle.py, VERDICT r14 item 3);
# the historical names below stay importable — every index module and
# test reached them through this module before the extraction.
gc_index_root = _ilc.gc_index_root
_touch = _ilc.touch
_source_fingerprint = _ilc.source_fingerprint


def _ivf_centroid_rows(emb: DataFrame, k: int = IVF_K) -> list:
    """Deterministic seed centroids (first K vectors), collected — K rows,
    the planner-side metadata of the index."""
    return _seed_centroids(emb, k).collect()


# Ceiling for the literal-expression reference form below: each
# centroid adds a dim-wide array literal + a fold to the SAME expression
# tree, so plan size grows ~K x dim — fine at the contract K=16, a
# codegen/driver bottleneck at the ~sqrt(N) K a production index wants
# (r08/r09 VERDICT).  `_cell_expr` raises past the gate; every real
# caller assigns through `_with_cell`, whose centroids ride as broadcast
# data and whose plan does not grow with K.
CELL_ASSIGN_LITERAL_MAX_K = 64


def _cell_expr(cent_rows) -> F.Column:
    """Reference cell assignment as one Column: argmax cosine over K
    centroid literals, deterministic ties broken by max cid via
    lexicographic struct greatest — the assignment :func:`_with_cell`
    must reproduce (pytest-pinned equal for every caller).

    ``cent_rows``: (cid, cvec) pairs — collected Rows (field order cid,
    cvec) or plain tuples from :func:`train_ivf_centroids`.  Gated at
    CELL_ASSIGN_LITERAL_MAX_K."""
    if len(cent_rows) > CELL_ASSIGN_LITERAL_MAX_K:
        raise ValueError(
            f"_cell_expr builds a literal expression tree per centroid and "
            f"is gated at K={CELL_ASSIGN_LITERAL_MAX_K} (got "
            f"{len(cent_rows)}); use _with_cell (broadcast centroid data, "
            f"any K)")
    scs = []
    for cid, cvec_vals in cent_rows:
        cvec = F.array(*[F.lit(float(x)) for x in cvec_vals])
        s = F.round(cosine(F.col("embedding"), cvec), 6)
        scs.append(F.struct(s.alias("s"), F.lit(int(cid)).alias("cid")))
    return F.greatest(*scs).getField("cid") if len(scs) > 1 else scs[0].getField("cid")


def _cent_df(spark: SparkSession, rows) -> DataFrame:
    """The (cid, cvec) centroid relation from driver-side (cid, cvec)
    pairs — collected Rows or plain tuples."""
    return literal_df(spark,
                      [(int(c), [float(x) for x in v]) for c, v in rows],
                      "cid int, cvec array<double>")


def _cent_arr(cent_df: DataFrame, arr_col: str) -> DataFrame:
    """The (cid, cvec) centroid relation folded to ONE broadcastable row
    holding a cid-sorted ``array<struct<cid,cvec>>`` — the carrier of
    the map-only argmax form (r19 opt).  Scoring rides a broadcast
    nested-loop join against this single row plus an
    ``array_max(transform(...))`` projection, so cell assignment needs
    NO corpus shuffle, NO N x K row explosion, and no join-back — while
    the centroid VALUES stay data, keeping the generated code identical
    across Lloyd iterations (a literal expression tree recompiles
    per new centroid set, seconds of Janino per iteration).

    Each struct also carries the centroid's precomputed norm (``bnorm``
    — the same ``sqrt(dot(cvec, cvec))`` fold :func:`cosine` runs,
    evaluated ONCE per centroid here instead of once per (row,
    centroid) in the scoring lambda; r19 opt batch 8)."""
    return cent_df.agg(F.sort_array(F.collect_list(
        F.struct("cid", "cvec", vnorm(F.col("cvec")).alias("bnorm"))))
        .alias(arr_col))


def _argmax_score(arr_col: str, emb_col: str = "embedding",
                  *, norm_col: str):
    """``array_max`` over (round(cosine, 6), cid) structs — the same
    lexicographic argmax (max score, ties to max cid) as ``greatest``
    over structs in :func:`_cell_expr` and ``max(struct)`` in the
    oracle SQL (equality pytest-pinned).

    ``norm_col`` (REQUIRED — r20, ADVICE r19) names a column holding the
    row's precomputed :func:`vnorm` (r19 opt batch 8): higher-order
    folds are interpreted and never CSE'd, so an in-line :func:`cosine`
    would re-fold BOTH norms inside every centroid branch — 3x the
    fundamental dot-product work.  With the row norm hoisted to its own
    projection and the centroid norms riding the broadcast array
    (``bnorm``), only the K cross-dots remain per row.  Values are
    bit-identical either way (same sub-expressions evaluated once;
    pytest-pinned), so the oracle trajectory is unchanged."""
    score = lambda c: F.struct(  # noqa: E731
        F.round(cosine_pre(F.col(emb_col), c.getField("cvec"),
                           F.col(norm_col), c.getField("bnorm")), 6)
        .alias("s"),
        c.getField("cid").alias("cid"))
    return F.array_max(F.transform(F.col(arr_col), score))


def _with_cell(df: DataFrame, cent: DataFrame, out: str = "cell",
               keep_norm: str | None = None,
               keep_score: str | None = None) -> DataFrame:
    """``df`` + an ``out`` column holding each row's argmax-cosine cell
    id against the (cid, cvec) centroid relation ``cent`` — the ONE
    cell-assignment implementation (pytest-pinned equal to
    :func:`_cell_expr` through every caller).  The K centroids ride as
    broadcast DATA folded into one array<struct> row
    (:func:`_cent_arr`) and each row's cell is the
    :func:`_argmax_score` projection — MAP-ONLY: no corpus shuffle, no
    N x K row explosion, no join-back.  Plan size is independent of K,
    and the generated code is independent of the centroid VALUES (no
    per-iteration recompile in the Lloyd loop).

    ``keep_norm`` (r20, ADVICE r19): retain the row-norm projection the
    assignment already computed under this output column name, so
    callers that score candidates next reuse it instead of re-folding
    the identical dim-64 ``vnorm`` per corpus row.  ``keep_score``:
    also retain the winning round(cosine, 6) under this name (read from
    the same argmax struct — the staleness report's quantization
    error)."""
    ac, ab = f"__{out}_cents", f"__{out}_best"
    an = keep_norm or f"__{out}_anorm"
    assigned = (df.withColumn(an, vnorm(F.col("embedding")))
                .crossJoin(F.broadcast(_cent_arr(cent, ac)))
                .withColumn(ab, _argmax_score(ac, norm_col=an))
                .withColumn(out, F.col(ab).getField("cid")))
    if keep_score:
        assigned = assigned.withColumn(keep_score,
                                       F.col(ab).getField("s"))
    return assigned.drop(ac, ab, *([] if keep_norm else [an]))


def _probe_cells(q: DataFrame, cent: DataFrame, nprobe: int) -> DataFrame:
    """Per-query probe list shared by EVERY IVF serve path (r19 review:
    this block was copy-pasted four times with only the centroid source
    varying, and the r19 serve-path fix had to patch two copies
    individually): each query scores the K centroids with the oracle's
    round(cosine, 6) trajectory and keeps its ``nprobe`` nearest cells,
    ties to the larger cell id.  ``q`` carries (q_id, q_emb); ``cent``
    carries (cid, cvec).

    The queries must not shuffle here: the centroids ride as the one
    broadcast row of :func:`_cent_arr`, and each query keeps the first
    ``nprobe`` of its descending ``sort_array`` of (score, cell) structs
    (score desc, then cell desc).  With a shuffle on this side, adaptive
    execution re-plans the index serves' join broadcast after the
    shuffle runs, the dynamic pruning subquery no longer matches it,
    and the scan's pruning filter falls back to ``true``."""
    score = lambda c: F.struct(  # noqa: E731
        F.round(cosine_pre(F.col("q_emb"), c.getField("cvec"),
                           F.col("__pqn"), c.getField("bnorm")), 6)
        .alias("qs"),
        c.getField("cid").alias("cell"))
    top = F.slice(F.sort_array(F.transform("__cents", score), asc=False),
                  1, nprobe)
    return (q.withColumn("__pqn", vnorm(F.col("q_emb")))
            .crossJoin(F.broadcast(_cent_arr(cent, "__cents")))
            .select("q_id", "q_emb", F.explode(top).alias("__p"))
            .select("q_id", "q_emb", F.col("__p.cell").alias("cell")))


def _query_probes(spark: SparkSession, sf_dir: str, cent_rows,
                  nprobe: int) -> DataFrame:
    """(q_id, q_emb, cell) probes of the LSH_N_QUERIES query vectors
    against a persisted index's stored centroids ``cent_rows`` — the
    build side the index serves join on their raw ``cell`` partition
    column.  ``cell`` is an int, the partition column's type, so the
    join needs no cast on the scan side, and the queries do not shuffle
    (:func:`_probe_cells`): dynamic partition pruning prunes the scan
    to the probed cells."""
    return _probe_cells(_audit_queries(_emb(spark, sf_dir), LSH_N_QUERIES),
                        _cent_df(spark, cent_rows), nprobe)


def _serve_cached_sidecars(index_path: str, sidecars: list[str],
                           force: bool) -> bool:
    """Cache gate for indexes whose build writes sidecar sub-dirs
    (``_centroids``, ``_codebooks``) AFTER the main parquet write lands
    its root ``_SUCCESS`` (ADVICE r15): the root marker alone is NOT
    completeness here — a crash between the main write and a sidecar
    write would otherwise serve a cached index whose append/staleness
    paths hard-depend on the missing sidecar.  Complete iff the root
    marker AND every sidecar's own ``_SUCCESS`` exist; anything less
    misses the gate and the caller rebuilds (mode("overwrite") makes
    the redo safe)."""
    if not _ilc.serve_cached(index_path, "_SUCCESS", force):
        return False
    return all(os.path.exists(os.path.join(index_path, s, "_SUCCESS"))
               for s in sidecars)


def build_ivf_index(spark: SparkSession, sf_dir: str,
                    index_path: str | None = None, k: int | None = None,
                    force: bool = False,
                    emb: DataFrame | None = None) -> str:
    """Build (once) the persisted IVF index: corpus vectors written
    ``partitionBy("cell")``.

    Scale shape: the assignment is a *map-only* projection (argmax over
    K broadcast centroids, :func:`_with_cell`) — vectors never shuffle
    for assignment.
    The single salted ``repartition(cell, salt)`` is the one build-time
    shuffle: the salt gives every cell up to BUILD_WRITERS_PER_CELL
    writer tasks, so a giant cell (clustered embeddings are the normal
    case) cannot serialize the build behind one straggler writer.  The
    on-disk layout and the query path are unchanged — ``partitionBy``
    still splits by cell, each cell directory just holds several files.
    Amortized across every query served.

    ``k=None`` auto-sizes from the corpus estimate (:func:`auto_ivf_k`);
    the resolved K is part of the index tag, so probe and build can
    never disagree within one index lifecycle.
    """
    if k is None:
        k = _auto_ivf_k(spark, sf_dir)
    if index_path is None:
        # a custom ``emb`` subset is invisible to the source
        # fingerprint — such builds must name their own dir
        assert emb is None, "custom emb requires an explicit index_path"
        # "|c" = centroids persisted alongside (append support); older
        # cached dirs without them miss the tag and rebuild
        tag = _ilc.index_tag(
            f"{os.path.abspath(sf_dir)}|{k}|{_source_fingerprint(sf_dir)}|c")
        index_path = os.path.join(IVF_INDEX_ROOT, f"k{k}-{tag}")
    if _serve_cached_sidecars(index_path, ["_centroids"], force):
        _backfill_stats(spark, index_path, "cell")
        return index_path
    if emb is None:
        emb = _emb(spark, sf_dir)
    cent_rows = _ivf_centroid_rows(emb, k)
    cent = _cent_df(spark, cent_rows)
    # widen an under-split scan before the map-only assignment (r19
    # opt, see _emb_wide): the argmax CPU runs BELOW the writer
    # repartition, which re-parallelizes only the write
    from ..functions.spread import spread_source
    _write_index(
        _with_cell(spread_source(emb, f"{sf_dir}/embeddings.parquet"), cent),
        "cell", index_path, "overwrite")
    # persist the centroids INSIDE the index (underscore prefix: data
    # discovery ignores it) — appends must assign with the exact same
    # centroid set or cell routing silently diverges from the stored data
    (cent.coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(index_path, "_centroids")))
    # build-time per-cell stats sidecar (K rows), computed from the
    # JUST-WRITTEN files — they carry their cell in the partition path,
    # so this is an O(n*dim) assigned-cell scoring pass, never a second
    # argmax over the corpus (r16 review).  Lands last — a crash here
    # leaves a sidecar-less index the next cached serve backfills.
    _write_stats(index_path, _assigned_cell_stats(
        spark.read.parquet(index_path), cent_rows), "overwrite")
    _ilc.finish_build(index_path, IVF_INDEX_ROOT)
    return index_path


def _carry_admission_ledger(index_path: str, out_path: str) -> None:
    """Copy the ``_admitted/`` batch ledger (and its ``.rebuilt.N``
    audit archives) into a replacement/successor index tree BEFORE it
    goes live (r19 review): the exactly-once append contract says a
    lost-ack replay of an already-admitted batch is refused FOREVER —
    compaction (``apply_tombstones_partitioned``) carries every sidecar
    for exactly this reason, but :func:`retrain_ivf_index` and
    :func:`rebucket_lsh_index` shipped their successor trees
    ledger-less, so a checkpoint-rollback replay against the new tree
    re-admitted (duplicated) every row of its batch — including rows
    whose ids had been tombstoned and compacted away ("deletes never
    resurrect" violated)."""
    for d in os.listdir(index_path):
        if not d.startswith(_ilc.ADMITTED):
            continue
        s, t = os.path.join(index_path, d), os.path.join(out_path, d)
        if os.path.isdir(s) and not os.path.exists(t):
            shutil.copytree(s, t)


def _admit_batch(spark: SparkSession, index_path: str, batch: DataFrame,
                 land_data, stats_epoch=None,
                 stats_key: str | None = None) -> bool:
    """The idempotent batch-admission protocol every index append path
    shares (VERDICT r16 item 2 — the lost-ack retry class that caused
    the CMS sink's data loss): a content fingerprint of the batch gates
    the admit through the kernel's two-phase ledger
    (:mod:`ringo_spark.index_lifecycle`).

    * ``done`` recorded → the batch is fully admitted; a RETRY is a
      no-op (returns False).  Because the ledger survives compaction
      (sidecar carry-over), a replay after its rows were tombstoned and
      compacted away is also refused — deletes never resurrect.
    * dangling ``intent`` → the prior attempt crashed mid-land: only
      the batch rows NOT already stored are landed (one column-pruned
      anti-join against stored ids — the rare-path cost), then the
      stats sidecar of an index partitioned by ``stats_key`` is rebuilt
      from the data files, restoring its covers-the-data-exactly
      invariant whatever the crash tore.  This retry IS the in-flight
      writer, so the rebuild skips the admission guard.
    * fresh → intent, land data, append the stats epoch, commit.

    Single-writer per index (the append paths' standing contract);
    ``batch`` must already be projected to (vec_id, embedding, ...) —
    the fingerprint hashes vec_id + embedding."""
    fp = _ilc.batch_fingerprint(batch, ["vec_id", "embedding"])
    state = _ilc.admit_state(index_path, fp)
    if state == "done":
        _touch(os.path.join(index_path, "_SUCCESS"))
        return False
    if state == "torn":
        stored_ids = spark.read.parquet(index_path).select("vec_id")
        land_data(batch.join(stored_ids, "vec_id", "left_anti"))
        if stats_key is not None:
            _rebuild_stats(spark, index_path, stats_key)
    else:
        _ilc.admit_intent(index_path, fp)
        land_data(batch)
        if stats_epoch is not None:
            stats_epoch(batch)
    _ilc.admit_commit(index_path, fp)
    # keep the live index out of gc_index_root's stale set (LRU by mtime)
    _touch(os.path.join(index_path, "_SUCCESS"))
    return True


def append_to_ivf_index(spark: SparkSession, index_path: str,
                        batch_emb: DataFrame) -> bool:
    """Admit an ingestion batch into a persisted IVF index: cells are
    assigned with the index's OWN stored centroids (not recomputed — a
    drifted centroid set would route new vectors to cells the query path
    doesn't probe for them) and appended ``partitionBy("cell")``.  Cost
    is O(batch) map-only assignment + one batch-sized shuffle + one tiny
    fingerprint agg; the existing index files never rewrite.  Centroid
    retraining is a rebuild, by design — the index tag's source
    fingerprint makes that explicit.

    Contract: EXACTLY-once per batch (VERDICT r16 item 2).  A lost-ack
    RETRY of the same batch is a ledger-refused no-op (returns False),
    and a retry after a mid-land crash completes the batch without
    duplicating the rows that already landed (:func:`_admit_batch`)."""
    cent_rows = _stored_centroids(index_path)
    cent = _cent_df(spark, cent_rows)
    batch_emb = _coerce_to_stored(spark, index_path, batch_emb)

    # the K-argmax assignment is the append's dominant cost — cache it
    # across land_data and stats_epoch so the batch is assigned ONCE
    # (r19 review: the stats epoch previously re-ran _with_cell from
    # scratch, doubling per-batch ingest CPU at the production ~sqrt(N)
    # K).  The cache populates during the data-write job; the stats
    # epoch reads it back (on the torn-retry path stats_epoch never
    # runs — the stats are rebuilt from the data files instead).
    assigned_cache: dict[str, DataFrame] = {}

    def land_data(b: DataFrame) -> None:
        a = _with_cell(b, cent).cache()
        assigned_cache["df"] = a
        _write_index(a, "cell", index_path, "append")

    def stats_epoch(b: DataFrame) -> None:
        # batch epoch appended to the stats sidecar AFTER the data
        # lands — a crash between the two leaves a dangling intent, and
        # the retry's repair rebuilds the sidecar from the data files.
        _write_stats(index_path, _assigned_cell_stats(
            assigned_cache["df"], cent_rows), "append")

    try:
        return _admit_batch(spark, index_path, batch_emb, land_data,
                            stats_epoch, "cell")
    finally:
        a = assigned_cache.pop("df", None)
        if a is not None:
            a.unpersist()


def ann_ivf_indexed_df(spark: SparkSession, sf_dir: str,
                       k: int | None = None,
                       nprobe: int | None = None) -> DataFrame:
    """IVF query against the persisted partitioned index.

    Probes score the index's OWN stored ``_centroids`` sidecar (index
    metadata, read driver-side by :func:`_stored_centroids`), and the
    index scan joins the broadcast probe list on its raw ``cell``
    partition column, so dynamic partition pruning reads ONLY the
    probed cell directories — no corpus-wide scan, no corpus shuffle,
    and no Spark job while the frame is built (the probed cells are
    never collected to the driver).  r19: probes previously recomputed
    the first-k corpus vectors as centroids — identical to the sidecar
    on a fresh build (the build seeds first-k; float→double widening is
    exact), but after :func:`retrain_ivf_index` rewrites the index geometry the
    stored data is partitioned by RETRAINED cells, and first-k probes
    would prune to cells the neighbors are no longer in — silent recall
    loss with no error anywhere (pinned by
    ``test_ivf_indexed_serves_retrained_geometry``).  The serve path
    now always routes with the same artifacts the data was written
    with, the rule every append path already follows.  Result rows are
    identical to ``ann_ivf_df`` on the registered (fresh-build) query —
    same oracle SQL.  ``k``/``nprobe`` default to the same auto gate as
    ``ann_ivf_df``; ``nprobe=None`` resolves against the STORED
    centroid count, not the requested ``k`` (r19 review: after a
    k-resizing :func:`retrain_ivf_index` the index holds more cells
    than ``k``, and a request-derived nprobe would probe a collapsing
    fraction of them — the same silent-recall-decay class as stale
    probe geometry; on a fresh build the two counts are equal, so the
    registered query and its oracle are unchanged)."""
    if k is None:
        k = _auto_ivf_k(spark, sf_dir)
    index_path = build_ivf_index(spark, sf_dir, k=k)
    cent_rows = _stored_centroids(index_path)
    if nprobe is None:
        nprobe = _auto_nprobe(len(cent_rows), IVF_NPROBE)
    probes = _query_probes(spark, sf_dir, cent_rows, nprobe) \
        .withColumn("__qn", vnorm(F.col("q_emb")))

    from .deletion import index_rows

    # index scan deliberately not widened (r19 opt, measured): the
    # pruned cells hold ~nprobe/K of the corpus and the widening
    # exchange cost more than it spread (bench +0.15s when tried)
    idx = index_rows(spark, index_path, id_col="vec_id") \
        .withColumn("__nn", vnorm(F.col("embedding")))
    return _top_k(_score_candidates(idx, probes, "cell"), LSH_TOP_K)


# --- IVF index staleness signal (VERDICT r14 item 4) -------------------------
#
# Centroid retraining is a REBUILD by design (append_to_ivf_index routes
# with the stored centroids, never recomputes them) — this is the metric
# that says WHEN: appended batches whose vectors quantize much worse
# than the build-time corpus (distribution drift), or whose arrivals
# pile into one cell (skew), mean the stored centroid set no longer
# describes the data and probe recall is rotting silently.  Reported,
# not auto-acted: a rebuild is corpus-sized, so it's an operator
# decision with this row as the trigger.

# Appended vectors quantizing >this x the build-time mean quantization
# error flips the stale flag — drifted arrivals sit this much farther
# from their nearest stored centroid.  Calibrated against the corpora:
# same-distribution halves sit at 1.03-1.07 at every SF (the ratio,
# not the absolute qerr, is what transfers across corpora), while an
# anti-aligned drift injection lands ~1.5 — the trip wire sits between
# with margin on both sides.
IVF_STALE_QERR_RATIO = 1.25
# Hottest-cell load factor (max cell count x K / N) past which routing
# is considered degenerate for the appended epoch: probe cost
# concentrates in one cell.  Seed-centroid cells are organically
# uneven, so the trip-wire sits well above the natural factor.
IVF_STALE_SKEW = 4.0


def _label_cells(df: DataFrame, cent: DataFrame) -> DataFrame:
    """``df`` + its argmax ``cell`` against the (cid, cvec) centroid
    relation ``cent`` and that cell's round(cosine, 6) score ``cos6`` —
    the staleness report's scorer for rows that carry no cell yet (the
    ingestion batch).  Map-only (:func:`_with_cell`): one output row
    per PHYSICAL input row, so the stats it feeds agree with
    file-footer row accounting.  Rows already carrying their cell never
    need this — :func:`_assigned_cell_stats` scores them against their
    one assigned centroid, O(n*dim)."""
    return _with_cell(df, cent, keep_score="cos6")


def _cell_stats(labeled: DataFrame) -> DataFrame:
    """Per-cell (cell, c, qs) from (cell, cos6) rows.  The per-vector
    quantization error is fixed to 6dp micro-units BEFORE summing
    (exact bigint arithmetic) so every downstream mean is
    order-independent — the doc_logprob exact-decimal-sum rule; a plain
    avg() over doubles would be shuffle-order-dependent and unhashable.
    This is also the sidecar's on-disk schema: per-cell longs merge
    across build/append epochs by plain addition, exactly."""
    qerr_micro = F.round((F.lit(1.0) - F.col("cos6")) * 1000000).cast("long")
    return (labeled.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("c"),
                 F.sum(qerr_micro).alias("qs")))


def _assigned_cell_stats(assigned: DataFrame, cent_rows) -> DataFrame:
    """Per-cell (cell, c, qs) for rows that ALREADY CARRY their cell
    (the index's data files / a just-assigned batch): each row scores
    against its one assigned centroid — the argmax winner's score
    recomputed directly, O(n*dim) with a broadcast K-row join and a
    map-side-combining K-partial rollup, no argmax over K anywhere
    (r16 review: the build was scoring the corpus twice).  Same
    round(cosine, 6) expression as :func:`_label_cells`, so assigned
    and argmax scoring can never disagree on a value."""
    cent_df = (_cent_df(assigned.sparkSession, cent_rows)
               .withColumnRenamed("cid", "cell")
               .withColumn("__bn", vnorm(F.col("cvec"))))  # K rows, once
    sc = F.round(cosine_pre(F.col("embedding"), F.col("cvec"),
                            F.col("__an"), F.col("__bn")), 6)
    qerr_micro = F.round((F.lit(1.0) - sc) * 1000000).cast("long")
    return (assigned.select(F.col("cell").cast("int").alias("cell"),
                            "embedding")
            .withColumn("__an", vnorm(F.col("embedding")))
            .join(F.broadcast(cent_df), "cell")
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("c"),
                 F.sum(qerr_micro).alias("qs")))


def _bucket_stats(assigned: DataFrame) -> DataFrame:
    """Per-bucket (bucket, c) for rows that carry their LSH ``bucket`` —
    the LSH index's per-row stats function (the IVF one is
    :func:`_assigned_cell_stats`)."""
    return assigned.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))


def _stats_fn(spark: SparkSession, index_path: str, key: str):
    """The per-row stats function of the index at ``index_path``,
    partitioned by ``key``: ``"cell"`` (IVF) scores each row against the
    index's stored centroids, giving (cell, c, qs); ``"bucket"`` (LSH)
    counts rows, giving (bucket, c).  This is everything the two index
    kinds' ``_stats`` paths do NOT share."""
    if key == "bucket":
        return _bucket_stats
    if key == "cell":
        cent_rows = _stored_centroids(index_path)
        return lambda assigned: _assigned_cell_stats(assigned, cent_rows)
    raise ValueError(f"no _stats sidecar for an index partitioned by {key!r}")


def _stats_path(index_path: str) -> str:
    """Where an index keeps its ``_stats`` sidecar log."""
    return os.path.join(index_path, STATS_SIDECAR)


def _write_stats(index_path: str, stats: DataFrame, mode: str) -> None:
    """Land one epoch's per-key ``stats`` into the index's ``_stats``
    sidecar log (VERDICT r15 item 5): K-ish rows per epoch, so the
    staleness/width reports read a tiny sidecar instead of re-scanning
    the stored index.  ``mode="overwrite"`` at build, ``"append"`` per
    admitted batch — always AFTER the data write, so a crash between
    the two leaves a sidecar that undercounts, which the reader's
    row-count check rejects (:func:`_stored_stats`)."""
    stats.coalesce(1).write.mode(mode).parquet(_stats_path(index_path))


def _rebuild_stats(spark: SparkSession, index_path: str, key: str,
                   out: str | None = None) -> None:
    """Rewrite the sidecar of ``out`` (default: the index itself) from
    its data files, with the stats function of ``index_path``: the
    files carry their key in the partition path, so this is one
    assigned-key pass, never an argmax re-scan.  Computed over the
    UNFILTERED data files (plain read, not the tombstone-aware reader)
    — the sidecar's invariant is "covers the data files exactly"; the
    reader's no-tombstones gate handles deletes.  No in-flight check:
    callers decide (:func:`_backfill_stats` skips,
    :func:`repair_index_stats` refuses, the torn-retry admission IS the
    in-flight writer)."""
    out = out or index_path
    stats = _stats_fn(spark, index_path, key)
    _write_stats(out, stats(spark.read.parquet(out)), "overwrite")


def _backfill_stats(spark: SparkSession, index_path: str, key: str) -> None:
    """Opportunistic serve-path heal for cached dirs without a complete
    sidecar (pre-sidecar builds, a crash after the data write).
    Concurrent backfills converge (same content, overwrite); a torn read
    during one falls back to the rescan.  Skips silently while a batch
    admission is in flight (r19 review): its data files have landed but
    its stats epoch hasn't, so a rewrite here would count the batch
    once and the epoch would count it AGAIN.  Reports fall back to the
    rescan until the admission commits."""
    if os.path.exists(os.path.join(_stats_path(index_path), "_SUCCESS")) \
            or _ilc.admits_in_flight(index_path):
        return
    _rebuild_stats(spark, index_path, key)


def _stored_stats(spark: SparkSession, index_path: str,
                  key: str) -> DataFrame:
    """Per-key stats of an index's stored rows — from the ``_stats``
    sidecar when it provably covers the data (complete marker, no
    tombstone log, epoch-log total == data-file footer row count), else
    a rescan through the tombstone-aware reader with the index's
    per-row stats function (:func:`_stats_fn`).  The sidecar path is
    pure driver-side metadata: a K-row pyarrow read + exact integer
    sums of every non-key column, no Spark job over the index.

    The rescan is READ-ONLY.  The r16 destructive self-heal here raced
    in-flight appends (ADVICE r16: appends land data files BEFORE their
    stats epoch, so every append opens a legitimate mismatch window).
    Durable repair is the explicit, in-flight-guarded
    :func:`repair_index_stats`, and :func:`compact_index` rebuilds the
    sidecar inside the replacement tree, so the production compaction
    never leaves it missing."""
    from .deletion import TOMBSTONES, index_rows

    tbl = None if os.path.isdir(os.path.join(index_path, TOMBSTONES)) \
        else _read_stats_log(_stats_path(index_path))
    if tbl is not None and \
            sum(tbl.column("c").to_pylist()) == _data_meta_rows(index_path):
        vals = [c for c in tbl.column_names if c != key]
        per: dict[int, list[int]] = {}
        for k, *row in zip(*(tbl.column(c).to_pylist() for c in [key] + vals)):
            acc = per.setdefault(int(k), [0] * len(vals))
            for i, v in enumerate(row):
                acc[i] += int(v)
        return literal_df(
            spark, [(k, *acc) for k, acc in sorted(per.items())],
            ", ".join([f"{key} int"] + [f"{c} long" for c in vals]))
    return _stats_fn(spark, index_path, key)(
        index_rows(spark, index_path, id_col="vec_id"))


def repair_index_stats(spark: SparkSession, index_path: str,
                       key: str) -> None:
    """Maintenance entry: rebuild the ``_stats`` sidecar of an IVF
    (``key="cell"``) or LSH (``key="bucket"``) index from its data
    files.  The report read path is strictly read-only (ADVICE r16), so
    a sidecar dropped by a raw compaction or torn by a crash stays
    missing — and every report rescans — until this runs.  Refuses
    while a batch admission is in flight: its landed data files are
    ahead of its stats epoch, and rebuilding now would double-count the
    batch once the epoch lands."""
    if _ilc.admits_in_flight(index_path):
        raise RuntimeError(
            f"{index_path}: a batch admission is in flight — rebuilding "
            "the _stats sidecar now would double-count it; retry the "
            "append (it repairs the sidecar itself) or re-run after it "
            "commits")
    _rebuild_stats(spark, index_path, key)


def compact_index(spark: SparkSession, index_path: str, key: str,
                  id_col: str = "vec_id") -> None:
    """Tombstone compaction for a persisted IVF (``key="cell"``) or LSH
    (``key="bucket"``) index that leaves a COMPLETE ``_stats`` sidecar
    inside the replacement tree (rebuilt from the compacted rows before
    the crash-safe swap), so the reports never enter the sidecar-less
    rescan state on the production path.  Raw
    :func:`apply_tombstones_partitioned` remains available but ships the
    replacement sidecar-less."""
    from .deletion import apply_tombstones_partitioned

    apply_tombstones_partitioned(
        spark, index_path, key, id_col=id_col,
        stats_rebuild=lambda s, tmp: _rebuild_stats(s, index_path, key, tmp))


def ivf_staleness_report(spark: SparkSession, index_path: str,
                         batch_emb: DataFrame) -> DataFrame:
    """One-row drift report for a persisted IVF index vs an ingestion
    batch: the batch is assigned with the index's OWN stored centroids
    (exactly what :func:`append_to_ivf_index` would do), and its mean
    quantization error + hottest-cell load factor are compared against
    the same stats over the index's existing rows (the build-time
    ladder).  Cost: one batch-sized map + (since r16) a K-row sidecar
    read for the stored side — the report no longer re-scores the
    stored index unless the sidecar can't vouch for it
    (:func:`_stored_stats`); nothing corpus-sized shuffles either way.
    ``stale`` uses the ROUNDED ratios, so the flag is bit-stable across
    engines."""
    cent_rows = _stored_centroids(index_path)
    k = len(cent_rows)
    totals = [F.sum("c").alias("n_vecs"), F.sum("qs").alias("qerr_sum"),
              F.max("c").alias("max_cell")]
    b = _stored_stats(spark, index_path, "cell").agg(*totals).alias("b")
    a = _cell_stats(_label_cells(batch_emb.select("embedding"),
                                 _cent_df(spark, cent_rows))) \
        .agg(*totals).alias("a")
    qerr = lambda side: F.col(f"{side}.qerr_sum") * 1.0         / F.col(f"{side}.n_vecs")  # noqa: E731
    ratio = F.round(qerr("a") / qerr("b"), 6)
    skew_a = F.round(F.col("a.max_cell") * F.lit(k) * 1.0
                     / F.col("a.n_vecs"), 6)
    return (b.crossJoin(a)   # 1 row x 1 row
            .select(F.col("b.n_vecs").alias("n_build"),
                    F.col("a.n_vecs").alias("n_append"),
                    F.round(qerr("b") / 1000000, 6).alias("qerr_build"),
                    F.round(qerr("a") / 1000000, 6).alias("qerr_append"),
                    ratio.alias("qerr_ratio"),
                    F.round(F.col("b.max_cell") * F.lit(k) * 1.0
                            / F.col("b.n_vecs"), 6).alias("skew_build"),
                    skew_a.alias("skew_append"),
                    ((ratio > IVF_STALE_QERR_RATIO)
                     | (skew_a > IVF_STALE_SKEW)).alias("stale")))


def retrain_ivf_index(spark: SparkSession, index_path: str,
                      k: int | None = None,
                      iters: int | None = None) -> str:
    """The remediation half of the IVF staleness lifecycle (VERDICT r15
    item 3 — the twin of :func:`rebucket_lsh_index`): when
    :func:`ivf_staleness_report` flags drift, re-train the centroids
    over the index's OWN stored rows — which include every appended
    epoch, and load tombstone-FILTERED, making a retrain a natural
    compaction point — then rewrite the index IN PLACE through the
    kernel's crash-safe swap (full replacement built as a ``__compact``
    sibling, two renames through ``__old``).  Probers keep their path;
    the ``_centroids``/``_stats`` sidecars are rebuilt inside the
    replacement, so the next report measures the retrained geometry.

    Seeding STRIDES the stored id range (every ~n/k-th vec_id) instead
    of the fresh build's first-k rule: appended epochs hold the HIGH
    ids, and Lloyd cannot allocate a centroid to a region that got no
    seed — first-k seeding would anchor every seed in the oldest epoch
    and leave the drifted arrivals (the reason the retrain fired)
    crowded into whichever old cell rejects them least.  Then ``iters``
    Lloyd rounds (``IVF_KMEANS_ITERS`` default) with the same
    round(avg, 6) update as :func:`train_ivf_centroids` — per round one
    map-side-combined per-cell component average, K x dim doubles to
    the driver, never a corpus collect.  ``k=None`` re-resolves the
    auto gate at the index's CURRENT row count (the corpus grew — a
    retrain is exactly when K should be re-sized)."""
    from ..functions.spread import spread_source
    from .deletion import index_rows

    _ilc.recover_live(index_path, require=True)
    _ilc.clear_swap_leftovers(index_path)
    # destructive maintenance honors the admission guard like every
    # other (archive_admissions, repair_index_stats — r19 review): an
    # in-flight batch's rows may or may not make the training snapshot,
    # and racing its stats epoch against the swap corrupts the sidecar
    if _ilc.admits_in_flight(index_path):
        raise RuntimeError(
            f"{index_path}: a batch admission is in flight — retraining "
            "now would race its landing rows and stats epoch; retry "
            "after it commits")
    if iters is None:
        iters = IVF_KMEANS_ITERS
    emb = spread_source(index_rows(spark, index_path, id_col="vec_id")
                        .select("vec_id", "embedding"), index_path).cache()
    try:
        n = emb.count()
        if k is None:
            k = auto_ivf_k(spark, n, exact=True)
        # strided seeds (see docstring): a deterministic HASH-modulo
        # filter + a k-row limit — a tiny sort of ~k rows, never a
        # global row_number.  Hashing (not ``vec_id % stride``) matters:
        # a plain id stride aliases with any id-periodic structure in
        # the data (measured here — a %8-periodic drift injection left
        # every strided seed in one sub-mode), while a hash stride
        # samples every epoch and every periodicity uniformly.  A
        # shortfall (sparse ids, hash variance) tops up
        # deterministically with the smallest ids.
        stride = max(1, (n - 1) // k + 1)
        seed_rows = (emb.where(
                        F.pmod(F.xxhash64("vec_id"), F.lit(stride)) == 0)
                     .orderBy("vec_id").limit(k)
                     .select(F.col("vec_id").alias("cid"),
                             F.col("embedding").alias("cvec"))
                     .collect())
        if len(seed_rows) < k:
            have = {r.cid for r in seed_rows}
            seed_rows += [r for r in
                          (emb.orderBy("vec_id").limit(k)
                           .select(F.col("vec_id").alias("cid"),
                                   F.col("embedding").alias("cvec"))
                           .collect())
                          if r.cid not in have][:k - len(seed_rows)]
        cent = [(int(r.cid), [float(x) for x in r.cvec])
                for r in seed_rows]
        if not cent:
            raise ValueError(
                f"retrain_ivf_index: {index_path} has no live rows "
                "(every stored id tombstoned?) — nothing to train on; "
                "drop the index or rebuild it from fresh data instead")
        cent = _lloyd(emb, cent, iters)
        cent_df = _cent_df(spark, cent)
        tmp, _old = _ilc.swap_paths(index_path)
        _write_index(_with_cell(emb, cent_df), "cell", tmp, "overwrite")
        (cent_df.coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(tmp, "_centroids")))
        # stats from the just-written replacement tree (cells ride the
        # partition path — assigned-cell scoring, no second argmax)
        _write_stats(tmp, _assigned_cell_stats(spark.read.parquet(tmp),
                                               cent), "overwrite")
        _carry_admission_ledger(index_path, tmp)
        _ilc.publish_swap(index_path)
        _touch(os.path.join(index_path, "_SUCCESS"))
    finally:
        emb.unpersist()
    return index_path


def ann_index_staleness_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered driver row for the staleness signal: a DEDICATED IVF
    index is built over the LOWER half of the embeddings table (its own
    dir — the shared query cache must not absorb a half-corpus build),
    the UPPER half plays the appended batch, and the report runs
    through the production :func:`ivf_staleness_report` — stored
    centroids, tombstone-aware index read, exact-integer qerr sums all
    under the driver hash.  Same-distribution halves, so the expected
    (and pinned) verdict is ``stale = false``; the falsifiability test
    injects drifted vectors and pins the flip."""
    emb = _emb(spark, sf_dir)
    n = emb.count()
    half = n // 2
    k = auto_ivf_k(spark, half, exact=True)
    tag = _ilc.index_tag(
        f"{os.path.abspath(sf_dir)}|stale|{k}|{half}|"
        f"{_source_fingerprint(sf_dir)}")
    p = build_ivf_index(
        spark, sf_dir, k=k,
        index_path=os.path.join(IVF_INDEX_ROOT, f"stale-{tag}"),
        emb=emb.where(F.col("vec_id") < half))
    # ingestion side from the widened scan (r19 opt, see _emb_wide):
    # its _label_cells scoring is a map-only projection now
    return ivf_staleness_report(
        spark, p, _emb_wide(spark, sf_dir).where(F.col("vec_id") >= half))


ANN_INDEX_STALENESS_SQL = f"""
WITH nn AS (SELECT count(*) AS n, count(*) // 2 AS half FROM embeddings),
kk AS (SELECT least({IVF_MAX_AUTO_K}, greatest({IVF_K},
              CAST(round(sqrt(half / {IVF_SQRT_DIVISOR}.0), 0) AS INT)))
              AS k FROM nn),
cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings, kk
  WHERE vec_id < kk.k),
lab AS (
  SELECT e.vec_id,
         CASE WHEN e.vec_id < nn.half THEN 'build' ELSE 'append' END
           AS epoch,
         max({{'s': round({sql_cosine('e.embedding', 'c.cvec')}, 6),
              'cid': c.cid}}) AS b
  FROM embeddings e CROSS JOIN cent c CROSS JOIN nn
  GROUP BY e.vec_id, epoch),
agg AS (
  SELECT epoch, count(*) AS n_vecs,
         sum(CAST(round((1 - b.s) * 1000000) AS BIGINT)) AS qerr_sum,
         max(cnt) AS max_cell
  FROM (SELECT epoch, b,
               count(*) OVER (PARTITION BY epoch, b.cid) AS cnt
        FROM lab)
  GROUP BY epoch)
SELECT b.n_vecs AS n_build, a.n_vecs AS n_append,
       round(b.qerr_sum * 1.0 / b.n_vecs / 1000000, 6) AS qerr_build,
       round(a.qerr_sum * 1.0 / a.n_vecs / 1000000, 6) AS qerr_append,
       round((a.qerr_sum * 1.0 / a.n_vecs)
             / (b.qerr_sum * 1.0 / b.n_vecs), 6) AS qerr_ratio,
       round(b.max_cell * kk.k * 1.0 / b.n_vecs, 6) AS skew_build,
       round(a.max_cell * kk.k * 1.0 / a.n_vecs, 6) AS skew_append,
       (round((a.qerr_sum * 1.0 / a.n_vecs)
              / (b.qerr_sum * 1.0 / b.n_vecs), 6)
          > {IVF_STALE_QERR_RATIO}
        OR round(a.max_cell * kk.k * 1.0 / a.n_vecs, 6)
          > {IVF_STALE_SKEW}) AS stale
FROM (SELECT * FROM agg WHERE epoch = 'build') b,
     (SELECT * FROM agg WHERE epoch = 'append') a, kk
"""


def _sql_bucket(bits: int = LSH_BITS) -> str:
    return " + ".join(
        f"(CASE WHEN embedding[{d}]::DOUBLE > 0 THEN {1 << j} ELSE 0 END)"
        for j, d in enumerate(bucket_coordinates(bits)))


def sql_auto_bits_cte(floor_bits: int, target_rows: int) -> str:
    """DuckDB twin of :func:`auto_lsh_bits` at default conf, as a 1-row
    CTE body ``nb(bits)``: derive the projection width from the corpus
    row count EXACTLY as the Spark gate does (the gate's parquet-footer
    estimate equals ``count(*)``), so the oracle tracks the gate at
    EVERY scale factor instead of hard-coding one contract width
    (VERDICT r13 item 1 — the old static oracles only constrained the
    operators at sf0.01).  ``ceil(log2(N / target))`` can only straddle
    an engine ulp when N/target is an exact power of two, where both
    engines are exact — so the widths agree bit-for-bit."""
    return (f"SELECT greatest({floor_bits}, least({EMB_DIM}, "
            f"CAST(ceil(log2(greatest(1.0, count(*) * 1.0 / {target_rows})))"
            f" AS INT))) AS bits FROM embeddings")


def sql_bucket_dyn(col: str = "embedding") -> str:
    """The sign-bit bucket of :func:`_sql_bucket` with the width taken
    from an in-scope ``nb(bits)`` CTE row (cross-joined) — the same
    strided coordinates ``1 + j * (dim // bits)`` as
    :func:`bucket_coordinates`, evaluated at the runtime width."""
    return ("CAST(list_sum(list_transform(range(0, nb.bits), "
            f"j -> CASE WHEN {col}[1 + j * ({EMB_DIM} // nb.bits)]::DOUBLE"
            " > 0 THEN 1 << j ELSE 0 END)) AS BIGINT)")


def _lsh_bucketed_sql(bits: int | None = LSH_BITS) -> str:
    """``bits=None`` mirrors the registered operator's auto gate: the
    width CTE derives from ``count(*)`` (scale-portable oracle)."""
    if bits is None:
        nb = sql_auto_bits_cte(LSH_BITS, ANN_BUCKET_TARGET_ROWS)
        head = (f"WITH nb AS ({nb}),\n"
                f"b AS (SELECT vec_id, embedding, {sql_bucket_dyn()} "
                "AS bucket FROM embeddings, nb)")
    else:
        head = (f"WITH b AS (SELECT vec_id, embedding, "
                f"{_sql_bucket(bits)} AS bucket FROM embeddings)")
    return f"""
{head},
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         round({sql_cosine('q.embedding', 'c.embedding')}, 6) AS cosine
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
  WHERE q.vec_id < {LSH_N_QUERIES})
SELECT q_id, n_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id)
            AS INT) AS rank,
       cosine
FROM scored
QUALIFY rank <= {LSH_TOP_K}
"""


ANN_LSH_BUCKETED_SQL = _lsh_bucketed_sql(None)
ANN_LSH_BUCKETED12_SQL = _lsh_bucketed_sql(12)


def _lsh_multiprobe_sql(bits: int | None = LSH_BITS) -> str:
    """``bits=None``: auto-width twin — both the bucket AND the
    Hamming-1 probe fan (one probe per bit) follow the gate."""
    if bits is None:
        nb = sql_auto_bits_cte(LSH_BITS, ANN_BUCKET_TARGET_ROWS)
        head = (f"WITH nb AS ({nb}),\n"
                f"b AS (SELECT vec_id, embedding, {sql_bucket_dyn()} "
                "AS bucket FROM embeddings, nb)")
        probe_list = ("list_prepend(bucket, list_transform(range(0, "
                      "nb.bits), j -> xor(bucket, CAST(1 << j AS BIGINT))))")
        probe_from = "b, nb"
    else:
        head = (f"WITH b AS (SELECT vec_id, embedding, "
                f"{_sql_bucket(bits)} AS bucket FROM embeddings)")
        probe_list = "[" + ", ".join(
            ["bucket"] + [f"xor(bucket, {1 << j})"
                          for j in range(bits)]) + "]"
        probe_from = "b"
    return f"""
{head},
probes AS (
  SELECT vec_id, embedding, unnest({probe_list}) AS bucket
  FROM {probe_from} WHERE vec_id < {LSH_N_QUERIES}),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         round({sql_cosine('q.embedding', 'c.embedding')}, 6) AS cosine
  FROM probes q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id)
SELECT q_id, n_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id)
            AS INT) AS rank,
       cosine
FROM scored
QUALIFY rank <= {LSH_TOP_K}
"""


ANN_LSH_MULTIPROBE_SQL = _lsh_multiprobe_sql(None)


# --- IVF with k-means-trained centroids -------------------------------------

IVF_KMEANS_ITERS = 2

def _lloyd(emb: DataFrame, cent: list[tuple], iters: int) -> list[tuple]:
    """``iters`` Lloyd rounds from the seed centroids ``cent`` ((cid,
    cvec) pairs) over ``emb`` — the one update loop shared by
    :func:`train_ivf_centroids` (first-k seeds) and
    :func:`retrain_ivf_index` (hash-strided seeds).

    Per round: (1) map-only cell assignment (:func:`_with_cell`); (2)
    one per-component ``round(avg(double), 6)`` aggregate per cell — a
    single whole-stage-codegen hash aggregate with map-side partial
    averaging, so the exchange carries K rows per mapper and only K x
    dim doubles reach the driver.  The 6-decimal rounding absorbs
    summation-order float drift, so DuckDB replays the identical
    trajectory.  Cells that lose all members drop out (both engines
    agree)."""
    spark = emb.sparkSession
    dim = len(cent[0][1])
    comp_avgs = [F.round(F.avg(F.col("embedding")[i].cast("double")), 6)
                 .alias(f"c{i}") for i in range(dim)]
    for _ in range(iters):
        rows = (_with_cell(emb, _cent_df(spark, cent))
                .groupBy("cell").agg(*comp_avgs).collect())
        cent = sorted((int(r.cell), [float(r[f"c{i}"])
                       for i in range(dim)]) for r in rows)
    return cent


def train_ivf_centroids(spark: SparkSession, sf_dir: str, k: int = IVF_K,
                        iters: int = IVF_KMEANS_ITERS) -> list[tuple]:
    """Lloyd's k-means over the embedding corpus, expressed as iterated
    DataFrame jobs (:func:`_lloyd`) from the first-K seed centroids —
    the production replacement for the seed centroids.  Deterministic
    across engines (rounded updates), so the whole trained index is
    oracle-checkable."""
    # cache across the Lloyd iterations (the standard iterative-training
    # shape — MLlib does the same); released before returning.  Widen
    # first: the cached partitioning is what every iteration's argmax
    # runs on, and an under-split scan would pin all of them to one
    # core.  _emb_wide's floor keeps a tiny local corpus from
    # splintering into per-task-overhead-dominated slivers.
    emb = _emb_wide(spark, sf_dir).cache()
    try:
        return _lloyd(emb, [(int(cid), [float(x) for x in cvec])
                            for cid, cvec in _ivf_centroid_rows(emb, k)],
                      iters)
    finally:
        emb.unpersist()


# Part of the trained-centroid cache tag: bump it whenever the Lloyd
# trajectory formula of train_ivf_centroids changes (seeding, update
# rounding, empty-cell handling), so no cached centroid set trained by
# the old formula is ever served — the INDEX_LAYOUT_VERSION rule.
KMEANS_TRAIN_VERSION = "T1"


def trained_ivf_centroids(spark: SparkSession, sf_dir: str, k: int,
                          iters: int = IVF_KMEANS_ITERS) -> list[tuple]:
    """:func:`train_ivf_centroids`, trained once per (source, k, iters)
    and served from a K x dim sidecar under ``IVF_INDEX_ROOT`` after
    that — a warm construction reads K x dim doubles driver-side
    (pyarrow, no Spark job) instead of re-running the 2 x ``iters``
    Lloyd jobs.  The tag folds in the source fingerprint and
    ``KMEANS_TRAIN_VERSION``, so a regenerated corpus or a changed
    trajectory retrains.  The file lands first and the marker last
    (:func:`index_lifecycle.finish_build`): a torn dir misses the gate
    and retrains.  Served values are the trained doubles bit for bit
    (float64 parquet round-trip), so the oracle trajectory is
    unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tag = _ilc.index_tag(
        f"{os.path.abspath(sf_dir)}|{k}|{iters}|"
        f"{_source_fingerprint(sf_dir)}|{KMEANS_TRAIN_VERSION}")
    path = os.path.join(IVF_INDEX_ROOT, f"kmeans{k}-{tag}")
    file = os.path.join(path, "centroids.parquet")
    if _ilc.serve_cached(path, "_SUCCESS"):
        return _stored_centroids(path, "centroids.parquet")
    cent = train_ivf_centroids(spark, sf_dir, k=k, iters=iters)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "cid": pa.array([c for c, _ in cent], pa.int32()),
        "cvec": pa.array([v for _, v in cent], pa.list_(pa.float64())),
    }), file)
    _ilc.finish_build(path, IVF_INDEX_ROOT, marker="_SUCCESS")
    return cent


def ann_ivf_kmeans_df(spark: SparkSession, sf_dir: str,
                      nprobe: int | None = None,
                      k: int | None = None) -> DataFrame:
    """IVF search over k-means-trained centroids: identical probe/search
    shape to ``ann_ivf_df``, but the cells are learned (2 Lloyd
    iterations) instead of seeded — better-balanced cells, same plan.
    ``nprobe`` is the recall knob (cells searched per query) and ``k``
    the trained centroid count (~sqrt(N), probed by
    ``tools/scale_probe.py ivf``); ``k=None``/``nprobe=None``
    auto-size through :func:`auto_ivf_k` (floor = the contract
    configuration the oracle replays), and
    ``ann_ivf_recall_bounds`` measures the recall they buy
    against brute-force ground truth.  The centroids train once per
    (source, k) and are served from their sidecar after that
    (:func:`trained_ivf_centroids`)."""
    if k is None:
        k = _auto_ivf_k(spark, sf_dir)
    if nprobe is None:
        nprobe = _auto_nprobe(k, IVF_NPROBE)
    cent = _cent_df(spark, trained_ivf_centroids(spark, sf_dir, k=k))
    # serve-side assignment + candidate scoring are map-only since the
    # r19 rewrite — widen an under-split scan first (the single-split
    # sf0.1 scan pinned ~3s of dim-64 folds to one core)
    emb = _emb_wide(spark, sf_dir)
    # corpus-side norm computed ONCE per row and shared between the
    # cell assignment and the candidate scoring (r20, ADVICE r19)
    cells = _with_cell(emb, cent, keep_norm="__nn")
    probes = _probe_cells(_audit_queries(emb, LSH_N_QUERIES), cent, nprobe) \
        .withColumn("__qn", vnorm(F.col("q_emb")))
    return _top_k(_score_candidates(cells, probes, "cell"), LSH_TOP_K)


IVF_RECALL_NPROBE = 4     # fixed probe width the recall contract measures
IVF_RECALL_FLOOR = 0.80   # pinned: mean recall@5 over the 20 queries


def ann_ivf_recall_bounds_df(spark: SparkSession, sf_dir: str,
                             nprobe: int | None = None,
                             k: int | None = None) -> DataFrame:
    """Driver-hashable recall contract for the k-means IVF index
    (r07 VERDICT item 3): per query, how many of the brute-force
    top-5 cosine neighbors the IVF search at a FIXED nprobe recovers —
    plus the mean recall over all 20 queries and a boolean pinning it
    above ``IVF_RECALL_FLOOR``.  The oracle reproduces every hit count
    and recall cell-exactly (both engines replay the identical rounded
    k-means trajectory) and pins ``meets_floor`` to literal TRUE, so an
    index regression that costs recall turns the driver row red.  The
    bound is falsifiable: at nprobe=1 the mean lands ~0.72-0.74, under
    the floor (pytest-pinned).

    Scale shape: the IVF side is the production search (bucket-pruned);
    the brute-force side is ground truth for the SAMPLED 20-query audit
    set only — a Q×N map-only broadcast scan, the standard recall-audit
    pattern, never a production all-pairs path.  EAGER like
    ``ann_ivf_kmeans``: k-means training runs at construction on a
    centroid-cache miss (:func:`trained_ivf_centroids`,
    registry.EAGER_QUERIES).  ``k=None``/``nprobe=None`` auto-size —
    nprobe holds the CONTRACT probe fraction (IVF_RECALL_NPROBE of
    IVF_K cells) as the gate widens K, so the pinned recall floor is a
    property of the configuration family, not of one corpus size."""
    if k is None:
        k = _auto_ivf_k(spark, sf_dir)
    if nprobe is None:
        nprobe = _auto_nprobe(k, IVF_RECALL_NPROBE)
    ivf = ann_ivf_kmeans_df(spark, sf_dir, nprobe=nprobe, k=k) \
        .select("q_id", "n_id")
    return _recall_bounds(_emb(spark, sf_dir), _brute_truth(spark, sf_dir),
                          ivf, LSH_N_QUERIES, LSH_TOP_K, IVF_RECALL_FLOOR)


def _sql_kmeans_ctes(iters: int) -> tuple[str, str]:
    """DuckDB twin of :func:`train_ivf_centroids`: the Lloyd iterations
    unrolled as a CTE chain (cent0 -> cells0 -> cent1 -> ...), seeded
    with the kk-derived K vectors (requires ``kk`` in scope — the
    trained-IVF oracles are scale-portable since r14)."""
    parts = [f"""cent0 AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings, kk
  WHERE vec_id < kk.k)"""]
    for i in range(iters):
        parts.append(f"""cells{i} AS (
  SELECT vec_id,
         max({{'s': round({sql_cosine('e.embedding', 'c.cvec')}, 6),
              'cid': c.cid}}).cid AS cell
  FROM embeddings e CROSS JOIN cent{i} c
  GROUP BY vec_id)""")
        # per-component avg list, mirroring the Spark trainer's
        # de-exploded shape (a generate_series cross join here would
        # multiply the corpus by EMB_DIM per iteration)
        comp = ", ".join(f"round(avg(e.embedding[{j}]::DOUBLE), 6)"
                         for j in range(1, EMB_DIM + 1))
        parts.append(f"""cent{i + 1} AS (
  SELECT cl.cell AS cid, [{comp}] AS cvec
  FROM cells{i} cl JOIN embeddings e USING (vec_id)
  GROUP BY cl.cell)""")
    return ",\n".join(parts), f"cent{iters}"


_KM_CTES, _KM_FINAL = _sql_kmeans_ctes(IVF_KMEANS_ITERS)


def _kmeans_search_ctes(nprobe_base: int) -> str:
    """Shared assignment/probe/candidate CTE block for the trained-IVF
    oracles, parameterized on the contract probe fraction (the kmeans
    query holds IVF_NPROBE of IVF_K cells; the recall contract
    IVF_RECALL_NPROBE) — the width resolves against the kk-derived K
    through the np CTE."""
    return f"""np AS ({sql_auto_nprobe_cte(nprobe_base)}),
cells AS (
  SELECT vec_id,
         max({{'s': round({sql_cosine('e.embedding', 'c.cvec')}, 6),
              'cid': c.cid}}).cid AS cell
  FROM embeddings e CROSS JOIN {_KM_FINAL} c
  GROUP BY vec_id),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.vec_id AS q_id, c.cid AS cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round({sql_cosine('q.embedding', 'c.cvec')}, 6) DESC,
                      c.cid DESC) AS pr
    FROM embeddings q CROSS JOIN {_KM_FINAL} c
    WHERE q.vec_id < {LSH_N_QUERIES}), np
  WHERE pr <= np.nprobe),
cand AS (
  SELECT p.q_id, e.vec_id AS n_id,
         round({sql_cosine('qe.embedding', 'e.embedding')}, 6) AS cosine
  FROM probes p
  JOIN cells ON cells.cell = p.cell
  JOIN embeddings e ON e.vec_id = cells.vec_id
  JOIN embeddings qe ON qe.vec_id = p.q_id
  WHERE p.q_id != e.vec_id)"""


ANN_IVF_KMEANS_SQL = f"""
WITH kk AS ({sql_auto_ivf_k_cte()}),
{_KM_CTES},
{_kmeans_search_ctes(IVF_NPROBE)}
SELECT q_id, n_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id)
            AS INT) AS rank,
       cosine
FROM cand
QUALIFY rank <= {LSH_TOP_K}
"""

ANN_IVF_RECALL_BOUNDS_SQL = f"""
WITH kk AS ({sql_auto_ivf_k_cte()}),
{_KM_CTES},
{_kmeans_search_ctes(IVF_RECALL_NPROBE)},
ivf AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id)
             AS rank
    FROM cand)
  WHERE rank <= {LSH_TOP_K}),
brute AS (
  SELECT q_id, n_id FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round({sql_cosine('q.embedding', 'c.embedding')}, 6)
                        DESC, c.vec_id) AS rank
    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
    WHERE q.vec_id < {LSH_N_QUERIES})
  WHERE rank <= {LSH_TOP_K}),
hits AS (
  SELECT b.q_id, count(*) AS h
  FROM brute b JOIN ivf i ON b.q_id = i.q_id AND b.n_id = i.n_id
  GROUP BY 1)
SELECT q_id, hits, recall,
       round(avg(recall) OVER (), 6) AS mean_recall,
       TRUE AS meets_floor
FROM (SELECT q.vec_id AS q_id,
             CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
             round(coalesce(h.h, 0) / {LSH_TOP_K}, 6) AS recall
      FROM (SELECT vec_id FROM embeddings WHERE vec_id < {LSH_N_QUERIES}) q
      LEFT JOIN hits h ON h.q_id = q.vec_id)
ORDER BY q_id
"""


RRF_K0 = 60          # the standard reciprocal-rank-fusion damping constant
RRF_TOP_K = 5


def ann_rank_fusion_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two independent ANN retrievers — the
    standard way to combine candidate lists whose scores are not
    comparable (different index geometries): each candidate scores
    Σ 1/(k0 + rank_i) over the lists that retrieved it, so items ranked
    well by BOTH retrievers rise without any score normalization.
    Fuses the projection-LSH bucket search with the seeded-IVF cell
    search (deterministic lazy retrievers; the trained-kmeans variant is
    eager and stays out of fusion).

    Scale shape: both inputs are already top-k-per-query (LSH_TOP_K
    rows × queries — tiny), so the fusion union/agg/window runs on
    candidate lists, never corpus data; total cost is the two
    retrievals, which keep their own bucket/cell-pruned plans.  At most
    2 fusion terms per candidate and IEEE addition is commutative, so
    the summed score is engine-independent before the round(6)."""
    contrib = F.round(F.sum(1.0 / (F.lit(RRF_K0) + F.col("rank"))), 6)
    cands = (ann_lsh_bucketed_df(spark, sf_dir).select("q_id", "n_id", "rank")
             .unionByName(ann_ivf_df(spark, sf_dir)
                          .select("q_id", "n_id", "rank")))
    fused = (cands.groupBy("q_id", "n_id")
             .agg(contrib.alias("rrf_score"),
                  F.count(F.lit(1)).cast("int").alias("n_lists")))
    return _top_k(fused, RRF_TOP_K, "n_lists", score="rrf_score",
                  rank="fused_rank")


ANN_RANK_FUSION_SQL = f"""
WITH lsh AS ({ANN_LSH_BUCKETED_SQL}),
ivf AS ({ANN_IVF_SQL}),
cands AS (
  SELECT q_id, n_id, rank FROM lsh
  UNION ALL
  SELECT q_id, n_id, rank FROM ivf),
fused AS (
  SELECT q_id, n_id,
         round(sum(1.0 / ({RRF_K0} + rank)), 6) AS rrf_score,
         CAST(count(*) AS INT) AS n_lists
  FROM cands GROUP BY 1, 2)
SELECT q_id, n_id,
       CAST(row_number() OVER (
              PARTITION BY q_id ORDER BY rrf_score DESC, n_id)
            AS INT) AS fused_rank,
       rrf_score, n_lists
FROM fused
QUALIFY fused_rank <= {RRF_TOP_K}
"""


# --- persisted LSH bucket index ---------------------------------------------

LSH_INDEX_ROOT = os.path.join(_ilc.repo_root(), ".lsh_index")

# the build width persisted inside the index (r19): bucket assignment is
# stateless, so the width is the ONE piece of state probe/append must
# agree on — previously it lived only in the dir name's tag and the
# caller's discipline, and append_to_lsh_index defaulted to the pinned
# LSH_BITS: a caller that built at an auto-gated 12 bits and appended
# at the default 8 silently routed every appended vector to buckets no
# probe would ever read.  The sidecar makes the stored width readable
# (append defaults to it) and a mismatched explicit width a loud error.
LSH_WIDTH_FILE = "_WIDTH"


def _write_lsh_width(index_path: str, bits: int) -> None:
    # kernel flip_pointer (tmp + rename), not truncate-in-place (r19
    # review): a crash or a concurrent read mid-truncate would observe
    # an EMPTY sidecar, which reads as "pre-r19 index" — for a
    # rebucketed index (no backfill path) that error is permanent.
    _ilc.flip_pointer(os.path.join(index_path, LSH_WIDTH_FILE),
                      str(int(bits)))


def stored_lsh_bits(index_path: str) -> int | None:
    """The width a persisted LSH index was built/rebucketed at, or None
    for a pre-r19 dir (whose tag still encodes it caller-side)."""
    try:
        with open(os.path.join(index_path, LSH_WIDTH_FILE)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def build_lsh_index(spark: SparkSession, sf_dir: str,
                    bits: int | None = None,
                    index_path: str | None = None, force: bool = False) -> str:
    """Persist the corpus written ``partitionBy("bucket")`` — the LSH twin
    of :func:`build_ivf_index`.  Bucket assignment is a map-only sign-bit
    expression (no training, no shuffle of vectors); the single salted
    ``repartition(bucket, salt)`` is the one build-time shuffle, with up
    to BUILD_WRITERS_PER_CELL writers per hot bucket (see
    :func:`build_ivf_index`).  Amortized across every query batch served
    from the index.  ``bits=None`` auto-sizes from the corpus estimate;
    the resolved width is part of the index tag, so probe and build can
    never disagree within one index lifecycle."""
    if bits is None:
        bits = _auto_ann_bits(spark, sf_dir)
    tagged_path = index_path is None
    if index_path is None:
        tag = _ilc.index_tag(
            f"{os.path.abspath(sf_dir)}|{bits}|{_source_fingerprint(sf_dir)}")
        index_path = os.path.join(LSH_INDEX_ROOT, f"b{bits}-{tag}")
    if _ilc.serve_cached(index_path, "_SUCCESS", force):
        _backfill_stats(spark, index_path, "bucket")
        stored = stored_lsh_bits(index_path)
        if stored is None:
            # pre-r19 dir: backfill — but ONLY on the tag path, where
            # ``bits`` is provably the build width (it is part of the
            # dir tag).  For an explicit index_path the caller's bits
            # are a claim, not evidence (r19 review: stamping them
            # re-introduces, with a trusted signature, the silent
            # wrong-width routing the sidecar exists to prevent) —
            # leave the sidecar absent so append keeps demanding an
            # explicit width.
            if tagged_path:
                _write_lsh_width(index_path, bits)
        elif stored != bits:
            # explicit-path cache hit at a contradicting width: the
            # caller would get an index whose buckets its probes never
            # read — same loud failure as append's width check
            raise ValueError(
                f"{index_path}: cached index was built at "
                f"bits={stored} but bits={bits} was requested — pass "
                "bits=None (the stored width), force=True to rebuild, "
                "or rebucket_lsh_index to change width")
        return index_path
    bucketed = (_emb(spark, sf_dir)
                .withColumn("bucket", _bucket_expr(F.col("embedding"), bits)))
    _write_index(bucketed, "bucket", index_path, "overwrite")
    # per-bucket occupancy sidecar (2^bits rows): the width-staleness
    # report reads this instead of re-scanning the index (r16)
    _write_stats(index_path, _bucket_stats(bucketed), "overwrite")
    # the build width, readable by append/probe (r19 — see LSH_WIDTH_FILE);
    # lands before the completeness marker like every sidecar
    _write_lsh_width(index_path, bits)
    _ilc.finish_build(index_path, LSH_INDEX_ROOT)
    return index_path


def append_to_lsh_index(spark: SparkSession, index_path: str,
                        batch_emb: DataFrame, bits: int | None = None) -> bool:
    """Admit an ingestion batch into a persisted LSH index.  Bucket
    assignment is a stateless sign-bit expression, so unlike IVF the
    only stored state is the WIDTH — ``bits=None`` (r19 default) reads
    it from the index's ``_WIDTH`` sidecar, and an explicit ``bits``
    that contradicts the sidecar raises instead of silently routing the
    batch to buckets no probe reads (the pre-r19 default was the pinned
    ``LSH_BITS`` regardless of the built width).  Map-only assignment,
    one batch-sized shuffle, ``mode("append")``.

    EXACTLY-once per batch through the kernel's admission ledger — a
    lost-ack retry is a no-op, a torn retry completes without
    duplicating landed rows (:func:`_admit_batch`)."""
    stored_bits = stored_lsh_bits(index_path)
    if bits is None:
        if stored_bits is None:
            raise ValueError(
                f"{index_path}: no _WIDTH sidecar (pre-r19 index) — pass "
                "bits explicitly (the width the index was built at; it "
                "is encoded in the dir tag)")
        bits = stored_bits
    elif stored_bits is not None and bits != stored_bits:
        raise ValueError(
            f"{index_path}: append at bits={bits} but the index was "
            f"built at bits={stored_bits} — a mismatched width routes "
            "the batch to buckets no probe reads; use bits=None (the "
            "stored width) or rebucket_lsh_index first")
    batch_emb = _coerce_to_stored(spark, index_path, batch_emb)
    bucketed = lambda b: b.withColumn(                       # noqa: E731
        "bucket", _bucket_expr(F.col("embedding"), bits))

    def land_data(b: DataFrame) -> None:
        _write_index(bucketed(b), "bucket", index_path, "append")

    def stats_epoch(b: DataFrame) -> None:
        # batch occupancy appended AFTER the data lands (a crash
        # between the two leaves a dangling intent; the retry repairs)
        _write_stats(index_path, _bucket_stats(bucketed(b)), "append")

    return _admit_batch(spark, index_path, batch_emb, land_data,
                        stats_epoch, "bucket")


def lsh_width_report(spark: SparkSession, index_path: str,
                     built_bits: int, auto_bits: int) -> DataFrame:
    """One-row width-staleness report for a persisted LSH index — the
    LSH twin of :func:`ivf_staleness_report` (r15): the auto-bits gate
    (2^bits ≈ N / bucket_target) says what width TODAY'S corpus wants;
    an index built when the corpus was smaller keeps serving at its
    build width, and every bucket quietly grows past the target —
    probe cost per query inflates linearly with no error anywhere.
    ``stale = built_bits < auto_bits`` is the rebucket trigger, and
    :func:`rebucket_lsh_index` is the action (map-only over the index's
    own stored vectors, one salted shuffle — never a corpus re-read).
    Occupancy stats (bucket count, mean/max rows per bucket) quantify
    the inflation.  Cost: since r16 a 2^bits-row sidecar read
    (:func:`_stored_stats`) — the index itself is only rescanned when
    the sidecar can't vouch for it."""
    per = _stored_stats(spark, index_path, "bucket")
    return (per.agg(F.sum("c").cast("long").alias("n_vectors"),
                    F.count(F.lit(1)).cast("long").alias("n_buckets"),
                    F.max("c").cast("long").alias("max_bucket_rows"))
            .select("n_vectors",
                    F.lit(int(built_bits)).cast("int").alias("built_bits"),
                    F.lit(int(auto_bits)).cast("int").alias("auto_bits"),
                    "n_buckets", "max_bucket_rows",
                    F.round(F.col("n_vectors") * 1.0
                            / F.col("n_buckets"), 6)
                    .alias("mean_bucket_rows"),
                    (F.lit(int(built_bits)) < F.lit(int(auto_bits)))
                    .alias("stale")))


def lsh_width_staleness_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered driver row for the LSH width trigger: the shared
    auto-width index serves the report, so built == auto and the
    pinned verdict is ``stale = false`` with the occupancy stats under
    the driver hash (mean rows/bucket near the family's bucket
    target).  The falsifiability test builds a NARROW index, pins the
    flag flipping, rebuckets at the gate width, and pins it clearing —
    the full detect -> rebucket -> clear lifecycle."""
    bits = _auto_ann_bits(spark, sf_dir)
    p = build_lsh_index(spark, sf_dir, bits=bits)
    return lsh_width_report(spark, p, bits, bits)


def _lsh_width_staleness_sql() -> str:
    nb = sql_auto_bits_cte(LSH_BITS, ANN_BUCKET_TARGET_ROWS)
    return f"""
WITH nb AS ({nb}),
per AS (
  SELECT {sql_bucket_dyn()} AS bucket, count(*) AS c
  FROM embeddings, nb GROUP BY 1)
SELECT CAST(sum(c) AS BIGINT)            AS n_vectors,
       CAST(nb.bits AS INT)              AS built_bits,
       CAST(nb.bits AS INT)              AS auto_bits,
       CAST(count(*) AS BIGINT)          AS n_buckets,
       CAST(max(c) AS BIGINT)            AS max_bucket_rows,
       round(sum(c) * 1.0 / count(*), 6) AS mean_bucket_rows,
       CAST(FALSE AS BOOLEAN)            AS stale
FROM per, nb GROUP BY nb.bits
"""


LSH_WIDTH_STALENESS_SQL = _lsh_width_staleness_sql()


def rebucket_lsh_index(spark: SparkSession, index_path: str, new_bits: int,
                       out_path: str | None = None) -> str:
    """Rewrite a persisted LSH index at a new bucket width — the
    lifecycle step the auto-bits gate implies: when the corpus outgrows
    the width its index was built at (2^bits ≈ N / bucket_target), the
    index is re-bucketed ONCE from its own stored vectors.  Map-only
    over the index (no re-read of the source corpus, no training); the
    one shuffle is the same salted bucket repartition a fresh build
    pays.  The result is bit-identical to a fresh build at ``new_bits``
    (pytest-pinned), so probes against the new path keep the exact
    ann_lsh_bucketed semantics at the new width.

    Delete propagation: the source rows load tombstone-FILTERED
    (operators/deletion.py), so a rebucket cannot resurrect deleted
    vectors into the new index — which also makes rebucketing a
    natural compaction point (the new index starts with no tombstone
    log)."""
    from .deletion import index_rows

    # same admission guard as every destructive maintenance op (r19
    # review): an in-flight batch's rows may be half-landed in the
    # source index, and the successor would carry a torn snapshot
    if _ilc.admits_in_flight(index_path):
        raise RuntimeError(
            f"{index_path}: a batch admission is in flight — "
            "rebucketing now would snapshot a half-landed batch; retry "
            "after it commits")
    if out_path is None:
        out_path = index_path.rstrip("/") + f"-rb{new_bits}"
    rebucketed = (index_rows(spark, index_path, id_col="vec_id")
                  .select("vec_id", "embedding")
                  .withColumn("bucket",
                              _bucket_expr(F.col("embedding"), new_bits)))
    _write_index(rebucketed, "bucket", out_path, "overwrite")
    _write_stats(out_path, _bucket_stats(rebucketed), "overwrite")
    _write_lsh_width(out_path, new_bits)   # the new index's stored width
    # the successor inherits the source's admitted-batch ledger so
    # replays of batches the rebucket carried over stay refused —
    # everything lands before the completeness marker
    _carry_admission_ledger(index_path, out_path)
    _touch(os.path.join(out_path, "_SUCCESS"))
    return out_path


def ann_lsh_indexed_df(spark: SparkSession, sf_dir: str,
                       bits: int | None = None) -> DataFrame:
    """Bucketed ANN served from the persisted index: the index scan
    joins the broadcast query batch on its raw ``bucket`` partition
    column, so dynamic partition pruning reads ONLY the query buckets'
    directories (plan test), and building the frame runs no Spark job.
    Result rows identical to ``ann_lsh_bucketed_df`` (same oracle)."""
    if bits is None:
        bits = _auto_ann_bits(spark, sf_dir)
    index_path = build_lsh_index(spark, sf_dir, bits)
    # the bucket expression is an int, the partition column's type: the
    # join needs no cast on the scan side, which would stop the pruning
    q = _audit_queries(_emb(spark, sf_dir), LSH_N_QUERIES,
                       _bucket_expr(F.col("embedding"), bits).alias("bucket"))
    from .deletion import index_rows

    idx = index_rows(spark, index_path, id_col="vec_id") \
        .withColumn("__nn", vnorm(F.col("embedding")))
    probes = q.withColumn("__qn", vnorm(F.col("q_emb")))
    return _top_k(_score_candidates(idx, probes, "bucket"), LSH_TOP_K)


# --- hard-negative mining ----------------------------------------------------

# Near-duplicate ceiling for negative mining — aligned with the
# embedding near-dup threshold the dedup family uses
# (operators/dedup.py COSINE_THRESHOLD): a "negative" at or above it is
# presumed a paraphrase/duplicate of the query, and training a
# retriever against it teaches the model to push true matches apart
# (the classic false-negative poisoning problem in contrastive
# training).
HARD_NEG_CEIL = 0.4


def ann_hard_negatives_df(spark: SparkSession, sf_dir: str,
                          ceil: float = HARD_NEG_CEIL) -> DataFrame:
    """Hard-negative mining for contrastive/retriever training: per
    query, the top-k MOST similar corpus vectors that are NOT
    near-duplicates (cosine < ceil) — the highest-value negatives a
    random sampler never finds, with the false-negative band excluded.
    ``n_near_dup_excluded`` counts the excluded band per query, so the
    row itself shows where the exclusion changed the result
    (pytest-pinned non-vacuous on the fixture corpus).

    Scale shape: identical to ann_cosine_topk — queries broadcast, one
    shuffle-free corpus scan, per-query top-k windows over
    candidate-sized rows; the exclusion is a scan-side predicate."""
    # Q x N scoring in the bit-exact Arrow kernel (r20; see
    # _brute_scored_pairs) — the exclusion band and top-k below need
    # every pair's round-6 score, which the kernel emits unchanged
    scored = _brute_scored_pairs(spark, sf_dir, LSH_N_QUERIES)
    wq = Window.partitionBy("q_id")
    return _top_k(scored
                  .withColumn("n_near_dup_excluded",
                              F.sum(F.when(F.col("cosine") >= ceil, 1)
                                    .otherwise(0)).over(wq).cast("long"))
                  .where(F.col("cosine") < ceil),
                  LSH_TOP_K, "n_near_dup_excluded")


ANN_HARD_NEGATIVES_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         round({sql_cosine('q.embedding', 'c.embedding')}, 6) AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {LSH_N_QUERIES}),
flagged AS (
  SELECT q_id, n_id, cosine,
         CAST(sum(CASE WHEN cosine >= {HARD_NEG_CEIL} THEN 1 ELSE 0 END)
              OVER (PARTITION BY q_id) AS BIGINT) AS n_near_dup_excluded
  FROM scored),
ranked AS (
  SELECT q_id, n_id, cosine, n_near_dup_excluded,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, n_id ASC) AS rank
  FROM flagged WHERE cosine < {HARD_NEG_CEIL})
SELECT q_id, n_id, rank, cosine, n_near_dup_excluded
FROM ranked WHERE rank <= {LSH_TOP_K}
"""


# --- IVF-PQ: product-quantization codebooks + asymmetric-distance scan -------
# (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011 — the IVFADC system — plus the FAISS-style
# refine/rerank stage; the ringo reference has no vector surface, this
# is the brief's training-pipeline scope.)
# (r14, VERDICT r13 item 4 — completes the 100 TB vector-index story:
# int8 scalar quantization exists as embed_quantize; PQ compresses a
# 64-dim float64 vector to PQ_M single-byte codes, a 64x memory cut,
# and the ADC scan scores candidates from PQ_M table lookups instead
# of a 64-dim dot product.)
#
# Design: the vector splits into PQ_M subvectors of PQ_DSUB dims; each
# subspace trains its own PQ_K-entry codebook with the SAME rounded
# deterministic Lloyd trajectory as train_ivf_centroids (squared-L2
# assignment rounded to 6dp with cid tie-break, component-wise
# round(avg, 6) update, init = the first PQ_K vectors' subvectors), so
# the DuckDB oracle replays training bit-for-bit.  Asymmetric distance:
# the QUERY stays exact; a candidate is scored through its
# reconstruction x^ = concat_m codebook[m][code_m], and
#   adc_cosine(q, x^) = sum_m dot(q_m, c_m)
#                       / (||q|| * sqrt(sum_m dot(c_m, c_m)))
# — every term a per-subspace table lookup, summed in subspace order
# (both engines fold m = 0..M-1 sequentially, the tfidf_bm25
# ordered-sum discipline).
#
# Scale shape: codebooks are PQ_M x PQ_K x PQ_DSUB doubles (8 KB here;
# index METADATA, driver/broadcast-sized by construction).  Training
# touches subvector rows (corpus x PQ_M narrow rows, map-side-combined
# aggregates); encoding is one broadcast join; the search reads ONLY
# the probed cell directories of the persisted cell-partitioned index
# (partition pruning, tombstone-aware via index_rows) and scores with
# codegen'd lookups — candidate vectors never leave their scan stage
# and raw embeddings are not in the index at all.

PQ_M = 8                      # subspaces
PQ_DSUB = EMB_DIM // PQ_M     # dims per subspace
PQ_K = 16                     # codes per subspace codebook
PQ_ITERS = 2                  # Lloyd iterations per codebook
PQ_RERANK = 50                # ADC shortlist size refined with exact cosine
PQ_RECALL_FLOOR = 0.7         # contract floor for the bounds row (measured
                              # 0.81/0.79/0.76 at sf0.001/0.01/0.1; ADC-only
                              # sits at 0.29-0.57 — the rerank is load-bearing
                              # and the floor falsifies both stages)


def _subvec(col, m: int):
    return F.slice(col, m * PQ_DSUB + 1, PQ_DSUB)


def _l2r(a, b):
    """Squared L2 rounded to 6dp — a sequential fold, mirrored by the
    oracle's list comprehension sum."""
    return F.round(F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, v: acc + v), 6)


def _pq_subspace_rows(emb: DataFrame) -> DataFrame:
    """(vec_id, m, sv) — each vector split into its PQ_M subvectors."""
    cols = [F.struct(F.lit(m).alias("m"),
                     _subvec(F.col("embedding"), m).alias("sv"))
            for m in range(PQ_M)]
    return (emb.select("vec_id", F.explode(F.array(*cols)).alias("x"))
            .select("vec_id", F.col("x.m").alias("m"),
                    F.col("x.sv").alias("sv")))


def _pq_cb_arr(cb_df: DataFrame, arr_col: str = "__cb",
               ms_col: str = "__ms") -> DataFrame:
    """The (m, cid, cvec) codebook relation folded to ONE broadcastable
    row — an (m, cid)-sorted ``array<struct<m,cid,cvec>>`` plus the
    sorted distinct subspace list — the carrier of the map-only PQ
    argmin form (r19 opt, the :func:`_cent_arr` pattern)."""
    return cb_df.agg(
        F.sort_array(F.collect_list(
            F.struct("m", "cid", "cvec"))).alias(arr_col),
        F.array_sort(F.collect_set("m")).alias(ms_col))


def _pq_codes_expr(emb_col: str = "embedding", arr_col: str = "__cb",
                   ms_col: str = "__ms"):
    """The m-ordered PQ code array for one embedding row as a single
    projection over the folded codebook row (:func:`_pq_cb_arr`): per
    subspace the lexicographic (round(L2^2, 6), cid) ``array_min`` —
    identical values, tie-break, and code order to the old exploded
    groupBy form."""
    enc = lambda m: F.array_min(F.transform(  # noqa: E731
        F.filter(F.col(arr_col), lambda c: c.getField("m") == m),
        lambda c: F.struct(
            _l2r(_subvec(F.col(emb_col), m),
                 c.getField("cvec")).alias("d"),
            c.getField("cid").alias("cid")))).getField("cid")
    return F.transform(F.col(ms_col), enc)


def _pq_argmin_code(sv_col: str, m_col: str, arr_col: str = "__cb"):
    """Argmin codebook entry for one (subvector, m) row against the
    folded codebook array: lexicographic ``array_min`` over
    (round(L2^2, 6), cid) structs — identical values and tie-break
    (min d, then min cid) to the old groupBy min-struct form."""
    score = lambda c: F.struct(  # noqa: E731
        _l2r(F.col(sv_col), c.getField("cvec")).alias("d"),
        c.getField("cid").alias("cid"))
    mine = F.filter(F.col(arr_col),
                    lambda c: c.getField("m") == F.col(m_col))
    return F.array_min(F.transform(mine, score)).getField("cid")


def train_pq_codebooks(spark: SparkSession, sf_dir: str) -> dict:
    """{(m, cid): [floats]} after PQ_ITERS Lloyd rounds per subspace.
    Driver state is PQ_M x PQ_K codebook rows per iteration (the
    train_ivf_centroids cost model at a fraction of the size); the
    per-iteration work is one map-side-combined argmin aggregate over
    the subvector rows.  A code that attracts no vectors drops out
    (same semantics as the k-means cell CTEs)."""
    # widen the under-split scan and cache across the Lloyd iterations
    # (the train_ivf_centroids shape, r19 opt): the per-subvector
    # argmin is map CPU that nothing downstream re-parallelizes now
    # that the assignment is a projection
    emb = _emb_wide(spark, sf_dir).cache()
    try:
        sub = _pq_subspace_rows(emb)
        init = _pq_subspace_rows(
            emb.where(F.col("vec_id") < PQ_K)).collect()
        cb = {(r.m, r.vec_id): [float(x) for x in r.sv] for r in init}
        for _ in range(PQ_ITERS):
            cb_df = _cb_df(spark,
                           [(m, c, v) for (m, c), v in sorted(cb.items())])
            # map-only argmin (r19 opt): the codebook rides as ONE
            # broadcast array-of-structs row and each (vec_id, m) row's
            # code is an array_min projection — the old broadcast-join +
            # groupBy(vec_id, m) exploded N x M x K rows into a
            # subvector-wide corpus shuffle per iteration.  Same
            # lexicographic (d, cid) min (the old min-struct's trailing
            # sv never participated: cid is unique per m), so the
            # oracle-replayed trajectory is unchanged; the update's
            # partial agg now combines map-side straight off the
            # projection — the exchange carries M x K rows per mapper,
            # never the corpus.
            assigned = (sub.crossJoin(F.broadcast(_pq_cb_arr(cb_df)))
                        .select("m",
                                _pq_argmin_code("sv", "m").alias("cid"),
                                "sv"))
            upd = (assigned
                   .groupBy("m", "cid")
                   .agg(*[F.round(F.avg(F.element_at("sv", j)), 6)
                          .alias(f"c{j}") for j in range(1, PQ_DSUB + 1)])
                   .collect())
            cb = {(r.m, r.cid): [r[f"c{j}"] for j in range(1, PQ_DSUB + 1)]
                  for r in upd}
    finally:
        emb.unpersist()
    return cb


def _pq_encode(emb: DataFrame, cb_df: DataFrame) -> DataFrame:
    """(vec_id, codes) — per subspace the argmin codebook entry,
    assembled into an m-ordered code array.  Map-only since the r19
    opt: the codebook rides as ONE broadcast array row
    (:func:`_pq_cb_arr`) and the whole code array is a single
    ``transform`` over the sorted subspace list — the old form exploded
    the corpus into N x M subvector rows, broadcast-joined K codebook
    entries onto each, and re-grouped TWICE (argmin, then code-array
    assembly: two corpus-keyed shuffles of subvector-wide rows).  Same
    lexicographic (round(L2^2, 6), cid) argmin per subspace and the
    same m-ascending code order, so stored codes are bit-identical."""
    return (emb.crossJoin(F.broadcast(_pq_cb_arr(cb_df)))
            .select("vec_id", _pq_codes_expr().alias("codes")))


def _pq_assign_cells(df: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cell) for a PQ append batch via :func:`_with_cell` —
    the same assignment :func:`build_pq_index` fuses with encoding, so
    cell routing can never diverge within one index lifecycle."""
    return _with_cell(df, cent).select("vec_id", "cell")


def build_pq_index(spark: SparkSession, sf_dir: str,
                   index_path: str | None = None,
                   k: int | None = None, force: bool = False) -> str:
    """Build (once) the persisted IVF-PQ index: (vec_id, codes) rows
    written ``partitionBy("cell")`` — the cell layer is the same
    deterministic seed-centroid assignment as ann_ivf (production swaps
    in trained centroids; everything else unchanged) — with the
    codebooks AND centroids persisted as underscore sidecars, so the
    index is self-contained: appends encode and route with the stored
    artifacts, never a recomputation that could drift.  The index
    stores CODES ONLY (PQ_M bytes of information per vector vs
    EMB_DIM doubles), which is the PQ memory story."""
    if k is None:
        k = _auto_ivf_k(spark, sf_dir)
    if index_path is None:
        # "|c" = centroids persisted alongside (append support)
        tag = _ilc.index_tag(
            f"{os.path.abspath(sf_dir)}|pq|{k}|{PQ_M}|{PQ_K}|{PQ_ITERS}|"
            f"{_source_fingerprint(sf_dir)}|c")
        index_path = os.path.join(IVF_INDEX_ROOT, f"pq{k}-{tag}")
    if _serve_cached_sidecars(index_path, ["_codebooks", "_centroids"],
                              force):
        return index_path
    cb = train_pq_codebooks(spark, sf_dir)
    cb_df = _cb_df(spark, [(m, c, v) for (m, c), v in sorted(cb.items())])
    cent = _seed_centroids(_emb(spark, sf_dir), k)
    # encode + cell-route fused into ONE map-only pass over the widened
    # scan (r19 opt): both are broadcast-array argmin/argmax
    # projections, so there is no encode-to-cells join on vec_id — the
    # only exchange is the writer repartition that shapes the files.
    _write_index(_with_cell(_emb_wide(spark, sf_dir), cent)
                 .crossJoin(F.broadcast(_pq_cb_arr(cb_df)))
                 .select("vec_id", _pq_codes_expr().alias("codes"), "cell"),
                 "cell", index_path, "overwrite")
    cb_df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(index_path, "_codebooks"))
    (cent.coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(index_path, "_centroids")))
    _ilc.finish_build(index_path, IVF_INDEX_ROOT)
    return index_path


def append_to_pq_index(spark: SparkSession, index_path: str,
                       batch_emb: DataFrame) -> bool:
    """Admit an ingestion batch into a persisted PQ index: the batch is
    ENCODED with the index's stored codebooks and ROUTED with its
    stored centroids (recomputing either would silently desynchronize
    codes/cells from the existing rows — the append_to_ivf_index
    rule), then appended ``partitionBy("cell")``.  Cost is O(batch):
    one broadcast-codebook encode + one broadcast-centroid argmax +
    one batch-sized shuffle; existing files never rewrite.  Codebook
    or centroid retraining is a rebuild, by design.

    EXACTLY-once per batch through the kernel's admission ledger
    (:func:`_admit_batch`); no stats sidecar to repair — the PQ index
    stores codes, not raw embeddings, so the torn-retry anti-join runs
    on the stored (vec_id) column alone."""
    cb_df = _cb_df(spark, _stored_centroids(index_path, "_codebooks"))
    cent = _cent_df(spark, _stored_centroids(index_path))
    batch_emb = batch_emb.select("vec_id", "embedding")

    def land_data(b: DataFrame) -> None:
        cells = _pq_assign_cells(b, cent)
        _write_index(_pq_encode(b, cb_df).join(cells, "vec_id"), "cell",
                     index_path, "append")

    return _admit_batch(spark, index_path, batch_emb, land_data)


def _sql_dot(a: str, b: str) -> str:
    """:func:`textfn.dot` spelled in Spark SQL: the same left-to-right
    double fold, so it analyzes to the same expression."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> "
            f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (x, y) -> x + y)")


def _adc_cosine(q_col: str, codes_col: str, cb: dict):
    """Codegen'd asymmetric-distance scoring: per subspace, look the
    candidate's code up in the literal codebook and fold dot / norm
    terms in m order (matching the oracle's ordered list_reduce).
    Codes that dropped out during training never appear in any codes
    array, so their zero placeholders are unreachable.

    The whole score is ONE SQL expression, so building it is one JVM
    call: one ``F.lit`` per codebook value and one lambda per fold cost
    ~9k py4j round trips per construction.  ``repr`` is the shortest
    string that parses back to the same double, so each constant-folded
    codebook literal is bit-identical to the per-value form."""
    zero = [0.0] * PQ_DSUB
    dots, n2 = [], []
    for m in range(PQ_M):
        book = "array(" + ", ".join(
            "array(" + ", ".join(f"{float(x)!r}D"
                                 for x in cb.get((m, cid), zero)) + ")"
            for cid in range(PQ_K)) + ")"
        cm = f"element_at({book}, element_at({codes_col}, {m + 1}) + 1)"
        sub = f"slice({q_col}, {m * PQ_DSUB + 1}, {PQ_DSUB})"
        dots.append(_sql_dot(sub, cm))
        n2.append(_sql_dot(cm, cm))
    return F.expr(f"round(({' + '.join(dots)}) / "
                  f"(sqrt({_sql_dot(q_col, q_col)}) * "
                  f"sqrt({' + '.join(n2)})), 6)")


def ann_ivf_pq_df(spark: SparkSession, sf_dir: str,
                  k: int | None = None,
                  nprobe: int | None = None,
                  rerank: int = PQ_RERANK) -> DataFrame:
    """Top-5 neighbors for the first LSH_N_QUERIES queries via the
    FAISS-style IVFPQ+refine pipeline: the persisted cell-partitioned
    PQ index is scanned ADC-only over the probed cells (partition
    pruning, tombstone-aware via index_rows, pure codegen over the
    stored codes — no raw embeddings in the scan), the per-query ADC
    top-``rerank`` shortlist is then REFINED with exact cosine (raw
    vectors fetched for shortlist rows only — a fixed R per query, so
    the refine cost does not grow with the corpus) and the exact top-5
    returned with both scores.  Probes score the K stored centroids and
    the scan joins them on its raw ``cell`` partition column, so
    dynamic partition pruning reads only the probed cells (see
    :func:`ann_ivf_indexed_df`); the codebooks and centroids are read
    driver-side (:func:`_stored_centroids`), so a warm call builds the
    frame with no Spark job.  ``nprobe=None`` resolves against the
    STORED centroid count (equal to ``k`` on a fresh build, correct
    after a geometry rewrite).  EAGER: a cache miss trains the
    codebooks and builds the index at construction."""
    if k is None:
        k = _auto_ivf_k(spark, sf_dir)
    index_path = build_pq_index(spark, sf_dir, k=k)
    cb = {(m, c): v
          for m, c, v in _stored_centroids(index_path, "_codebooks")}
    # probes route with the index's stored _centroids, matching the
    # codes' stored _codebooks read above — the r19 serve-path rule
    # (see ann_ivf_indexed_df): every serve-time artifact comes from
    # the index itself, so probe geometry can never desynchronize from
    # the data's cell layout.  Identical to the first-k corpus vectors
    # on a fresh build (the oracle's replay).
    cent_rows = _stored_centroids(index_path)
    if nprobe is None:
        nprobe = _auto_nprobe(len(cent_rows), IVF_NPROBE)
    probes = _query_probes(spark, sf_dir, cent_rows, nprobe)

    from .deletion import index_rows

    # index scan deliberately not widened (r19 opt, measured): ADC is
    # PQ_M table lookups per pruned-cell row — cheaper than the
    # widening exchange in a warm session (see ann_ivf_indexed_df)
    idx = index_rows(spark, index_path, id_col="vec_id")
    adc = (idx.join(F.broadcast(probes), "cell")
           .where(F.col("q_id") != F.col("vec_id"))
           .select("q_id", "q_emb", F.col("vec_id").alias("n_id"),
                   _adc_cosine("q_emb", "codes", cb).alias("adc_cosine")))
    short = _top_k(adc, rerank, "q_emb", score="adc_cosine", rank="arank") \
        .select("q_id", "q_emb", "n_id", "adc_cosine")
    # rerank side deliberately NOT widened (r19 opt, measured): the
    # refine computes cosine for only Q x R shortlist matches of the
    # broadcast join — a corpus-wide widening exchange buys nothing
    nemb = _emb(spark, sf_dir).select(F.col("vec_id").alias("n_id"),
                                      F.col("embedding").alias("n_emb"))
    return _top_k(F.broadcast(short).join(nemb, "n_id")
                  .select("q_id", "n_id", "adc_cosine",
                          F.round(cosine(F.col("q_emb"), F.col("n_emb")), 6)
                          .alias("cosine")),
                  LSH_TOP_K, "adc_cosine")


def ann_pq_recall_bounds_df(spark: SparkSession, sf_dir: str,
                            k: int | None = None,
                            nprobe: int | None = None,
                            rerank: int = PQ_RERANK) -> DataFrame:
    """Driver-hashable retrieval-fidelity contract for the PQ index
    (the embed_quantize_recall_bounds pattern): per query, how many of
    the brute-force exact-cosine top-5 the ADC+refine search recovers,
    the mean recall, and a boolean pinning it above PQ_RECALL_FLOOR —
    oracle-reproduced cell-exactly (both engines replay the identical
    rounded codebook trajectory), pinned TRUE, and falsifiable: with
    the refine stage disabled (``rerank=LSH_TOP_K``, i.e. the raw ADC
    top-5) the mean collapses to ~0.29, far under the floor
    (pytest-pinned) — the contract bites on BOTH the quantization
    quality and the refine stage."""
    if k is None:
        k = _auto_ivf_k(spark, sf_dir)
    if nprobe is None:
        nprobe = _auto_nprobe(k, IVF_RECALL_NPROBE)
    pq = ann_ivf_pq_df(spark, sf_dir, k=k, nprobe=nprobe,
                       rerank=rerank).select("q_id", "n_id")
    return _recall_bounds(_emb(spark, sf_dir), _brute_truth(spark, sf_dir),
                          pq, LSH_N_QUERIES, LSH_TOP_K, PQ_RECALL_FLOOR)


def _pq_sql_ctes(nprobe_base: int) -> str:
    """The shared IVF-PQ oracle CTE chain: scale-portable k/nprobe from
    count(*) (the auto_ivf_k formula — round() never lands on an exact
    .5 because sqrt(N/2) cannot), codebook training unrolled PQ_ITERS
    times (same rounded trajectory as the Spark trainer), encode, probe
    and ADC-score — ending in an ``adc(q_id, n_id, adc_cosine)`` CTE."""
    sl = f"[t.m*{PQ_DSUB}+1 : (t.m+1)*{PQ_DSUB}]"
    l2 = (f"round(list_sum([(s.sv[j] - c.cvec[j]) * (s.sv[j] - c.cvec[j]) "
          f"for j in generate_series(1, {PQ_DSUB})]), 6)")
    parts = [f"kk AS ({sql_auto_ivf_k_cte()})",
             f"np AS ({sql_auto_nprobe_cte(nprobe_base)})", f"""sub AS (
  SELECT vec_id, t.m, embedding{sl}::DOUBLE[] AS sv
  FROM embeddings, range({PQ_M}) t(m))""", f"""cb0 AS (
  SELECT m, vec_id AS cid, sv AS cvec FROM sub WHERE vec_id < {PQ_K})"""]
    comp = ", ".join(f"round(avg(s.sv[{j}]), 6)"
                     for j in range(1, PQ_DSUB + 1))
    for i in range(PQ_ITERS):
        parts.append(f"""a{i} AS (
  SELECT s.vec_id, s.m, min({{'d': {l2}, 'cid': c.cid}}).cid AS code
  FROM sub s JOIN cb{i} c ON s.m = c.m
  GROUP BY s.vec_id, s.m)""")
        parts.append(f"""cb{i + 1} AS (
  SELECT a.m, a.code AS cid, [{comp}] AS cvec
  FROM a{i} a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m
  GROUP BY a.m, a.code)""")
    parts.append(f"""cd AS (
  SELECT s.vec_id, s.m, min({{'d': {l2}, 'cid': c.cid}}).cid AS code
  FROM sub s JOIN cb{PQ_ITERS} c ON s.m = c.m
  GROUP BY s.vec_id, s.m)""")
    parts.append(f"""cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings, kk
  WHERE vec_id < kk.k)""")
    parts.append(f"""cells AS (
  SELECT vec_id,
         max({{'s': round({sql_cosine('e.embedding', 'c.cvec')}, 6),
              'cid': c.cid}}).cid AS cell
  FROM embeddings e CROSS JOIN cent c
  GROUP BY vec_id)""")
    parts.append(f"""probes AS (
  SELECT q_id, cell FROM (
    SELECT q.vec_id AS q_id, c.cid AS cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round({sql_cosine('q.embedding', 'c.cvec')}, 6) DESC,
                      c.cid DESC) AS pr
    FROM embeddings q CROSS JOIN cent c
    WHERE q.vec_id < {LSH_N_QUERIES}), np
  WHERE pr <= np.nprobe)""")
    qsl = f"[cd.m*{PQ_DSUB}+1 : (cd.m+1)*{PQ_DSUB}]"
    parts.append(f"""terms AS (
  SELECT p.q_id, cells.vec_id AS n_id, cd.m,
         list_dot_product(qe.embedding{qsl}::DOUBLE[], cb.cvec) AS dm,
         list_dot_product(cb.cvec, cb.cvec) AS nm,
         sqrt(list_dot_product(qe.embedding::DOUBLE[],
                               qe.embedding::DOUBLE[])) AS qn
  FROM probes p
  JOIN cells ON cells.cell = p.cell AND cells.vec_id != p.q_id
  JOIN cd ON cd.vec_id = cells.vec_id
  JOIN cb{PQ_ITERS} cb ON cb.m = cd.m AND cb.cid = cd.code
  JOIN embeddings qe ON qe.vec_id = p.q_id)""")
    ordered = ("list_reduce(list_prepend(0.0::DOUBLE, "
               "list_transform(list_sort(list({{'m': m, 'v': {v}}})), "
               "x -> x.v)), (a, b) -> a + b)")
    parts.append(f"""adc AS (
  SELECT q_id, n_id,
         round({ordered.format(v='dm')}
               / (max(qn) * sqrt({ordered.format(v='nm')})), 6)
           AS adc_cosine
  FROM terms GROUP BY q_id, n_id)""")
    return ",\n".join(parts)


def _pq_rerank_ctes() -> str:
    """ADC top-PQ_RERANK shortlist refined with exact cosine — the
    oracle's twin of the Spark refine stage, ending in
    ``rer(q_id, n_id, adc_cosine, cosine, rank)``."""
    return f"""short AS (
  SELECT q_id, n_id, adc_cosine FROM (
    SELECT q_id, n_id, adc_cosine,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY adc_cosine DESC, n_id) AS arank
    FROM adc)
  WHERE arank <= {PQ_RERANK}),
rer AS (
  SELECT q_id, n_id, adc_cosine, cosine,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, n_id) AS rank
  FROM (SELECT s.q_id, s.n_id, s.adc_cosine,
               round({sql_cosine('q.embedding', 'c.embedding')}, 6)
                 AS cosine
        FROM short s
        JOIN embeddings q ON q.vec_id = s.q_id
        JOIN embeddings c ON c.vec_id = s.n_id))"""


ANN_IVF_PQ_SQL = f"""
WITH {_pq_sql_ctes(IVF_NPROBE)},
{_pq_rerank_ctes()}
SELECT q_id, n_id, CAST(rank AS INT) AS rank, cosine, adc_cosine
FROM rer
WHERE rank <= {LSH_TOP_K}
ORDER BY q_id, rank
"""

ANN_PQ_RECALL_BOUNDS_SQL = f"""
WITH {_pq_sql_ctes(IVF_RECALL_NPROBE)},
{_pq_rerank_ctes()},
pq AS (
  SELECT q_id, n_id FROM rer WHERE rank <= {LSH_TOP_K}),
brute AS (
  SELECT q_id, n_id FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round({sql_cosine('q.embedding', 'c.embedding')}, 6)
                        DESC, c.vec_id) AS rank
    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
    WHERE q.vec_id < {LSH_N_QUERIES})
  WHERE rank <= {LSH_TOP_K}),
hits AS (
  SELECT b.q_id, count(*) AS h
  FROM brute b JOIN pq i ON b.q_id = i.q_id AND b.n_id = i.n_id
  GROUP BY 1)
SELECT q_id, hits, recall,
       round(avg(recall) OVER (), 6) AS mean_recall,
       TRUE AS meets_floor
FROM (SELECT q.vec_id AS q_id,
             CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
             round(coalesce(h.h, 0) / {LSH_TOP_K}, 6) AS recall
      FROM (SELECT vec_id FROM embeddings
            WHERE vec_id < {LSH_N_QUERIES}) q
      LEFT JOIN hits h ON h.q_id = q.vec_id)
ORDER BY q_id
"""
