"""Deterministic sampling operators for training-data pipelines.

Every large-scale corpus build needs reproducible subset selection:
train/val/test splits that never leak across reruns, per-source quotas
(cap any one crawl domain), and mixture reweighting (up/down-sample
languages or sources to a target distribution).  Random sampling is the
wrong tool at 100 TB — it is neither reproducible across engines nor
stable under retries — so every operator here keys off a portable
content hash (textfn.phash: md5-derived 60-bit, identical in Spark and
DuckDB), making results engine-independent and oracle-checkable.

Scale notes: hash-split and mixture are pure map-side projections (no
shuffle at all — the selection predicate evaluates per row and pushes
through whole-stage codegen).  The per-source quota is one shuffle on
the source key; Spark 4's WindowGroupLimit pushes the rank bound
map-side, so only ~quota rows per source survive each partial sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..catalog import read_parquet_stable as _rps

from .textfn import phash, sql_phash

HASH_MOD = 10_000        # selection resolution: 0.01%
SPLIT_SEED = 42
TRAIN_PCT, VAL_PCT = 80, 10          # test = remainder
QUOTA_PER_SOURCE = 20
# target mixture: keep-rate per language (unlisted -> DEFAULT_RATE)
MIXTURE_RATES = {"en": 1.0, "zh": 0.5, "es": 0.25}
DEFAULT_RATE = 0.1


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rps(spark, f"{sf_dir}/documents.parquet")


def _bucket(col) -> F.Column:
    """Deterministic bucket in [0, HASH_MOD) from the doc id."""
    return F.pmod(phash(col.cast("string"), SPLIT_SEED), HASH_MOD)


def split_expr(id_col) -> F.Column:
    """train/val/test label from the id's hash bucket — the single
    definition shared by `sample_hash_split` and the curation pipeline
    (SQL twin: :func:`sql_split`)."""
    pct = F.floor(_bucket(id_col) / (HASH_MOD / 100))
    return (F.when(pct < TRAIN_PCT, "train")
            .when(pct < TRAIN_PCT + VAL_PCT, "val")
            .otherwise("test"))


def sql_split(id_sql: str = "doc_id::VARCHAR") -> str:
    pct = (f"floor(({sql_phash(id_sql, SPLIT_SEED)} % {HASH_MOD})"
           f" / {HASH_MOD // 100})")
    return (f"CASE WHEN {pct} < {TRAIN_PCT} THEN 'train'"
            f" WHEN {pct} < {TRAIN_PCT + VAL_PCT} THEN 'val'"
            f" ELSE 'test' END")


def sample_hash_split_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document a stable train/val/test split (80/10/10).
    Reruns, engine changes, and data re-partitioning never move a doc
    between splits — the property that prevents eval-set leakage."""
    return (_docs(spark, sf_dir)
            .select("doc_id", "source",
                    _bucket(F.col("doc_id")).alias("bucket"),
                    split_expr(F.col("doc_id")).alias("split")))


SAMPLE_HASH_SPLIT_SQL = f"""
SELECT doc_id, source,
       {sql_phash("doc_id::VARCHAR", SPLIT_SEED)} % {HASH_MOD} AS bucket,
       {sql_split()} AS split
FROM documents
"""


def sample_per_source_quota_df(spark: SparkSession, sf_dir: str,
                               quota: int = QUOTA_PER_SOURCE) -> DataFrame:
    """Cap documents per source at ``quota``, selecting by hash order —
    the dedup-adjacent 'no single domain dominates the corpus' filter.
    Deterministic: the kept set is a pure function of doc ids."""
    w = Window.partitionBy("source").orderBy(_bucket(F.col("doc_id")),
                                             F.col("doc_id"))
    return (_docs(spark, sf_dir)
            .select("doc_id", "source",
                    F.row_number().over(w).alias("rk"))
            .where(F.col("rk") <= quota))


SAMPLE_PER_SOURCE_QUOTA_SQL = f"""
SELECT doc_id, source,
       CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY {sql_phash("doc_id::VARCHAR", SPLIT_SEED)} % {HASH_MOD},
                    doc_id) AS INT) AS rk
FROM documents
QUALIFY rk <= {QUOTA_PER_SOURCE}
"""


def sample_mixture_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reweight the corpus to a target language mixture by hash-threshold
    down-sampling: keep a doc iff its bucket falls under its language's
    keep-rate.  Map-only; the realized rate converges to the target."""
    rate = F.lit(DEFAULT_RATE)
    for lang, r in sorted(MIXTURE_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (_docs(spark, sf_dir)
            .select("doc_id", "lang", _bucket(F.col("doc_id")).alias("bucket"),
                    rate.alias("keep_rate"))
            .where(F.col("bucket") < F.col("keep_rate") * HASH_MOD)
            .select("doc_id", "lang", "keep_rate"))


_SQL_RATE = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {r}"
    for lang, r in sorted(MIXTURE_RATES.items())) + f" ELSE {DEFAULT_RATE} END"

SAMPLE_MIXTURE_SQL = f"""
SELECT doc_id, lang, CAST({_SQL_RATE} AS DOUBLE) AS keep_rate
FROM documents
WHERE {sql_phash("doc_id::VARCHAR", SPLIT_SEED)} % {HASH_MOD}
      < ({_SQL_RATE}) * {HASH_MOD}
"""


def sample_cluster_split_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAK-PROOF train/val/test split: near-duplicate documents must
    land in the SAME split, or test examples are paraphrases of training
    examples and eval scores are contaminated.  Each doc is split by the
    hash of its GROUP id — the near-dup cluster representative
    (dedup_clusters' min-label) when it has one, its own doc_id
    otherwise — using the exact split_expr every other sampler shares.

    Scale: the cluster table has one row per doc appearing in any
    verified near-dup pair — on a mass-duplicated crawled corpus that is
    a large fraction of the corpus, NOT guaranteed-small, so its
    broadcast is size-gated (over the gate the join degrades to a
    shuffle on doc_id; AQE converts back when the clusters really are
    small).  Clusters come from the persisted minhash index; the split
    itself is a map-side projection.  The invariant (no cluster
    straddles splits) is pytest-pinned."""
    from .dedup import dedup_clusters_indexed_df

    return _cluster_split(_docs(spark, sf_dir),
                          dedup_clusters_indexed_df(spark, sf_dir))


def sample_cluster_split_indexed_df(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Same leak-proof split served from the PERSISTED cluster table
    (:func:`~ringo_spark.operators.dedup.build_cluster_table`): label
    propagation runs once per corpus version at build time; each split
    call is then a single doc_id join + map-side projection — the
    steady-state shape a pipeline re-cutting splits (new ratios, new
    seeds) actually uses.  Identical result to the live recompute (same
    cluster table, pytest-pinned), so the oracle applies unchanged."""
    from .dedup import build_cluster_table
    from .deletion import read_index

    clusters = read_index(spark, build_cluster_table(spark, sf_dir))
    return _cluster_split(_docs(spark, sf_dir), clusters)


def _cluster_split(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    from ..functions.broadcast_gate import broadcast_if_small

    eff = (docs
           .join(broadcast_if_small(clusters), "doc_id", "left")
           .select("doc_id",
                   F.coalesce(F.col("cluster_id"), F.col("doc_id"))
                   .alias("group_id")))
    return eff.select("doc_id", "group_id",
                      split_expr(F.col("group_id")).alias("split"))


def _sql_cluster_split() -> str:
    from .dedup import DEDUP_CLUSTERS_SQL

    return f"""
WITH clusters AS ({DEDUP_CLUSTERS_SQL}),
eff AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS group_id
  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id)
SELECT doc_id, group_id, {sql_split('group_id::VARCHAR')} AS split
FROM eff
"""


SAMPLE_CLUSTER_SPLIT_SQL = _sql_cluster_split()


TEMP_ALPHA = 0.5    # mixture temperature: realized counts ∝ n^α


def sample_temperature_df(spark: SparkSession, sf_dir: str,
                          alpha: float = TEMP_ALPHA) -> DataFrame:
    """Temperature-scaled mixture sampling — the standard pretraining
    reweighting that up-weights low-resource groups: after sampling, the
    expected per-language count is ∝ n_lang^α (α<1 flattens the
    distribution; α=1 is identity; α=0 is uniform).  Realized by
    DOWN-sampling only: the smallest language keeps rate 1.0 and every
    other language keeps rate (n_min / n_lang)^(1-α), decided by the
    same portable content hash every sampler here uses — reproducible
    across engines and retries, no RNG.

    Scale shape: one map-side-combining count per language (tiny), the
    K-language rate table broadcast (bounded by language cardinality,
    not corpus size), then a pure map-side keep predicate — the corpus
    itself never shuffles.  Rates round to 6 decimals so the pow() is
    hash-stable across engines."""
    docs = _docs(spark, sf_dir)
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    nmin = counts.agg(F.min("n_lang").alias("n_min"))
    rates = (counts.join(F.broadcast(nmin))
             .select("lang",
                     F.round(F.pow(F.col("n_min") / F.col("n_lang"),
                                   F.lit(1.0 - alpha)), 6)
                     .alias("keep_rate")))
    # null-safe rate join (r17 review): a NULL lang forms its own
    # counts group (and can even set n_min), but a plain equi-join
    # never matches NULL — those docs were excluded outright, breaking
    # the down-sampling-only contract for the null group
    rates = rates.withColumnRenamed("lang", "r_lang")
    return (docs.join(F.broadcast(rates),
                      F.col("lang").eqNullSafe(F.col("r_lang")))
            .where(_bucket(F.col("doc_id"))
                   < F.col("keep_rate") * HASH_MOD)
            .select("doc_id", "lang", "keep_rate"))


SAMPLE_TEMPERATURE_SQL = f"""
WITH counts AS (
  SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
rates AS (
  SELECT lang,
         round(pow((SELECT min(n_lang) FROM counts) / CAST(n_lang AS DOUBLE),
                   1.0 - {TEMP_ALPHA}), 6) AS keep_rate
  FROM counts)
SELECT doc_id, d.lang AS lang, keep_rate
FROM documents d JOIN rates r ON d.lang IS NOT DISTINCT FROM r.lang
WHERE {sql_phash("doc_id::VARCHAR", SPLIT_SEED)} % {HASH_MOD}
      < keep_rate * {HASH_MOD}
"""


WEIGHT_SEED = 7          # decorrelated from SPLIT_SEED's buckets
WEIGHTED_K = 100         # sample size
_U_DENOM = float(2 ** 60)  # phash is 60-bit; (h+1)/2^60 -> u in (0, 1]


def aes_weight_key():
    """THE Efraimidis-Spirakis key derivation — (weight, -ln(u)/w
    key) over (doc_id, n_chars) — in ONE place (r17 review): the
    streaming reservoir's contract is BIT-equality with these batch
    samplers, and three hand-kept copies of the expression could
    silently desync under a future seed/floor change."""
    w = F.greatest(F.col("n_chars"), F.lit(1))
    u = (phash(F.col("doc_id").cast("string"), WEIGHT_SEED) + 1) / _U_DENOM
    return w, -F.ln(u) / w




def sample_weighted_df(spark: SparkSession, sf_dir: str,
                       k: int = WEIGHTED_K) -> DataFrame:
    """Weighted sampling WITHOUT replacement — Efraimidis–Spirakis A-ES
    (exponential keys): each doc draws u in (0, 1] from the portable
    content hash, gets key = -ln(u) / w, and the k SMALLEST keys are the
    sample.  Inclusion probability is proportional-to-size in w (here
    ``n_chars``: longer documents are likelier picks — the
    byte-budgeted corpus-subset selection), and the whole draw is a
    pure function of doc ids: reruns, engines, and partitionings agree.

    Scale shape: the key is a map-side expression; the selection is a
    global top-k, which Spark executes as TakeOrderedAndProject —
    every partition keeps its local k rows, the driver merges k-sized
    heaps.  No full sort, no full shuffle, O(k) driver memory; this is
    THE distributed form of weighted reservoir sampling (each
    partition's heap is the reservoir, merge is associative).

    Cross-engine determinism: u is an exact-integer ratio (both engines
    round the 60-bit numerator to the same IEEE double), and ln() ulp
    differences (~1e-16 relative) cannot reorder keys that live orders
    of magnitude apart, so the selected set and ranks are stable.
    """
    w, key = aes_weight_key()
    top = (_docs(spark, sf_dir)
           .select("doc_id", w.alias("weight"), key.alias("k"))
           .orderBy("k", "doc_id")
           .limit(k))
    rk = Window.orderBy("k", "doc_id")   # k rows: single-partition OK
    return (top.select("doc_id", "weight",
                       F.row_number().over(rk).alias("sel_rank"))
            .orderBy("sel_rank"))


SAMPLE_WEIGHTED_SQL = f"""
WITH keyed AS (
  SELECT doc_id, greatest(n_chars, 1) AS weight,
         -ln(({sql_phash("doc_id::VARCHAR", WEIGHT_SEED)} + 1)
             / {2 ** 60}.0) / greatest(n_chars, 1) AS k
  FROM documents)
SELECT doc_id, weight,
       CAST(row_number() OVER (ORDER BY k, doc_id) AS INT) AS sel_rank
FROM keyed
ORDER BY k, doc_id
LIMIT {WEIGHTED_K}
"""


WEIGHTED_K_PER_SOURCE = 10


def sample_weighted_stratified_df(spark: SparkSession, sf_dir: str,
                                  k: int = WEIGHTED_K_PER_SOURCE
                                  ) -> DataFrame:
    """Per-STRATUM weighted sampling without replacement: the A-ES
    exponential-key draw of :func:`sample_weighted_df`, but the k
    smallest keys win WITHIN each source — the per-domain byte-budget
    selection (every crawl domain contributes its own weighted pick,
    instead of large domains crowding out small ones globally).

    Scale shape: one shuffle on the source key; Spark's
    WindowGroupLimit pushes the rank bound MAP-side (plan-pinned), so
    only ~k rows per source survive each partial sort — the same shape
    as the per-source quota, with the weighted key replacing hash
    order.  Deterministic: same portable hash, same cross-engine
    double-derivation argument as the global sampler."""
    w, key = aes_weight_key()
    win = Window.partitionBy("source").orderBy("k", "doc_id")
    return (_docs(spark, sf_dir)
            .select("doc_id", "source", w.alias("weight"), key.alias("k"))
            .withColumn("sel_rank", F.row_number().over(win))
            .where(F.col("sel_rank") <= k)
            .select("doc_id", "source", "weight", "sel_rank"))


SAMPLE_WEIGHTED_STRATIFIED_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source, greatest(n_chars, 1) AS weight,
         -ln(({sql_phash("doc_id::VARCHAR", WEIGHT_SEED)} + 1)
             / {2 ** 60}.0) / greatest(n_chars, 1) AS k
  FROM documents)
SELECT doc_id, source, weight,
       CAST(row_number() OVER (
           PARTITION BY source ORDER BY k, doc_id) AS INT) AS sel_rank
FROM keyed
QUALIFY sel_rank <= {WEIGHTED_K_PER_SOURCE}
"""


SAMPLING_QUERIES: dict[str, tuple] = {
    "sample_hash_split": (sample_hash_split_df, SAMPLE_HASH_SPLIT_SQL),
    # near-dup-aware split: clusters (from the persisted index — same
    # pair set as live, pytest-pinned) never straddle splits
    "sample_cluster_split": (sample_cluster_split_df,
                             SAMPLE_CLUSTER_SPLIT_SQL),
    # same split served from the persisted cluster table (clustering
    # amortized to build time; identical result, same oracle)
    "sample_cluster_split_indexed": (sample_cluster_split_indexed_df,
                                     SAMPLE_CLUSTER_SPLIT_SQL),
    "sample_per_source_quota": (sample_per_source_quota_df,
                                SAMPLE_PER_SOURCE_QUOTA_SQL),
    "sample_mixture": (sample_mixture_df, SAMPLE_MIXTURE_SQL),
    # temperature-scaled source reweighting (counts ∝ n^α), hash-decided
    "sample_temperature": (sample_temperature_df, SAMPLE_TEMPERATURE_SQL),
    # Efraimidis-Spirakis weighted WOR: hash-derived exponential keys,
    # global top-k (TakeOrderedAndProject — O(k) per partition + driver)
    "sample_weighted": (sample_weighted_df, SAMPLE_WEIGHTED_SQL),
    # same draw per SOURCE stratum (WindowGroupLimit pushes the rank
    # bound map-side — the per-domain byte-budget selection)
    "sample_weighted_stratified": (sample_weighted_stratified_df,
                                   SAMPLE_WEIGHTED_STRATIFIED_SQL),
}
