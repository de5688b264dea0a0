"""Text-analysis operators over the ``documents`` table: quality scoring,
language ID, token counting, document fingerprinting.  All JVM-side
expressions with exact DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..catalog import read_parquet_stable as _rps

from ..functions.localrel import literal_df

from .textfn import sql_phash, sql_shingles, sql_tokens, tokens

STOPWORDS = ["the", "a", "of", "and", "to", "in"]

# marker words per language for the n-gram/stopword language-ID heuristic;
# languages checked in sorted order, ties -> 'unknown' when max score is 0,
# else first language (sorted) with the max score.
LANG_MARKERS = {
    "de": ["der", "die", "und", "das", "ist"],
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "y", "es"],
    "fr": ["le", "la", "et", "les", "est"],
    "zh": ["de", "shi", "le", "zai", "he"],
}

BPE_ISH = "[a-z]+|[0-9]|[^a-z0-9\\s]"


def _docs(spark: SparkSession, sf_dir: str, wide: bool = True) -> DataFrame:
    """The documents scan, widened to a data-scaled width (r19 opt,
    guide §2.6): every text-family query runs interpreted token/regex
    expressions over the corpus, and the local single-row-group file
    would run them all in ONE task.  The ``TEXT_SCORING_BYTES`` floor
    keeps the tiny local corpus from splintering into pure-overhead
    tasks; at real corpus sizes the widen is the identity.  Results are
    partitioning-independent for every registered consumer (the DuckDB
    oracle replays each with its own ordering; sketch-backed *_bounds
    rows pin booleans whose margins are designed for merge-order
    drift).

    ``wide=False`` for builders whose DAG consumes the scan through
    SEVERAL aggregate branches (tfidf/logprob LM shapes): each branch
    re-executes the round-robin map stage, so the widen was measured a
    net loss there (profiler min-of-3: tfidf_bm25 0.66->0.96s,
    doc_bigram_logprob 1.79->2.35s) while the single-pass per-doc
    shapes all won (text_quality 1.02->0.77s, doc_entropy
    0.89->0.72s)."""
    raw = _rps(spark, f"{sf_dir}/documents.parquet")
    if not wide:
        return raw
    from ..functions.spread import TEXT_SCORING_BYTES, spread_source

    return spread_source(raw, f"{sf_dir}/documents.parquet",
                         bytes_per_task=TEXT_SCORING_BYTES)


def _count_in(toks, words) -> F.Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def punct_ratio_expr(text: str = "text") -> F.Column:
    """Punctuation/char ratio with the empty-doc guard (ANSI mode makes
    x/0 an error, not NULL)."""
    n_chars = F.length(text)
    punct = F.length(F.regexp_replace(text, "[a-z0-9\\s]", ""))
    return F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))


def stopword_ratio_expr(text: str = "text") -> F.Column:
    t = tokens(F.col(text))
    return _count_in(t, STOPWORDS) / F.size(t)  # split("")->[""], never 0


def quality_score_expr(text: str = "text") -> F.Column:
    """The composite quality score — the single definition shared by
    `text_quality` and the curation pipeline (SQL twin:
    :func:`sql_quality_score`)."""
    n_words = F.size(tokens(F.col(text)))
    return (F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.4
            + (1 - punct_ratio_expr(text)) * 0.3
            + stopword_ratio_expr(text) * 0.3)


def text_quality_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: length, word count, average word
    length, punctuation ratio, stopword ratio, and a composite score."""
    t = tokens(F.col("text"))
    n_chars = F.length("text")
    n_words = F.size(t)
    word_chars = F.length(F.regexp_replace("text", "\\s", ""))
    return _docs(spark, sf_dir).select(
        "doc_id", n_chars.alias("n_chars"), n_words.alias("n_words"),
        F.round(word_chars / n_words, 6).alias("avg_word_len"),
        F.round(punct_ratio_expr(), 6).alias("punct_ratio"),
        F.round(stopword_ratio_expr(), 6).alias("stopword_ratio"),
        F.round(quality_score_expr(), 6).alias("quality_score"))


_SQL_STOP = ", ".join(f"'{w}'" for w in STOPWORDS)


def sql_punct_ratio(text: str = "text") -> str:
    return (f"CASE WHEN length({text}) > 0 THEN "
            f"length(regexp_replace({text}, '[a-z0-9\\s]', '', 'g')) "
            f"* 1.0 / length({text}) ELSE 0.0 END")


def sql_stopword_ratio(text: str = "text") -> str:
    return (f"len(list_filter({sql_tokens(text)}, "
            f"x -> list_contains([{_SQL_STOP}], x))) "
            f"* 1.0 / len({sql_tokens(text)})")


def sql_quality_score(text: str = "text") -> str:
    """DuckDB twin of :func:`quality_score_expr` — generated from the same
    components so the two cannot drift."""
    return (f"least(len({sql_tokens(text)}) / 100.0, 1.0) * 0.4 "
            f"+ (1 - {sql_punct_ratio(text)}) * 0.3 "
            f"+ ({sql_stopword_ratio(text)}) * 0.3")

TEXT_QUALITY_SQL = f"""
SELECT doc_id,
       length(text) AS n_chars,
       len({sql_tokens('text')}) AS n_words,
       round(length(regexp_replace(text, '\\s', '', 'g')) * 1.0
             / len({sql_tokens('text')}), 6) AS avg_word_len,
       round({sql_punct_ratio('text')}, 6) AS punct_ratio,
       round({sql_stopword_ratio('text')}, 6) AS stopword_ratio,
       round({sql_quality_score('text')}, 6) AS quality_score
FROM documents
"""


# --- per-source quality percentile gate (r13) --------------------------------

# keep documents at or above this quality percentile WITHIN their source
QUALITY_PCT_FLOOR = 0.25


def _scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-gate family's scoring pass: (doc_id, source,
    quality_score) for scorable docs, over the data-scaled-width
    ``_docs`` scan (r19 opt, guide §2.6)."""
    q = F.round(quality_score_expr(), 6)
    return (_docs(spark, sf_dir)
            .select("doc_id", "source", q.alias("quality_score"))
            .where(F.col("quality_score").isNotNull()))


def quality_source_percentile_df(spark: SparkSession,
                                 sf_dir: str,
                                 _scored: DataFrame | None = None
                                 ) -> DataFrame:
    """Per-SOURCE quality filtering — the curation gate that drops each
    domain's own worst tail instead of applying one global threshold (a
    global cut silently deletes entire low-scoring-but-wanted sources;
    per-source percentiles keep every source's best 75%).

    Each doc gets its quality percent-rank WITHIN its source (scores
    rounded to 6dp BEFORE ranking so cross-engine ulp noise cannot flip
    ties; remaining ties broken by doc_id, making the rank a pure
    function of the data) and survives iff rank >= the floor.

    Scale shape: one shuffle on the source key.  The exact percent-rank
    sort is per-source; a single mega-source is the skew risk, and the
    production cut for that shape is the two-pass variant this module
    already demonstrates the machinery for: per-source
    ``percentile_approx`` thresholds (mergeable GK sketch, map-side
    combine — see quantiles_approx_bounds) broadcast back as a
    threshold join, making the gate map-only at any source size.  The
    exact form is registered because its values are oracle-checkable
    cell-for-cell."""
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    wn = Window.partitionBy("source")
    # n == 1 special case: percent_rank over a singleton window is 0 in
    # every engine, so a bare `0 >= floor` would drop the source's ONLY
    # doc — contradicting "keeps every source's best 75%" and the
    # kept_exact closed form (n - ceil(floor*(n-1)) == 1 at n == 1).
    # A singleton source keeps its doc unconditionally.
    # scorable docs only (r18 null sweep): a null-text doc has a NULL
    # quality score — it cannot be ranked, and the two engines disagree
    # on where nulls sort in a window (Spark NULLS FIRST, DuckDB NULLS
    # LAST), re-ranking the whole source.  The gate fails closed:
    # unscorable docs are dropped before ranking, in both engines.
    scored = _scored if _scored is not None else _scored_docs(spark, sf_dir)
    return (scored
            .withColumn("q_pct_rank",
                        F.round(F.percent_rank().over(w), 6))
            .withColumn("_n", F.count(F.lit(1)).over(wn))
            .where((F.col("q_pct_rank") >= QUALITY_PCT_FLOOR)
                   | (F.col("_n") == 1))
            .drop("_n"))


QUALITY_SOURCE_PERCENTILE_SQL = f"""
WITH scored AS (
  SELECT doc_id, source,
         round({sql_quality_score('text')}, 6) AS quality_score
  FROM documents
  WHERE round({sql_quality_score('text')}, 6) IS NOT NULL)
SELECT doc_id, source, quality_score,
       round(percent_rank() OVER (
           PARTITION BY source
           ORDER BY quality_score, doc_id), 6) AS q_pct_rank
FROM scored
QUALIFY q_pct_rank >= {QUALITY_PCT_FLOOR}
    OR count(*) OVER (PARTITION BY source) = 1
"""


QUALITY_GATE_ACCURACY = 1000             # GK sketch accuracy (eps = 1e-3)
QUALITY_GATE_RANK_EPS = 3.0 / QUALITY_GATE_ACCURACY   # 3x published bound
# The exact gate compares round(percent_rank, 6) >= FLOOR, and under
# HALF_UP rounding (Spark and DuckDB agree for positives) that keeps
# every rank with (r-1)/(n-1) >= FLOOR - 5e-7 — so the kept_exact
# closed form must drop ceil((FLOOR - 5e-7)*(n-1)) ranks, not
# ceil(FLOOR*(n-1)) (r17 review: identical for n-1 < 2e6, where no
# representable rank lands inside the rounding window, but a mega
# source past that silently diverged from the gate it pins)
QUALITY_PCT_FLOOR_RND = QUALITY_PCT_FLOOR - 5e-7


def quality_gate_approx_bounds_df(spark: SparkSession, sf_dir: str,
                                  probe_p: float = QUALITY_PCT_FLOOR
                                  ) -> DataFrame:
    """The SCALE path of :func:`quality_source_percentile_df`, with its
    rank-error contract made driver-hashable (the quantile twin is
    ``quantiles_approx_bounds``): instead of percent-ranking every doc
    inside a per-source sort, the gate threshold comes from
    ``approx_percentile`` — a Greenwald-Khanna sketch that merges
    MAP-SIDE, so a mega-source never funnels through one partition's
    sort; the gate itself is then a broadcast threshold join, map-only.

    Per source the query emits the exact doc count, the exact kept
    count of the percent-rank gate (closed form under the gate's unique
    (quality, doc_id) ordering: kept = n - ceil(floor_pct*(n-1)) — the
    oracle reproduces it cell-exactly), the exact threshold element
    (the lowest kept quality), and a boolean asserting the sketch
    threshold lies between the order statistics at ranks
    floor_pct*n ± 3ε·n (ε = 1/accuracy) — a rank-space bracket on real
    elements, pinned TRUE by the oracle so sketch drift past 3x the
    published bound turns the driver row red.  (The bracket needs the
    sorted group — fine for a bounds/diagnostic query; the production
    path is the sketch alone.)

    ``probe_p`` exists for the falsifiability pin only: asking the
    sketch for a different percentile than the bracket checks must turn
    the boolean False on any non-trivial source (pytest-pinned) — i.e.
    the bracket is tight enough to actually catch a wrong threshold."""
    # scorable docs only — the siblings' fail-closed rule (r18/r19 null
    # sweeps): n and the rank indices must be defined over the SAME
    # population the sketch and the collected value list see, and both
    # approx_percentile and collect_list silently drop null scores — a
    # null-text doc counted in n but absent from vals shifts every
    # bracket index and flips within_rank_bounds with no real drift
    agg = (_scored_docs(spark, sf_dir)
           .select("source", F.col("quality_score").alias("q"))
           .groupBy("source")
           .agg(F.count(F.lit(1)).alias("n"),
                F.expr(f"approx_percentile(q, {probe_p}D, "
                       f"{QUALITY_GATE_ACCURACY})").alias("t_approx"),
                F.sort_array(F.collect_list("q")).alias("vals")))
    n = F.col("n")
    kept_exact = (n - F.ceil(F.lit(QUALITY_PCT_FLOOR_RND) * (n - 1))) \
        .cast("long")
    cut_idx = (F.ceil(F.lit(QUALITY_PCT_FLOOR_RND) * (n - 1)) + 1).cast("int")
    lo = F.greatest(F.lit(1),
                    F.floor(F.lit(QUALITY_PCT_FLOOR - QUALITY_GATE_RANK_EPS)
                            * n).cast("int"))
    hi = F.least(n.cast("int"),
                 (F.ceil(F.lit(QUALITY_PCT_FLOOR + QUALITY_GATE_RANK_EPS)
                         * n) + 1).cast("int"))
    within = (F.element_at("vals", lo) <= F.col("t_approx")) \
        & (F.col("t_approx") <= F.element_at("vals", hi))
    return (agg.select("source", "n",
                       kept_exact.alias("kept_exact"),
                       F.element_at("vals", cut_idx).alias("t_exact"),
                       within.alias("within_rank_bounds"))
            .orderBy("source"))


def quality_source_gate_gk_df(spark: SparkSession, sf_dir: str,
                              probe_p: float = QUALITY_PCT_FLOOR,
                              _scored: DataFrame | None = None
                              ) -> DataFrame:
    """The PRODUCTION form of the per-source quality gate at mega-source
    scale: per-source thresholds from one map-side-mergeable GK sketch
    aggregate (#sources rows), broadcast back, and the gate itself is a
    map-only predicate — the corpus never sorts and never shuffles.
    Keeps docs with quality >= the source's ~25th-percentile element.

    The kept SET itself is not oracle-hashable (within ±ε rank of the
    cut it differs from the exact gate by GK's published guarantee),
    but since r14 the gate holds its own driver row through
    :func:`quality_source_gate_gk_contract_df` — per-source set/count
    contracts pinned TRUE — alongside the threshold bracket
    (:func:`quality_gate_approx_bounds_df`) and the scale probe's
    `gate` wall-time lane.  ``probe_p`` exists for the contract row's
    falsifiability pin only."""
    # scorable docs only — same fail-closed rule as the exact gate
    # (r18 null sweep): the sketch ignores nulls anyway, but n and the
    # kept set must be defined over the same scorable population
    scored = (_scored if _scored is not None
              else _scored_docs(spark, sf_dir))
    thresholds = (scored.groupBy("source")
                  .agg(F.expr(f"approx_percentile(quality_score, "
                              f"{probe_p}D, "
                              f"{QUALITY_GATE_ACCURACY})").alias("t"))
                  .withColumnRenamed("source", "t_source"))
    # null-safe threshold join (r17 review): a NULL source forms its
    # own group in groupBy AND its own window partition in the exact
    # gate, but a plain equi-join never matches NULL — those docs
    # silently vanished from the production gate and flipped the
    # contract row red
    return (scored.join(F.broadcast(thresholds),
                        F.col("source").eqNullSafe(F.col("t_source")))
            .where(F.col("quality_score") >= F.col("t"))
            .select("doc_id", "source", "quality_score"))


def quality_source_gate_gk_contract_df(spark: SparkSession, sf_dir: str,
                                       probe_p: float = QUALITY_PCT_FLOOR
                                       ) -> DataFrame:
    """The GK production gate's own driver row (VERDICT r13 item 7 —
    "the scale path itself holds a green row, not just its bounds
    twin"): per source, the exact-gate kept count (closed form, the
    oracle reproduces it) plus two falsifiable booleans about the GK
    gate's actual kept SET, both pinned TRUE by the oracle:

    - ``exact_subset_of_gk``: every doc the exact percent-rank gate
      keeps is kept by the GK gate.  Holds whenever the sketch
      threshold's rank error is under the exact cut's (n-1)-vs-n
      offset (~0.75 ranks) — i.e. for sources up to ~0.75/ε docs
      (750k at accuracy 1000; the registered corpus sizes sit far
      inside), a TIGHTER pin than the published bound, which is the
      point of a contract row.
    - ``gk_within_bracket``: the GK kept COUNT lies between the kept
      counts of thresholding at the order statistics ±3ε·n ranks
      around the floor — the kept-set form of the published rank
      guarantee, scale-portable.

    Probing the gate at a different percentile (``probe_p``) must flip
    both booleans on non-trivial sources (pytest-pinned), so sketch
    drift actually turns the driver row red."""
    # One shared scored frame feeds all three lanes — the GK gate, the
    # exact percent-rank gate, and the per-source value-list aggregate.
    # Each lane re-evaluates it inline (no checkpoint: at the
    # data-scaled width a scoring pass is a few concurrent ~100ms
    # tasks, cheaper than a materialization barrier), but every lane
    # is now wide instead of single-task (r19 opt, guide §2.6).
    scored = _scored_docs(spark, sf_dir)
    gk = (quality_source_gate_gk_df(spark, sf_dir, probe_p=probe_p,
                                    _scored=scored)
          .select("doc_id", "source"))
    exact = (quality_source_percentile_df(spark, sf_dir, _scored=scored)
             .select("doc_id", "source"))
    agg = (scored
           .select("source", F.col("quality_score").alias("q"))
           .groupBy("source")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sort_array(F.collect_list("q")).alias("vals")))
    n = F.col("n")
    kept_exact = (n - F.ceil(F.lit(QUALITY_PCT_FLOOR_RND) * (n - 1))) \
        .cast("long")
    lo = F.greatest(F.lit(1),
                    F.floor(F.lit(QUALITY_PCT_FLOOR - QUALITY_GATE_RANK_EPS)
                            * n).cast("int"))
    hi = F.least(n.cast("int"),
                 (F.ceil(F.lit(QUALITY_PCT_FLOOR + QUALITY_GATE_RANK_EPS)
                         * n) + 1).cast("int"))
    # kept counts when thresholding at the bracket's order statistics:
    # a HIGHER threshold keeps fewer, so vals[hi] gives the minimum
    kept_min = F.size(F.filter(
        "vals", lambda v: v >= F.element_at("vals", hi)))
    kept_max = F.size(F.filter(
        "vals", lambda v: v >= F.element_at("vals", lo)))
    # every per-source join below is null-safe (r17 review): NULL
    # sources group/window fine but never match an equi-join key, so
    # their contract booleans read kept_gk=0/kept_both=0 and go red
    gk_cnt = (gk.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_gk"))
        .withColumnRenamed("source", "gk_source"))
    gk2 = gk.select(F.col("doc_id").alias("g_doc"),
                    F.col("source").alias("g_source"))
    sub_cnt = (exact.withColumnRenamed("source", "e_source")
               .join(gk2, (F.col("doc_id") == F.col("g_doc"))
                     & F.col("e_source").eqNullSafe(F.col("g_source")))
               .groupBy("e_source")
               .agg(F.count(F.lit(1)).alias("kept_both")))
    return (agg.join(gk_cnt,
                     F.col("source").eqNullSafe(F.col("gk_source")),
                     "left")
            .join(sub_cnt,
                  F.col("source").eqNullSafe(F.col("e_source")),
                  "left")
            .select(
                "source", "n", kept_exact.alias("kept_exact"),
                (F.coalesce("kept_both", F.lit(0)) == kept_exact)
                .alias("exact_subset_of_gk"),
                ((F.coalesce("kept_gk", F.lit(0)) >= kept_min)
                 & (F.coalesce("kept_gk", F.lit(0)) <= kept_max))
                .alias("gk_within_bracket"))
            .orderBy("source"))


QUALITY_SOURCE_GATE_GK_SQL = f"""
WITH scored AS (
  SELECT source, round({sql_quality_score('text')}, 6) AS q
  FROM documents
  WHERE round({sql_quality_score('text')}, 6) IS NOT NULL)
SELECT source, count(*) AS n,
       CAST(count(*) - ceil({QUALITY_PCT_FLOOR_RND} * (count(*) - 1))
            AS BIGINT) AS kept_exact,
       TRUE AS exact_subset_of_gk,
       TRUE AS gk_within_bracket
FROM scored
GROUP BY source
ORDER BY source
"""


QUALITY_GATE_APPROX_BOUNDS_SQL = f"""
WITH scored AS (
  SELECT source, round({sql_quality_score('text')}, 6) AS q
  FROM documents
  WHERE {sql_quality_score('text')} IS NOT NULL)
SELECT source, count(*) AS n,
       CAST(count(*) - ceil({QUALITY_PCT_FLOOR_RND} * (count(*) - 1))
            AS BIGINT) AS kept_exact,
       list_sort(list(q))[
           CAST(ceil({QUALITY_PCT_FLOOR_RND} * (count(*) - 1)) + 1 AS INT)]
         AS t_exact,
       TRUE AS within_rank_bounds
FROM scored
GROUP BY source
ORDER BY source
"""


# --- per-source quality drift gate (r11) ------------------------------------

# docs below this id play the already-ingested baseline cohort for the
# drift gate (the dedup ingestion twins use the same split point)
DRIFT_BASELINE_BELOW = 250
DRIFT_Z_THRESHOLD = 3.0


def text_quality_drift_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data-drift gate for ingestion: is the incoming batch's
    mean token count consistent with the already-ingested baseline for
    that source?  Emits the baseline/batch cohort sizes and means, a
    z-style drift score — (batch_mean − base_mean) / sqrt(base_var /
    n_batch), the standard error of a batch mean under the baseline
    distribution — and the |z| > DRIFT_Z_THRESHOLD verdict.  The crawl
    monitoring gate: a source whose new dump suddenly ships truncated
    or concatenated documents drifts, the rest pass.

    Exactness: cohort moments are EXACT integer sums (token counts are
    ints), cast to double only inside the identical guarded expressions
    in both engines (the anomaly_zscore pattern — no cross-engine
    stddev dependence).  Degenerate cohorts (n_base < 2, zero variance,
    empty batch) yield NULL z/verdict through lazy CASEs in both
    engines.  Only sources present in BOTH cohorts emit (inner join) —
    a brand-new source has no baseline to drift from.

    Scale shape: two map-side-combining aggregates to #sources rows
    each, joined source-to-source (broadcast-sized); the corpus itself
    never shuffles."""
    t = F.size(tokens(F.col("text"))).cast("long")
    # null sources coalesce to the same sentinel the STREAMING twin keys
    # its state by (streaming/drift.py) — grouping the raw column would
    # leave a null group the twin's '__UNKNOWN_SRC__' totals never join,
    # silently dropping its drift verdict (ADVICE r12)
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.coalesce("source", F.lit("__UNKNOWN_SRC__")).alias("source"),
        t.alias("t"))
    # ONE conditional aggregation pass: tokenization dominates the cost
    # and two separate cohort aggregates would each re-scan and
    # re-tokenize the full corpus (r11 review finding); the base/batch
    # filter moves into the aggregate functions, the inner-join
    # semantics into the n_base > 0 AND n_batch > 0 filter.
    in_base = F.col("doc_id") < DRIFT_BASELINE_BELOW
    agg = (d.groupBy("source")
           .agg(F.count(F.when(in_base, 1)).alias("n_base"),
                F.sum(F.when(in_base, F.col("t"))).alias("s1"),
                F.sum(F.when(in_base, F.col("t") * F.col("t")))
                .alias("s2"),
                F.count(F.when(~in_base, 1)).alias("n_batch"),
                F.sum(F.when(~in_base, F.col("t"))).alias("sn"))
           .where((F.col("n_base") > 0) & (F.col("n_batch") > 0)))
    base_mean = F.col("s1").cast("double") / F.col("n_base")
    batch_mean = F.col("sn").cast("double") / F.col("n_batch")
    var = ((F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n_base"))
           / (F.col("n_base") - 1))
    z_expr = F.round((batch_mean - base_mean)
                     / F.sqrt(var / F.col("n_batch")), 6)
    z = F.when(F.col("n_base") > 1, F.when(var > 0, z_expr))
    return (agg
            .select("source", "n_base", "n_batch",
                    F.round(base_mean, 6).alias("base_mean_tokens"),
                    F.round(batch_mean, 6).alias("batch_mean_tokens"),
                    z.alias("drift_z"),
                    (F.abs(z) > DRIFT_Z_THRESHOLD).alias("drifted"))
            .orderBy("source"))


TEXT_QUALITY_DRIFT_SQL = f"""
WITH d AS (
  SELECT doc_id, coalesce(source, '__UNKNOWN_SRC__') AS source,
         CAST(len({sql_tokens('text')}) AS BIGINT) AS t
  FROM documents),
agg AS (
  SELECT source,
         CAST(count(*) FILTER (doc_id < {DRIFT_BASELINE_BELOW}) AS BIGINT)
           AS n_base,
         CAST(sum(t) FILTER (doc_id < {DRIFT_BASELINE_BELOW}) AS BIGINT)
           AS s1,
         CAST(sum(t * t) FILTER (doc_id < {DRIFT_BASELINE_BELOW}) AS BIGINT)
           AS s2,
         CAST(count(*) FILTER (doc_id >= {DRIFT_BASELINE_BELOW}) AS BIGINT)
           AS n_batch,
         CAST(sum(t) FILTER (doc_id >= {DRIFT_BASELINE_BELOW}) AS BIGINT)
           AS sn
  FROM d GROUP BY 1
  HAVING n_base > 0 AND n_batch > 0),
scored AS (
  SELECT source, n_base, n_batch,
         CAST(s1 AS DOUBLE) / n_base AS base_mean,
         CAST(sn AS DOUBLE) / n_batch AS batch_mean,
         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_base)
           / (n_base - 1) AS var
  FROM agg)
SELECT source, n_base, n_batch,
       round(base_mean, 6) AS base_mean_tokens,
       round(batch_mean, 6) AS batch_mean_tokens,
       CASE WHEN n_base > 1 THEN
         CASE WHEN var > 0 THEN
           round((batch_mean - base_mean) / sqrt(var / n_batch), 6)
         END
       END AS drift_z,
       CASE WHEN n_base > 1 THEN
         CASE WHEN var > 0 THEN
           abs(round((batch_mean - base_mean) / sqrt(var / n_batch), 6))
             > {DRIFT_Z_THRESHOLD}
         END
       END AS drifted
FROM scored ORDER BY source
"""


def lang_id_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: per-language marker hit count, argmax with
    deterministic tie-break (sorted language order); 'unknown' when no
    marker hits at all.  Output keeps the actual label for evaluation."""
    t = tokens(F.col("text"))
    langs = sorted(LANG_MARKERS)
    scores = {lang: _count_in(t, LANG_MARKERS[lang]) for lang in langs}
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.when(best == 0, F.lit("unknown"))
    for lang in langs:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return _docs(spark, sf_dir).select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
        pred.alias("predicted_lang"), F.col("lang").alias("actual_lang"))


def _sql_score(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"len(list_filter(t, x -> list_contains([{words}], x)))"


_LANGS = sorted(LANG_MARKERS)
_SQL_SCORES = ",\n       ".join(f"{_sql_score(lang)} AS score_{lang}" for lang in _LANGS)
_SQL_BEST = "greatest(" + ", ".join(f"score_{lang}" for lang in _LANGS) + ")"
_SQL_PRED = ("CASE WHEN " + _SQL_BEST + " = 0 THEN 'unknown' "
             + " ".join(f"WHEN score_{lang} = {_SQL_BEST} THEN '{lang}'"
                        for lang in _LANGS)
             + " END")

LANG_ID_SQL = f"""
WITH d AS (SELECT doc_id, lang, {sql_tokens('text')} AS t FROM documents),
s AS (SELECT doc_id, lang,
       {_SQL_SCORES}
      FROM d)
SELECT doc_id, score_de, score_en, score_es, score_fr, score_zh,
       {_SQL_PRED} AS predicted_lang,
       lang AS actual_lang
FROM s
"""


def token_count_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + a BPE-ish regex token count
    (letter runs / single digits / single punctuation)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH), 0)).alias("bpe_tokens"))


TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       len({sql_tokens('text')}) AS ws_tokens,
       len(regexp_extract_all(text, '{BPE_ISH}')) AS bpe_tokens
FROM documents
"""


def doc_fingerprint_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set (robust to token shuffling, the classic near-dup probe)."""
    t = tokens(F.col("text"))
    # null text -> NULL fingerprint (null-propagation, the SQL norm and
    # the oracle's md5(NULL) behavior): concat_ws SKIPS null args, so the
    # unguarded expression fingerprinted null text as md5('') — the
    # null-injected sweep caught the divergence (r18)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("text").isNotNull(),
               F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(t)))))
        .alias("fingerprint"))


DOC_FINGERPRINT_SQL = f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({sql_tokens('text')})), ' '))
         AS fingerprint
FROM documents
"""

ROLL_B, ROLL_P = 131, 2_147_483_647


def doc_rolling_hash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive Karp-Rabin fingerprint: polynomial rolling hash over
    the token-hash sequence, h = fold(h*B + t mod P).  Complements the
    order-insensitive sorted-set fingerprint — equal only for documents
    with identical token sequences."""
    from .textfn import phash

    hs = F.transform(tokens(F.col("text")),
                     lambda t: phash(t) % F.lit(ROLL_P))
    roll = F.aggregate(hs, F.lit(0).cast("long"),
                       lambda acc, t: (acc * ROLL_B + t) % ROLL_P)
    return _docs(spark, sf_dir).select("doc_id", roll.alias("rolling_hash"))


DOC_ROLLING_HASH_SQL = f"""
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL
            ELSE list_reduce(
              list_prepend(0::BIGINT,
                [{sql_phash('t')} % {ROLL_P}
                 for t in {sql_tokens('text')}]),
              (acc, t) -> (acc * {ROLL_B} + t) % {ROLL_P}) END
         AS rolling_hash
FROM documents
"""


VOCAB_TOP_N = 100


def vocab_topk_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency table (the vocabulary-building pass every
    tokenizer training run starts with): top-N tokens by total count with
    document frequency.  One explode + one map-side-combining aggregation;
    the top-N is a TakeOrdered, never a full sort."""
    t = (_docs(spark, sf_dir)
         .select("doc_id", F.explode(tokens(F.col("text"))).alias("token")))
    return (t.groupBy("token")
            .agg(F.count(F.lit(1)).alias("freq"),
                 F.count_distinct("doc_id").alias("doc_freq"))
            .orderBy(F.desc("freq"), F.asc("token"))
            .limit(VOCAB_TOP_N))


VOCAB_TOPK_SQL = f"""
SELECT token, count(*) AS freq, count(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id, unnest({sql_tokens('text')}) AS token FROM documents)
GROUP BY token
ORDER BY freq DESC, token
LIMIT {VOCAB_TOP_N}
"""


BM25_TERMS = ("spark", "query", "join")
BM25_K1, BM25_B = 1.2, 0.75


def tfidf_bm25_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed term set — the
    score behind retrieval-based data curation (select corpus slices
    relevant to a topic).  Corpus statistics (N, avgdl, per-term df) are
    tiny aggregates broadcast against a single token-explode pass; docs
    matching no term drop out via the inner join."""
    docs = _docs(spark, sf_dir, wide=False)
    dl = docs.select("doc_id", F.size(tokens(F.col("text"))).alias("dl"))
    stats = F.broadcast(dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl")))
    toks = (docs.select("doc_id",
                        F.explode(tokens(F.col("text"))).alias("token"))
            .where(F.col("token").isin(*BM25_TERMS)))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_t = F.broadcast(tf.groupBy("token")
                       .agg(F.count_distinct("doc_id").alias("df")))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = (F.col("tf")
             + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
    contrib = idf * F.col("tf") * (BM25_K1 + 1) / denom
    # per-doc total folded in token order: double addition is
    # order-sensitive, and a plain sum() would add in partition order —
    # nondeterministic vs the oracle's scan order
    ordered_sum = F.aggregate(
        F.sort_array(F.collect_list(F.struct(F.col("token"),
                                             contrib.alias("c")))),
        F.lit(0.0), lambda acc, x: acc + x["c"])
    return (tf.join(df_t, "token").join(dl, "doc_id").crossJoin(stats)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("terms_matched"),
                 F.round(ordered_sum, 6).alias("bm25")))


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

TFIDF_BM25_SQL = f"""
WITH dl AS (
  SELECT doc_id, len({sql_tokens('text')}) AS dl FROM documents),
stats AS (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM (SELECT doc_id, unnest({sql_tokens('text')}) AS token FROM documents)
  WHERE token IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, token),
df_t AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token)
SELECT tf.doc_id,
       count(*) AS terms_matched,
       round(list_reduce(list_prepend(0.0,
                 list(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                      * tf * ({BM25_K1} + 1)
                      / (tf + {BM25_K1} * (1 - {BM25_B}
                                           + {BM25_B} * dl.dl / avgdl))
                      ORDER BY token)),
             (acc, c) -> acc + c), 6) AS bm25
FROM tf
JOIN df_t USING (token)
JOIN dl ON dl.doc_id = tf.doc_id
CROSS JOIN stats
GROUP BY tf.doc_id
"""


_LANG_COLS = sorted(LANG_MARKERS) + ["unknown"]


def lang_confusion_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix via groupBy().pivot(): one row per
    actual language, one column per predicted language.  Pivot over a
    *declared* value list compiles to conditional aggregation — one
    map-side-combining shuffle, no second pass to discover columns."""
    pred = lang_id_df(spark, sf_dir).select("actual_lang", "predicted_lang")
    return (pred.groupBy("actual_lang")
            .pivot("predicted_lang", _LANG_COLS)
            .count()
            .na.fill(0, _LANG_COLS)
            .orderBy("actual_lang"))


_SQL_CONF_COLS = ",\n       ".join(
    f"""CAST(count(*) FILTER (predicted_lang = '{lang}') AS BIGINT) AS "{lang}" """
    for lang in _LANG_COLS)

LANG_CONFUSION_SQL = f"""
SELECT actual_lang,
       {_SQL_CONF_COLS}
FROM ({LANG_ID_SQL})
GROUP BY actual_lang
"""


_UNPIVOT_METRICS = ["n_chars", "n_words", "avg_word_len", "punct_ratio",
                    "stopword_ratio", "quality_score"]


def metrics_unpivot_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) the per-document quality metrics to long form —
    the wide→long reshape feature stores and metric pipelines need.
    ``unpivot`` is pure row expansion: map-side, no shuffle."""
    wide = text_quality_df(spark, sf_dir)
    cast = [F.col(c).cast("double").alias(c) for c in _UNPIVOT_METRICS]
    return (wide.select("doc_id", *cast)
            .unpivot("doc_id", _UNPIVOT_METRICS, "metric", "value")
            .where(F.col("doc_id") < 50))


_SQL_UNPIVOT_COLS = ", ".join(_UNPIVOT_METRICS)

# INCLUDE NULLS: Spark's unpivot emits a row for a null metric value
# while DuckDB's UNPIVOT drops it by default — on null-injected data the
# two row sets diverged (300 vs 270; the r18 null sweep).  A feature
# store wants the null row (metric observed, value missing), so the
# oracle opts in to match.
METRICS_UNPIVOT_SQL = f"""
WITH wide AS (
  SELECT doc_id,
         {", ".join(f"CAST({c} AS DOUBLE) AS {c}" for c in _UNPIVOT_METRICS)}
  FROM ({TEXT_QUALITY_SQL})),
long AS (
  FROM wide UNPIVOT INCLUDE NULLS (value FOR metric IN ({_SQL_UNPIVOT_COLS})))
SELECT doc_id, metric, value FROM long
WHERE doc_id < 50
"""


# --- benchmark decontamination ----------------------------------------------
#
# The fourth classic training-data guard (next to dedup, quality, PII):
# training documents that overlap an evaluation benchmark leak test
# answers into the model.  Standard practice is n-gram overlap against
# the eval suite's n-gram universe (WMDP/GPT-3-style 8-13-gram checks;
# 5 here to fit the short synthetic docs).
#
# Scale shape: the BENCHMARK side is small by nature (eval suites are
# thousands of documents, not billions) — its distinct shingle set
# broadcasts.  The corpus side is one shingle-explode pass with a
# broadcast hash join (map-only) and a per-doc count whose exchange
# carries (doc_id, partial-count) pairs — never text, never shingles.

CONTAM_N = 5          # n-gram length for the overlap check
CONTAM_THRESHOLD = 0.5
BENCHMARK_BELOW = 100  # docs below this id play the evaluation benchmark


def benchmark_contamination_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per training document: how much of it appears verbatim (at the
    n-gram level) in the benchmark set, and whether it crosses the
    decontamination threshold.  Returns (doc_id, n_shingles, n_hit,
    contamination, is_contaminated)."""
    from ..functions.spread import spread_source
    from .textfn import shingles

    # The emptiness guard rides BELOW the widening exchange as a
    # token-count bound (r19 opt, same fix as dedup._shingled): a
    # ``size(sh) > 0`` filter above the exchange is pushed through it
    # and re-evaluates the whole 5-gram shingling under the exchange —
    # single-task on an under-split scan — then again distributed.
    # ``size(tokens) >= n`` is the identical predicate over the cheap
    # split() only.
    def _sh(docs):
        return (docs
                .select("doc_id", tokens(F.col("text")).alias("__toks"))
                .select("doc_id",
                        shingles(F.col("__toks"), CONTAM_N).alias("sh")))

    def _kept(docs):
        return docs.where(F.size(tokens(F.col("text"))) >= CONTAM_N)

    # The two sides shingle from SEPARATE scans on purpose: each side
    # keeps its doc_id filter AT the scan (a shared widened scan would
    # put a round-robin exchange below the filters and shuffle the
    # whole corpus undivided), then widens the under-split case ABOVE
    # its filter to full width (identity on a real corpus).  The bench
    # side widens too (r19 opt): its 5-gram shingling ran as ONE task —
    # 5.4s of the old 6.6s wall — because the filtered scan stays at the
    # scan's split count; the exchange above the filter moves only bench
    # docs.
    # explode_outer, NOT explode (r19 opt): a non-outer Generate makes
    # the optimizer INFER ``size(sh) > 0`` below it
    # (InferFiltersFromGenerate) and push that filter through the
    # widening exchange — re-evaluating the whole shingle pipeline
    # single-task under the exchange, exactly the duplication the
    # ``_kept`` rewrite removed.  ``_kept`` already guarantees every
    # row's sh is non-null and non-empty (>= CONTAM_N tokens), so the
    # outer explode emits the identical rows.
    path = f"{sf_dir}/documents.parquet"
    docs = _docs(spark, sf_dir, wide=False)
    bench = (_sh(spread_source(
        _kept(docs.where(F.col("doc_id") < BENCHMARK_BELOW)), path))
             .select(F.explode_outer("sh").alias("g")).distinct())
    # single shingling pass over the train side: n_shingles rides the
    # explode and the hit flag comes from a LEFT join (every exploded
    # row survives, so every train doc reaches the aggregate — no second
    # scan to recover zero-hit docs)
    train = (_sh(spread_source(
        _kept(docs.where(F.col("doc_id") >= BENCHMARK_BELOW)), path))
             .select("doc_id", F.size("sh").alias("n_shingles"),
                     F.explode_outer("sh").alias("g")))
    counted = (train.join(F.broadcast(bench.withColumn("__hit", F.lit(1))),
                          "g", "left")
               .groupBy("doc_id", "n_shingles")
               .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                    .cast("long").alias("n_hit")))
    rate = F.round(F.col("n_hit") / F.col("n_shingles"), 6)
    return counted.select("doc_id", "n_shingles", "n_hit",
                          rate.alias("contamination"),
                          (rate >= CONTAM_THRESHOLD).alias("is_contaminated"))


_CONTAM_BASE = f"""
csh AS (
  SELECT doc_id, {sql_shingles('t', CONTAM_N)} AS sh
  FROM (SELECT doc_id, {sql_tokens('text')} AS t FROM documents)
  WHERE len(t) >= {CONTAM_N})
"""

BENCHMARK_CONTAMINATION_SQL = f"""
WITH {_CONTAM_BASE},
bench AS (
  SELECT DISTINCT unnest(sh) AS g FROM csh WHERE doc_id < {BENCHMARK_BELOW}),
train AS (
  SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS g
  FROM csh WHERE doc_id >= {BENCHMARK_BELOW}),
hits AS (
  SELECT doc_id, count(*) AS n_hit
  FROM train WHERE g IN (SELECT g FROM bench)
  GROUP BY doc_id)
SELECT c.doc_id,
       len(c.sh) AS n_shingles,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       round(coalesce(h.n_hit, 0) * 1.0 / len(c.sh), 6) AS contamination,
       round(coalesce(h.n_hit, 0) * 1.0 / len(c.sh), 6)
         >= {CONTAM_THRESHOLD} AS is_contaminated
FROM csh c LEFT JOIN hits h ON h.doc_id = c.doc_id
WHERE c.doc_id >= {BENCHMARK_BELOW}
"""


# --- repetition filters ------------------------------------------------------
#
# The Gopher/RefinedWeb-style repetition signals: machine-generated and
# boilerplate text repeats itself (the same bigram over and over, long
# duplicated spans), and the standard quality pass drops documents whose
# repetition fractions cross a threshold.  Both metrics are per-document
# expressions — map-only at any corpus size (per-doc cost is quadratic
# in the doc's DISTINCT bigram count, bounded by document length, not
# corpus size).

TOP_BIGRAM_MAX = 0.20    # most-frequent-bigram occurrence fraction
DUP_TRIGRAM_MAX = 0.30   # fraction of trigram occurrences that are repeats
REP_MIN_GRAMS = 10       # below this many occurrences the fraction is
                         # statistically meaningless (a 2-token doc's one
                         # bigram is 100% "of" itself) — report 0.0; tiny
                         # docs are the length filter's job, not this one's


def _grams_all(toks, n: int):
    """All n-gram occurrences IN ORDER (no distinct — counts matter).
    Guarded for short docs: Spark's sequence() runs DESCENDING when
    start > stop, so an unguarded size-1 doc would yield bogus grams."""
    g = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return F.when(F.size(toks) >= n, g) \
            .otherwise(F.array().cast("array<string>"))


def text_repetition_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics: the occurrence fraction of the
    most frequent bigram, the repeated fraction of trigram occurrences,
    and the drop flag at the Gopher-ish thresholds."""
    from .dedup import _docs_wide

    docs = _docs_wide(spark, sf_dir)
    toks = F.col("__toks")
    bg, tg = _grams_all(toks, 2), _grams_all(toks, 3)
    # max bigram multiplicity == longest equal run in the SORTED gram
    # array: one O(B log B) sort + one O(B) fold.  (The transform/filter
    # formulation — count each distinct gram by re-scanning the array —
    # is O(B x distinct) interpreted lambda evals per document and was
    # the slowest entry in BENCH_r07 at 17s/sf0.1; same value, the
    # DuckDB oracle is unchanged.)
    init = F.expr("named_struct('prev', CAST(NULL AS STRING), "
                  "'run', 0, 'best', 0)")

    def _run_fold(a, x):
        run = F.when(x == a.getField("prev"),
                     a.getField("run") + 1).otherwise(F.lit(1))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(a.getField("best"), run).alias("best"))

    top_bg = F.aggregate(F.array_sort(bg), init, _run_fold,
                         lambda a: a.getField("best"))
    top_bg_frac = F.when(F.size(bg) >= REP_MIN_GRAMS,
                         F.round(top_bg / F.size(bg), 6)).otherwise(0.0)
    dup_tg_frac = F.when(
        F.size(tg) >= REP_MIN_GRAMS,
        F.round((F.size(tg) - F.size(F.array_distinct(tg))) / F.size(tg), 6)
    ).otherwise(0.0)
    return (docs
            .select("doc_id", tokens(F.col("text")).alias("__toks"))
            .select("doc_id", F.size(toks).alias("n_tokens"),
                    top_bg_frac.alias("top_bigram_frac"),
                    dup_tg_frac.alias("dup_trigram_frac"))
            .withColumn("is_repetitive",
                        (F.col("top_bigram_frac") > TOP_BIGRAM_MAX)
                        | (F.col("dup_trigram_frac") > DUP_TRIGRAM_MAX)))


def _sql_grams_all(t: str, n: int) -> str:
    return (f"CASE WHEN len({t}) >= {n} THEN "
            f"[array_to_string({t}[i:i+{n - 1}], ' ') "
            f"for i in generate_series(1, len({t}) - {n - 1})] "
            f"ELSE [] END")


TEXT_REPETITION_SQL = f"""
WITH g AS (
  SELECT doc_id, len(t) AS n_tokens,
         {_sql_grams_all('t', 2)} AS bg,
         {_sql_grams_all('t', 3)} AS tg
  FROM (SELECT doc_id, {sql_tokens('text')} AS t FROM documents)),
m AS (
  SELECT doc_id, n_tokens,
         CASE WHEN len(bg) >= {REP_MIN_GRAMS} THEN round(
           list_max([len(list_filter(bg, x -> x = g)) for g in list_distinct(bg)])
             * 1.0 / len(bg), 6) ELSE 0.0 END AS top_bigram_frac,
         CASE WHEN len(tg) >= {REP_MIN_GRAMS} THEN round(
           (len(tg) - len(list_distinct(tg))) * 1.0 / len(tg), 6)
         ELSE 0.0 END AS dup_trigram_frac
  FROM g)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       top_bigram_frac, dup_trigram_frac,
       top_bigram_frac > {TOP_BIGRAM_MAX}
         OR dup_trigram_frac > {DUP_TRIGRAM_MAX} AS is_repetitive
FROM m
"""


# --- unigram LM quality score (CCNet-style perplexity filter) ---------------
#
# The classic corpus-quality gate scores each document under a language
# model trained on the corpus itself — gibberish and boilerplate score
# high (surprising tokens), fluent text scores low.  Real pipelines use
# a KenLM n-gram model; a corpus-trained UNIGRAM model preserves the
# exact pipeline shape (train token distribution -> score every doc ->
# threshold on mean negative log-probability) while staying
# deterministic and oracle-checkable.

LOGPROB_HIGH = 8.0   # mean -ln p(token) above this => "surprising" doc


def doc_logprob_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean token negative log-probability under the
    corpus-trained unigram model, plus the high-perplexity flag.

    Scale shape: token counting is one (word) shuffle with map-side
    partials; the corpus-total is a 1-row broadcast; scoring joins the
    exploded token stream to the vocabulary on the word key (the
    standard "join tokens to the LM table" shape — the vocab side is
    Zipf-small next to the corpus, but NOT guaranteed broadcastable at
    100 TB, so it joins unhinted and AQE picks broadcast when it truly
    fits).  Cross-engine determinism: each token's -ln p is rounded to 6
    decimals and summed as an EXACT decimal before the final mean —
    double summation order never matters.
    """
    docs = _docs(spark, sf_dir, wide=False)
    tok = (docs
           .select("doc_id", tokens(F.col("text")).alias("__toks"))
           .select("doc_id", F.size("__toks").alias("n_tokens"),
                   F.explode("__toks").alias("w")))
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("t"))
    nlp = F.round(-F.log(F.col("c") / F.col("t")), 6) \
           .cast("decimal(18,6)")
    scored = (tok.join(vocab.crossJoin(F.broadcast(total)), "w")
              .groupBy("doc_id", "n_tokens")
              .agg(F.sum(nlp).alias("__sum_nlp")))
    # exact integer micro-unit mean with the quotient's half-up
    # rounding done in pure integers (r19 null sweep, the
    # corpus_curation fix): the decimal sum x 1e6 is an exact bigint in
    # both engines, and floor((2a+n)/(2n)) is round-half-up of a/n —
    # the old round(double_sum/n, 6) could land exactly on a 7th-digit
    # tie, where Spark rounds the decimal repr and DuckDB the binary
    # double (a 1-ulp hash split); micro/1e6 is one correctly-rounded
    # IEEE division, identical across engines
    mean_nlp = (F.expr("(2 * CAST(__sum_nlp * 1000000 AS BIGINT) "
                       "+ n_tokens) div (2 * n_tokens)")
                / F.lit(1000000.0))
    return scored.select(
        "doc_id", "n_tokens", mean_nlp.alias("mean_neg_logprob"),
        (mean_nlp > LOGPROB_HIGH).alias("is_surprising"))


DOC_LOGPROB_SQL = f"""
WITH tok AS (
  SELECT doc_id, len(t) AS n_tokens, unnest(t) AS w
  FROM (SELECT doc_id, {sql_tokens('text')} AS t FROM documents)),
vocab AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
tot AS (SELECT sum(c) AS t FROM vocab),
scored AS (
  SELECT doc_id, n_tokens,
         sum(CAST(round(-ln(c * 1.0 / t), 6) AS DECIMAL(18,6))) AS sum_nlp
  FROM tok JOIN vocab USING (w) CROSS JOIN tot
  GROUP BY doc_id, n_tokens)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST((2 * CAST(sum_nlp * 1000000 AS BIGINT) + n_tokens)
            // (2 * n_tokens) AS DOUBLE) / 1000000 AS mean_neg_logprob,
       CAST((2 * CAST(sum_nlp * 1000000 AS BIGINT) + n_tokens)
            // (2 * n_tokens) AS DOUBLE) / 1000000 > {LOGPROB_HIGH}
         AS is_surprising
FROM scored
"""


ENTROPY_LOW = 2.5   # mean token entropy below this => repetitive doc


def doc_entropy_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (in nats)
    — the quality signal that complements ``text_repetition``: templated
    or keyword-stuffed text concentrates its token mass and scores low,
    natural prose scores near ln(vocab).  Computed as
    H = ln n − (Σ c·ln c)/n over the doc's token counts, so the only
    libm call sits inside a per-(doc, token) rounded term.

    Scale shape: explode → (doc, token) count → per-doc sum, both
    shuffles keyed on the doc id (the second reuses the first's
    partitioning); the Σ c·ln c term is an EXACT decimal sum of rounded
    per-token terms, so double summation order never matters (the
    doc_logprob discipline)."""
    docs = _docs(spark, sf_dir)
    tok = (docs.select("doc_id", tokens(F.col("text")).alias("__t"))
           .select("doc_id", F.size("__t").alias("n_tokens"),
                   F.explode("__t").alias("w")))
    per_tok = (tok.groupBy("doc_id", "n_tokens", "w")
               .agg(F.count(F.lit(1)).alias("c")))
    clnc = F.round(F.col("c") * F.log(F.col("c")), 6).cast("decimal(18,6)")
    ent = F.round(F.log(F.col("n_tokens"))
                  - F.col("__s").cast("double") / F.col("n_tokens"), 6)
    return (per_tok.groupBy("doc_id", "n_tokens")
            .agg(F.sum(clnc).alias("__s"),
                 F.count(F.lit(1)).alias("distinct_tokens"))
            .select("doc_id", "n_tokens",
                    F.col("distinct_tokens").cast("long")
                    .alias("distinct_tokens"),
                    ent.alias("token_entropy"),
                    (ent < ENTROPY_LOW).alias("is_low_entropy")))


DOC_ENTROPY_SQL = f"""
WITH tok AS (
  SELECT doc_id, len(t) AS n_tokens, unnest(t) AS w
  FROM (SELECT doc_id, {sql_tokens('text')} AS t FROM documents)),
per_tok AS (
  SELECT doc_id, n_tokens, w, count(*) AS c
  FROM tok GROUP BY 1, 2, 3),
agg AS (
  SELECT doc_id, n_tokens,
         sum(CAST(round(c * ln(c), 6) AS DECIMAL(18,6))) AS s,
         CAST(count(*) AS BIGINT) AS distinct_tokens
  FROM per_tok GROUP BY 1, 2)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, distinct_tokens,
       round(ln(n_tokens) - CAST(s AS DOUBLE) / n_tokens, 6)
         AS token_entropy,
       round(ln(n_tokens) - CAST(s AS DOUBLE) / n_tokens, 6)
         < {ENTROPY_LOW} AS is_low_entropy
FROM agg
"""


BIGRAM_LAMBDA = 0.8    # Jelinek-Mercer interpolation weight on the bigram
BIGRAM_HIGH = 3.5      # mean -ln p(w2|w1) above this => "surprising" doc


def doc_bigram_logprob_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-probability under a corpus-trained
    INTERPOLATED BIGRAM model (Jelinek-Mercer:
    p(w2|w1) = λ·c(w1w2)/c(w1·) + (1−λ)·c(w2)/T) — the sequel to the
    unigram ``doc_logprob``: repetitive/templated text scores low,
    word-salad scores high even when its unigrams are common, which is
    exactly what the unigram gate misses.

    Scale shape: bigram pairs explode MAP-SIDE from each doc's token
    array (arrays_zip of two slices — the text never shuffles); the
    model tables are two hash aggregations (bigram key, context key)
    plus the shared unigram vocab, each Zipf-small next to the corpus
    but NOT guaranteed broadcastable at 100 TB, so the scoring joins run
    unhinted and AQE broadcasts when they truly fit.  Cross-engine
    determinism: the interpolation is the identical double expression
    shape in both engines, each bigram's −ln p rounds to 6 decimals and
    sums as an EXACT decimal, and the mean divides as doubles only at
    the end (the doc_logprob discipline)."""
    docs = _docs(spark, sf_dir, wide=False)
    t = (docs.select("doc_id", tokens(F.col("text")).alias("t"))
         .where(F.size("t") >= 2))
    n_bg = F.size("t") - 1
    bg = (t.select("doc_id", n_bg.alias("n_bigrams"),
                   F.explode(F.arrays_zip(
                       F.slice("t", 1, n_bg).alias("w1"),
                       F.slice("t", 2, n_bg).alias("w2"))).alias("b"))
          .select("doc_id", "n_bigrams",
                  F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")))
    tok_all = docs.select(F.explode(tokens(F.col("text"))).alias("w2"))
    vocab = tok_all.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    total = vocab.agg(F.sum("c2").alias("tt"))
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    p = (F.lit(BIGRAM_LAMBDA) * (F.col("cb") / F.col("c1"))
         + F.lit(1.0 - BIGRAM_LAMBDA) * (F.col("c2") / F.col("tt")))
    nlp = F.round(-F.log(p), 6).cast("decimal(18,6)")
    scored = (bg.join(cb.join(c1, "w1"), ["w1", "w2"])
              .join(vocab, "w2")
              .crossJoin(F.broadcast(total))
              .groupBy("doc_id", "n_bigrams")
              .agg(F.sum(nlp).alias("__sum_nlp")))
    # same exact integer micro-unit mean as doc_logprob (r19 null
    # sweep: the round(double/n, 6) quotient-tie class)
    mean_nlp = (F.expr("(2 * CAST(__sum_nlp * 1000000 AS BIGINT) "
                       "+ n_bigrams) div (2 * n_bigrams)")
                / F.lit(1000000.0))
    return scored.select(
        "doc_id", F.col("n_bigrams").cast("int").alias("n_bigrams"),
        mean_nlp.alias("mean_neg_logprob"),
        (mean_nlp > BIGRAM_HIGH).alias("is_surprising"))


DOC_BIGRAM_LOGPROB_SQL = f"""
WITH tt AS (
  SELECT doc_id, t, len(t) - 1 AS n_bigrams
  FROM (SELECT doc_id, {sql_tokens('text')} AS t FROM documents)
  WHERE len(t) >= 2),
idx AS (
  SELECT doc_id, n_bigrams, t,
         unnest(generate_series(1, n_bigrams)) AS i
  FROM tt),
bg AS (
  SELECT doc_id, n_bigrams, t[i] AS w1, t[i + 1] AS w2 FROM idx),
vocab AS (
  SELECT w2, count(*) AS c2
  FROM (SELECT unnest({sql_tokens('text')}) AS w2 FROM documents)
  GROUP BY w2),
tot AS (SELECT sum(c2) AS tt FROM vocab),
cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
scored AS (
  SELECT doc_id, n_bigrams,
         sum(CAST(round(-ln({BIGRAM_LAMBDA} * (cb.cb / c1.c1)
                            + {1.0 - BIGRAM_LAMBDA} * (vocab.c2 / tot.tt)),
                        6) AS DECIMAL(18,6))) AS sum_nlp
  FROM bg
  JOIN cb USING (w1, w2)
  JOIN c1 USING (w1)
  JOIN vocab USING (w2)
  CROSS JOIN tot
  GROUP BY doc_id, n_bigrams)
SELECT doc_id, CAST(n_bigrams AS INT) AS n_bigrams,
       CAST((2 * CAST(sum_nlp * 1000000 AS BIGINT) + n_bigrams)
            // (2 * n_bigrams) AS DOUBLE) / 1000000 AS mean_neg_logprob,
       CAST((2 * CAST(sum_nlp * 1000000 AS BIGINT) + n_bigrams)
            // (2 * n_bigrams) AS DOUBLE) / 1000000 > {BIGRAM_HIGH}
         AS is_surprising
FROM scored
"""


# --- count-min-sketch heavy-hitter bounds -----------------------------------
#
# Completes the mergeable-sketch trio as driver-checkable rows: HLL
# (fact_events_by_minute_approx_bounds), Greenwald-Khanna quantiles
# (quantiles_approx_bounds), and now count-min heavy hitters.  CMS is
# the scale path for frequency queries over unbounded vocabularies:
# fixed-size state, mergeable map-side (the same motive as the
# reference's mergeable count-distinct registers, Populate/Fact.hs).

CMS_EPS = 0.005
CMS_CONFIDENCE = 0.99
CMS_SEED = 42


def vocab_topk_cms_bounds_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each of the exact top-N tokens: the exact corpus count (the
    oracle reproduces it cell-exactly) plus a boolean asserting the
    count-min estimate obeys BOTH sides of the CMS guarantee — never an
    undercount, overcount at most eps * stream size.  The sketch
    aggregates distributed (one pass, mergeable partials); only the N
    probe lookups read the 1-sketch result on the driver — the same
    K-row index-metadata pattern as the IVF centroid probes.  Seeded, so
    the estimates (and the pinned-TRUE booleans) are deterministic.

    EAGER: unlike every other registered builder this one executes at
    construction (the CMS probe has no JVM expression form, so the
    sketch must be aggregated before the result frame can be built).
    It is listed in ``registry.EAGER_QUERIES``; plan-only tooling skips
    it (r07 ADVICE)."""
    from .dedup import _docs_wide

    toks = (_docs_wide(spark, sf_dir)
            .select(F.explode(tokens(F.col("text"))).alias("token")))
    agg = toks.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_min_sketch("token", F.lit(CMS_EPS), F.lit(CMS_CONFIDENCE),
                           F.lit(CMS_SEED)).alias("s")).first()
    n, sketch_bytes = agg.n, agg.s
    jvm = spark._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(sketch_bytes)))
    top = (toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_count"))
           .orderBy(F.desc("exact_count"), F.asc("token"))
           .limit(VOCAB_TOP_N).collect())
    rows = []
    for r in top:
        est = cms.estimateCount(r.token)
        ok = bool(r.exact_count <= est <= r.exact_count + CMS_EPS * n)
        rows.append((r.token, r.exact_count, ok))
    return literal_df(spark, 
        rows, "token string, exact_count long, within_cms_bounds boolean")


VOCAB_TOPK_CMS_BOUNDS_SQL = f"""
SELECT token, count(*) AS exact_count, TRUE AS within_cms_bounds
FROM (SELECT unnest({sql_tokens('text')}) AS token FROM documents)
GROUP BY token
ORDER BY exact_count DESC, token
LIMIT {VOCAB_TOP_N}
"""


# --- BPE merge-pair counting (r13) -------------------------------------------
#
# The inner loop of byte-pair-encoding tokenizer training: count every
# adjacent symbol pair across the corpus, weighted by word frequency,
# and rank the merge candidates.  Training iterates this — apply the
# top merge to the symbol sequences, recount — and EVERY iteration is
# exactly this one map+aggregate pass, so the operator's plan shape is
# the scale story for the whole training loop.

BPE_TOP_PAIRS = 50


def bpe_pair_counts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent character-pair counts over distinct words,
    weighted by word frequency — BPE merge candidates, ranked.

    Scale shape: the word-frequency aggregate shuffles (word, count)
    pairs only (map-side combined); pair generation then explodes the
    DISTINCT vocabulary, not the corpus (each word's pairs are emitted
    once and weighted by its count — on web corpora the vocab is orders
    of magnitude smaller than the token stream); the pair rollup is a
    second map-side-combined aggregate, and the final ranking is
    top-k = TakeOrderedAndProject.  Nothing corpus-sized is ever sorted
    or carried past the first aggregate."""
    words = (_docs(spark, sf_dir)
             .select(F.explode(tokens(F.col("text"))).alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    pair_arr = F.when(
        F.length("w") >= 2,
        F.transform(F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.substring(F.col("w"), i, 2))
    ).otherwise(F.array().cast("array<string>"))
    return (words
            .select(F.explode(pair_arr).alias("pair"), "c")
            .groupBy("pair").agg(F.sum("c").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("pair"))
            .limit(BPE_TOP_PAIRS))


BPE_PAIR_COUNTS_SQL = f"""
WITH words AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest({sql_tokens('text')}) AS w FROM documents)
  GROUP BY w),
pairs AS (
  SELECT unnest(CASE WHEN length(w) >= 2
                     THEN [substr(w, i, 2)
                           for i in generate_series(1, length(w) - 1)]
                     ELSE [] END) AS pair,
         c
  FROM words)
SELECT pair, CAST(sum(c) AS BIGINT) AS pair_count
FROM pairs
GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT {BPE_TOP_PAIRS}
"""


# --- BPE training loop + tokenization (r14, VERDICT r13 item 3) -------------
#
# bpe_pair_counts is ONE iteration's candidate ranking; bpe_train runs
# the full loop — N times: count adjacent symbol pairs over the
# (vocab-sized) symbol-sequence state, take the argmax pair, merge it
# everywhere, record it — and bpe_apply tokenizes the corpus with the
# learned merge list.  Reference behavior: Sennrich et al. 2016 BPE
# (the ringo reference has no tokenizer; this is the brief's
# training-pipeline surface).
#
# Cost model (the honest one at 100 TB): the STATE is the distinct
# vocabulary — orders of magnitude smaller than the token stream — so
# each iteration is one vocab-sized map-side-combined aggregate plus an
# O(1) driver collect of the single argmax row; the corpus itself is
# touched exactly twice (once to build word counts, once in bpe_apply's
# broadcast-map tokenization).  The merge application is a SQL-function
# fold over each word's symbol array (greedy left-to-right,
# non-overlapping — '[a,a,a]' under merge (a,a) becomes '[aa,a]'), no
# Python in the loop.

BPE_MERGES = 8
# Driver-memory ceiling for the LOCAL trainer (VERDICT r14 item 8): the
# collected (word -> count) state plus the inverted pair->words index is
# O(vocab rows x avg word length) on the driver — the documented
# "merges x vocab rows" cost model SCALE.md measures.  Heaps' law keeps
# real vocabularies near ~10M rows even at web scale, but a pathological
# corpus (or a mis-scoped train request) can blow past that; above this
# gate :func:`train_bpe_merges` degrades gracefully to the distributed
# pair-count kernel (driver holds ONE argmax row per iteration, vocab
# stays executor-side) instead of OOMing the driver.
BPE_LOCAL_MAX_VOCAB_ROWS = 500_000


def _bpe_vocab_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, c, syms) — distinct non-empty words with corpus counts and
    their initial character-level symbol sequences."""
    chars = F.transform(F.sequence(F.lit(1), F.length("w")),
                        lambda i: F.col("w").substr(i, F.lit(1)))
    return (_docs(spark, sf_dir)
            .select(F.explode(tokens(F.col("text"))).alias("w"))
            .where(F.length("w") >= 1)
            .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
            .withColumn("syms", chars))


def _merge_fold(syms, a: str, b: str):
    """Greedy left-to-right non-overlapping merge of adjacent (a, b)
    into a+b — an array fold, so overlapping runs merge exactly like
    the canonical trainer ([a,a,a] -> [aa,a], never [aa,aa])."""
    return F.aggregate(
        syms, F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (s == F.lit(b)) & (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                     F.array(F.lit(a + b)))
        ).otherwise(F.concat(acc, F.array(s))))


def _bpe_train_state(spark: SparkSession, sf_dir: str,
                     n_merges: int = BPE_MERGES, vocab=None):
    """Run the training loop; return (merges, final_state).  ``merges``
    is [(rank, a, b, pair_count)] in learned order; ``final_state`` is
    the (w, c, syms) vocabulary after all merges.  The driver loop over
    an O(1) argmax collect per iteration is the honest cost model —
    each iteration's heavy work is one distributed vocab-sized
    aggregate; states are cached so iteration k never recomputes
    iterations 1..k-1.  ``vocab``: an already-cached
    :func:`_bpe_vocab_state` to reuse (the gated entry point computed
    it for its count — recomputing would re-scan the corpus)."""
    state = (vocab if vocab is not None
             else _bpe_vocab_state(spark, sf_dir)).cache()
    cached = [state]
    merges = []
    for rank in range(1, n_merges + 1):
        pair = F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.concat_ws(" ", F.element_at("syms", i),
                                  F.element_at("syms", i + 1)))
        top = (state.where(F.size("syms") >= 2)
               .select(F.explode(pair).alias("pr"), "c")
               .groupBy("pr").agg(F.sum("c").alias("cnt"))
               .orderBy(F.desc("cnt"), F.asc("pr"))
               .limit(1).collect())
        if not top:
            break
        a, b = top[0].pr.split(" ", 1)
        merges.append((rank, a, b, int(top[0].cnt)))
        state = state.withColumn(
            "syms", _merge_fold(F.col("syms"), a, b)).cache()
        cached.append(state)
    for df in cached[:-1]:
        df.unpersist()
    return merges, state


def _bpe_root() -> str:
    import os

    from .. import index_lifecycle as _ilc
    return os.path.join(_ilc.repo_root(), ".bpe_tokenizer")


def build_bpe_tokenizer(spark: SparkSession, sf_dir: str,
                        n_merges: int = BPE_MERGES,
                        force: bool = False) -> str:
    """Train once, apply many — the production tokenizer lifecycle: the
    merge list and the word→symbols map persist under a
    source-fingerprinted dir (the persisted-index pattern: regenerated
    data retags and retrains; GC shares the index LRU).  At 100 TB a
    tokenizer trains ONCE on a vocab-sized state and is then a static
    broadcast artifact for every tokenization job — retraining per
    query would be the wrong cost model, which is why both registered
    BPE queries read from here."""
    import os

    from .. import index_lifecycle as _ilc

    fp = _ilc.source_fingerprint(sf_dir, "documents.parquet")
    tag = _ilc.index_tag(f"{os.path.abspath(sf_dir)}|bpe|{n_merges}|{fp}")
    path = os.path.join(_bpe_root(), f"m{n_merges}-{tag}")
    if _ilc.serve_cached(path, "_BPE_OK", force):
        return path
    merges, word_map = train_bpe_merges(spark, sf_dir, n_merges)
    (literal_df(spark, 
        merges, "merge_rank int, a string, b string, pair_count long")
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(path, "merges")))
    word_map.write.mode("overwrite").parquet(
        os.path.join(path, "word_map"))
    _ilc.finish_build(path, _bpe_root(), marker="_BPE_OK")
    return path


def bpe_train_merges_local(word_counts: dict, n_merges: int,
                           return_state: bool = False):
    """Driver-local BPE training over a COLLECTED (word -> count)
    vocabulary — the production shape for REAL merge budgets: at 30k+
    merges the distributed loop's per-iteration job overhead dominates
    (each merge is a Spark job), while the vocabulary is index-metadata
    sized (Heaps' law: ~10-100M words even at web scale — the same
    "collect the vocab-sized state" cost model as the IVF centroids),
    so Spark does the corpus-sized COUNTING once and the driver trains
    on the table.  Incremental: pair counts update by delta over only
    the words containing the merged pair (inverted index), never a
    full recount — O(total merges x affected words).  Produces the
    IDENTICAL merge list as the distributed loop (same argmax, same
    ties, same greedy non-overlapping application; pytest-pinned), so
    a deployment can switch paths without retokenizing anything."""
    state = {w: tuple(w) for w in word_counts}
    pair_counts: dict = {}
    pair_words: dict = {}
    for w, syms in state.items():
        c = word_counts[w]
        for i in range(len(syms) - 1):
            pr = (syms[i], syms[i + 1])
            pair_counts[pr] = pair_counts.get(pr, 0) + c
            pair_words.setdefault(pr, set()).add(w)
    merges = []
    for rank in range(1, n_merges + 1):
        if not pair_counts:
            break
        (a, b), cnt = min(pair_counts.items(),
                          key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
        merges.append((rank, a, b, cnt))
        merged = a + b
        for w in list(pair_words.get((a, b), ())):
            c = word_counts[w]
            old = state[w]
            # remove old adjacencies, apply the greedy merge, add new
            for i in range(len(old) - 1):
                pr = (old[i], old[i + 1])
                pair_counts[pr] -= c
                if pair_counts[pr] <= 0:
                    pair_counts.pop(pr, None)
                ws = pair_words.get(pr)
                if ws is not None:
                    ws.discard(w)
                    if not ws:
                        pair_words.pop(pr, None)
            new = []
            for s in old:
                if new and new[-1] == a and s == b:
                    new[-1] = merged
                else:
                    new.append(s)
            new = tuple(new)
            state[w] = new
            for i in range(len(new) - 1):
                pr = (new[i], new[i + 1])
                pair_counts[pr] = pair_counts.get(pr, 0) + c
                pair_words.setdefault(pr, set()).add(w)
    if return_state:
        return merges, state
    return merges


def train_bpe_merges(spark: SparkSession, sf_dir: str,
                     n_merges: int = BPE_MERGES):
    """The gated trainer entry point: (merges, word_map_df) via the
    cheaper path the vocabulary size allows.

    At or below :data:`BPE_LOCAL_MAX_VOCAB_ROWS` distinct words, Spark
    does the corpus-sized counting once and the DRIVER trains on the
    collected vocab (incremental pair-delta updates — the production
    shape for real merge budgets, where per-merge Spark-job overhead
    dominates).  Above the gate, the distributed pair-count kernel
    trains instead: each merge is one vocab-sized aggregate whose
    driver footprint is a single argmax row, so a pathological vocab
    degrades to more wall-clock, never a driver OOM.  Both paths
    produce the IDENTICAL merge list and word->symbols map (same
    argmax, same 'a b' tie-break, same greedy non-overlapping fold;
    pytest-pinned), so the gate is invisible in every artifact."""
    # cache the vocab aggregate: the gate's count() and the chosen
    # path's first consumer would otherwise each re-run the dominant
    # corpus-sized tokenize+explode+groupBy (r17 review — 2-3x the
    # heaviest stage of every tokenizer cache-miss build)
    vocab = _bpe_vocab_state(spark, sf_dir).cache()
    n_vocab = vocab.count()
    if n_vocab <= BPE_LOCAL_MAX_VOCAB_ROWS:
        wc = {r.w: r.c for r in vocab.select("w", "c").collect()}
        vocab.unpersist()
        merges, state = bpe_train_merges_local(wc, n_merges,
                                               return_state=True)
        word_map = literal_df(spark, 
            [(w, " ".join(syms), len(syms))
             for w, syms in sorted(state.items())],
            "w string, sym_str string, ns int")
        return merges, word_map
    merges, state = _bpe_train_state(spark, sf_dir, n_merges,
                                     vocab=vocab)
    word_map = state.select(
        "w", F.concat_ws(" ", "syms").alias("sym_str"),
        F.size("syms").alias("ns"))
    return merges, word_map


def bpe_train_df(spark: SparkSession, sf_dir: str,
                 n_merges: int = BPE_MERGES) -> DataFrame:
    """The learned merge list: rank, pair, and the pair's weighted
    count at the moment it won — the tokenizer-training artifact
    itself, served from the persisted tokenizer (trained once per
    corpus version).  Ties break on the 'a b' string, matching the
    oracle."""
    import os

    p = build_bpe_tokenizer(spark, sf_dir, n_merges)
    return (spark.read.parquet(os.path.join(p, "merges"))
            .orderBy("merge_rank"))


def bpe_apply_df(spark: SparkSession, sf_dir: str,
                 n_merges: int = BPE_MERGES) -> DataFrame:
    """Tokenize the corpus with the learned merges: per doc, the BPE
    token count and an order-insensitive md5 over the per-word symbol
    sequences (the sorted multiset pins every word's exact
    segmentation without shipping the token stream to the driver).

    Scale shape: the learned word→symbols map comes from the PERSISTED
    tokenizer (vocab-sized, trained once) and is BROADCAST against the
    corpus token explode — tokenization itself is map-only (one
    shuffle for the per-doc rollup), which is how a 100 TB corpus gets
    tokenized with a fixed tokenizer."""
    import os

    p = build_bpe_tokenizer(spark, sf_dir, n_merges)
    word_map = spark.read.parquet(os.path.join(p, "word_map"))
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    return (tok.join(F.broadcast(word_map), "w")
            .groupBy("doc_id")
            .agg(F.sum("ns").cast("long").alias("bpe_len"),
                 F.md5(F.concat_ws(
                     " ", F.sort_array(F.collect_list("sym_str"))))
                 .alias("syms_hash")))


def bpe_fertility_df(spark: SparkSession, sf_dir: str,
                     n_merges: int = BPE_MERGES) -> DataFrame:
    """Per-SOURCE tokenizer efficiency — fertility (BPE tokens per
    word) and characters per BPE token — the metric that tells a
    mixture designer which domains the tokenizer serves poorly (high
    fertility = more sequence length spent per word = that domain is
    effectively down-weighted at fixed context length).  Rides the
    persisted tokenizer like bpe_apply: one broadcast word-map join,
    one source-key rollup — map-only until the #sources-row
    aggregate."""
    import os

    p = build_bpe_tokenizer(spark, sf_dir, n_merges)
    word_map = spark.read.parquet(os.path.join(p, "word_map"))
    tok = _docs(spark, sf_dir).select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("w"))
    return (tok.join(F.broadcast(word_map), "w")
            .groupBy("source")
            .agg(F.count_distinct("doc_id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_words"),
                 F.sum("ns").cast("long").alias("bpe_len"),
                 F.round(F.sum("ns") / F.count(F.lit(1)), 6)
                 .alias("fertility"),
                 F.round(F.sum(F.length("w")) / F.sum("ns"), 6)
                 .alias("chars_per_token"))
            .orderBy("source"))


def _bpe_sql_states(n_merges: int) -> tuple[str, str]:
    """The shared CTE chain: it0 (character state) .. it{n} (after n
    merges) with m{k} argmax CTEs — the oracle replays the exact loop,
    merge application included, as n unrolled SQL iterations.

    ``it{k}`` LEFT-joins its merge row (r17 review): when the corpus
    exhausts its pair supply before n_merges, ``m{k}`` is EMPTY — a
    cross join would then empty every later state (and the apply /
    fertility oracles with it) while the Spark/local trainers break
    out and keep the final state.  Under the left join the NULL m.a /
    m.b make every fold branch fall to the pass-through arm, so the
    state rides forward unchanged — exactly the trainers' break."""
    ctes = [f"""it0 AS (
  SELECT w, c,
         array_to_string([substr(w, i, 1)
                          for i in generate_series(1, length(w))],
                         ' ') AS syms
  FROM (SELECT w, count(*) AS c
        FROM (SELECT unnest({sql_tokens('text')}) AS w FROM documents)
        WHERE length(w) >= 1 GROUP BY w))"""]
    for k in range(1, n_merges + 1):
        ctes.append(f"""p{k} AS (
  SELECT unnest(CASE WHEN len(xs) >= 2
                     THEN [xs[i] || ' ' || xs[i+1]
                           for i in generate_series(1, len(xs) - 1)]
                     ELSE [] END) AS pr, c
  FROM (SELECT str_split(syms, ' ') AS xs, c FROM it{k - 1}))""")
        ctes.append(f"""m{k} AS (
  SELECT {k} AS merge_rank, split_part(pr, ' ', 1) AS a,
         split_part(pr, ' ', 2) AS b, CAST(sum(c) AS BIGINT) AS pair_count
  FROM p{k} GROUP BY pr ORDER BY pair_count DESC, pr LIMIT 1)""")
        ctes.append(f"""it{k} AS (
  SELECT w, c,
         list_reduce(list_prepend('', str_split(syms, ' ')),
           (acc, s) -> CASE
             WHEN acc = '' THEN s
             WHEN s = m.b AND (acc = m.a OR ends_with(acc, ' ' || m.a))
               THEN CASE WHEN acc = m.a THEN m.a || m.b
                    ELSE left(acc, length(acc) - length(m.a) - 1)
                         || ' ' || m.a || m.b END
             ELSE acc || ' ' || s END) AS syms
  FROM it{k - 1} LEFT JOIN m{k} AS m ON TRUE)""")
    merge_union = "\nUNION ALL\n".join(
        f"SELECT * FROM m{k}" for k in range(1, n_merges + 1))
    return "WITH " + ",\n".join(ctes), merge_union


def _bpe_train_sql(n_merges: int = BPE_MERGES) -> str:
    ctes, merge_union = _bpe_sql_states(n_merges)
    return f"""
{ctes}
SELECT merge_rank, a, b, pair_count FROM ({merge_union})
ORDER BY merge_rank
"""


def _bpe_apply_sql(n_merges: int = BPE_MERGES) -> str:
    ctes, _ = _bpe_sql_states(n_merges)
    return f"""
{ctes},
applied AS (
  SELECT d.doc_id, s.syms, len(str_split(s.syms, ' ')) AS ns
  FROM (SELECT doc_id, unnest({sql_tokens('text')}) AS w
        FROM documents) d
  JOIN it{n_merges} s ON d.w = s.w)
SELECT doc_id, CAST(sum(ns) AS BIGINT) AS bpe_len,
       md5(array_to_string(list_sort(list(syms)), ' ')) AS syms_hash
FROM applied GROUP BY doc_id
"""


def _bpe_fertility_sql(n_merges: int = BPE_MERGES) -> str:
    ctes, _ = _bpe_sql_states(n_merges)
    return f"""
{ctes},
applied AS (
  SELECT d.doc_id, d.source, length(d.w) AS nc,
         len(str_split(s.syms, ' ')) AS ns
  FROM (SELECT doc_id, source, unnest({sql_tokens('text')}) AS w
        FROM documents) d
  JOIN it{n_merges} s ON d.w = s.w)
SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(ns) AS BIGINT) AS bpe_len,
       round(sum(ns) * 1.0 / count(*), 6) AS fertility,
       round(sum(nc) * 1.0 / sum(ns), 6) AS chars_per_token
FROM applied GROUP BY source ORDER BY source
"""


BPE_TRAIN_SQL = _bpe_train_sql()
BPE_APPLY_SQL = _bpe_apply_sql()
BPE_FERTILITY_SQL = _bpe_fertility_sql()
