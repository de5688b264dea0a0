"""End-to-end corpus-curation pipeline: the composition flagship.

One DataFrame chain running the stages every pretraining corpus build
performs — quality filter → language selection → exact dedup (keep the
first-seen copy) → deterministic train/val/test split → per-cell corpus
accounting — to show the individual operators compose into a single
Catalyst plan: the filters collapse into the scan, dedup is the only
corpus-wide shuffle (a min-struct hash aggregate — map-side combined,
16-byte keys, the text itself never shuffles), the split is a map-side
projection, and the final accounting is one aggregation.

The quality score and the split label are the SAME definitions the
standalone operators use (text.quality_score_expr / sampling.split_expr
and their SQL twins) — curation cannot drift from the operators it
composes.

Scale notes: stages never materialize intermediates — at 100 TB this is
exactly one pass over the corpus plus one dedup shuffle (16-byte keys)
and one (split, lang)-cell aggregation of a few dozen groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..catalog import read_parquet_stable as _rps

from .sampling import split_expr, sql_split
from .text import quality_score_expr, sql_quality_score
from .textfn import sql_tokens, tokens

MIN_WORDS = 15
MIN_QUALITY = 0.45
KEEP_LANGS = ("en", "es", "fr")


def corpus_curation_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(split, lang) corpus accounting after quality filter, language
    selection, exact dedup, and hash split."""
    # single-pass scoring chain: the text._docs widen
    from .text import _docs

    kept = (_docs(spark, sf_dir)
            .withColumn("n_words", F.size(tokens(F.col("text"))))
            .withColumn("q", F.round(quality_score_expr(), 6))
            .where((F.col("n_words") >= MIN_WORDS)
                   & (F.col("q") >= MIN_QUALITY)
                   & F.col("lang").isin(*KEEP_LANGS)))

    # exact dedup: keep the lowest doc_id per distinct text.  min(struct)
    # instead of a row_number window (r13 shave, VERDICT r12 item 4):
    # the window form SHUFFLES THE FULL TEXT into a per-key sort, while
    # this aggregates map-side and shuffles only (16-byte md5, ~50-byte
    # winner struct) — the doc payload never leaves the scan stage.
    # doc_id leads the struct and is unique, so min == the window's
    # rk=1 row exactly (same oracle).
    deduped = (kept
               .groupBy(F.md5("text").alias("__h"))
               .agg(F.min(F.struct("doc_id", "lang", "n_words", "q"))
                    .alias("w"))
               .select("w.doc_id", "w.lang", "w.n_words", "w.q"))

    # avg over an exact integer-micro-unit sum, with the half-up
    # rounding of the quotient ALSO done in exact integer arithmetic
    # (r19 null sweep): q is 6dp, so sum(q*1e6) is an exact bigint in
    # both engines — but the old round(double_sum/n, 6) could land the
    # quotient exactly on a 7th-digit tie, where Spark rounds the
    # decimal REPR (half-up) and DuckDB the binary value, a 1-ulp hash
    # split.  floor((2a+n)/(2n)) is round-half-up of a/n for a,n >= 0
    # in pure integers; micro/1e6 is then one correctly-rounded IEEE
    # division, identical across engines.
    return (deduped
            .withColumn("split", split_expr(F.col("doc_id")))
            .groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_words").alias("total_tokens"),
                 F.sum(F.round(F.col("q") * 1000000).cast("long"))
                 .alias("__q_micro"))
            .withColumn(
                "avg_quality",
                F.expr("(2 * __q_micro + n_docs) div (2 * n_docs)")
                / F.lit(1000000.0))
            .drop("__q_micro"))


_SQL_LANGS = ", ".join(f"'{x}'" for x in KEEP_LANGS)

CORPUS_CURATION_SQL = f"""
WITH scored AS (
  SELECT doc_id, text, lang,
         len({sql_tokens('text')}) AS n_words,
         round({sql_quality_score('text')}, 6) AS q
  FROM documents),
kept AS (
  SELECT * FROM scored
  WHERE n_words >= {MIN_WORDS} AND q >= {MIN_QUALITY}
    AND lang IN ({_SQL_LANGS})),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
    FROM kept)
  WHERE rk = 1),
labeled AS (
  SELECT *, {sql_split()} AS split
  FROM deduped)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_tokens,
       CAST((2 * sum(CAST(round(q * 1000000) AS BIGINT)) + count(*))
            // (2 * count(*)) AS DOUBLE) / 1000000 AS avg_quality
FROM labeled
GROUP BY 1, 2
"""


# --- training-prep pipeline --------------------------------------------------
#
# The round-6 composition flagship: the FULL pretraining-data pass —
# quality filter → language selection → benchmark DECONTAMINATION →
# exact dedup → overlapping CHUNKING → deterministic split → accounting.
# Every stage is the standalone operator's own expression (text.
# quality_score_expr, text.CONTAM_* shingle overlap, training.CHUNK_*,
# sampling.split_expr), so the pipeline cannot drift from the operators
# it composes.
#
# Scale notes: one corpus pass feeding everything (tokens projected
# once, shingles and chunks derived from that projection); the
# benchmark shingle set broadcasts (eval suites are small by nature);
# the only corpus-keyed shuffles are the per-doc contamination count
# (doc_id + a long), the md5 dedup window, and the final few-group
# accounting agg.  Chunk rows explode map-side and are aggregated
# without ever carrying text.


def training_prep_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split accounting (n_docs, n_chunks, total_chunk_tokens) of the
    fully prepared training corpus."""
    from ..functions.spread import spread_source
    from .text import BENCHMARK_BELOW, CONTAM_N, CONTAM_THRESHOLD
    from .textfn import explode_elements, shingles
    from .training import CHUNK_SIZE, CHUNK_STRIDE

    # spread the CPU-heavy token/shingle expressions across cores first
    # (single-file testdata -> few input splits; a no-op at real scale,
    # same rationale as dedup._shingled)
    path = f"{sf_dir}/documents.parquet"
    base = (spread_source(_rps(spark, path), path)
            .select("doc_id", "lang", "text",
                    tokens(F.col("text")).alias("toks")))
    # kept feeds THREE consumers (contamination explode, the decon
    # semi-join, and the chunk assembly).  The optimizer pushes its
    # filters below the widening exchange, so the quality pass runs in
    # the scan stage; as long as every consumer sees the same filter
    # there, that exchange is planned once and reused (ReusedExchange)
    # and the pass runs once per doc.  r19 opt (guide §2.3, project
    # before the exchange): kept is pruned to exactly what the
    # consumers read — doc_id, the md5 text hash (the dedup key; the
    # raw text never leaves the scan stage), and the token array.
    kept = (base.where(F.col("doc_id") >= BENCHMARK_BELOW)
            .withColumn("n_words", F.size("toks"))
            .withColumn("q", F.round(quality_score_expr(), 6))
            .where((F.col("n_words") >= MIN_WORDS)
                   & (F.col("q") >= MIN_QUALITY)
                   & F.col("lang").isin(*KEEP_LANGS))
            .select("doc_id", F.md5("text").alias("__h"), "toks"))

    # decontamination: drop docs whose 5-gram overlap with the benchmark
    # set (docs below BENCHMARK_BELOW — NOT quality-filtered: the eval
    # suite is given, not curated) crosses the threshold
    bench = explode_elements(
        base.where(F.col("doc_id") < BENCHMARK_BELOW)
        .select(shingles(F.col("toks"), CONTAM_N).alias("sh")),
        "sh", "g").distinct()
    # single shingling pass per train doc: n_sh rides the explode, the
    # hit count comes from a LEFT join so zero-hit docs survive (same
    # shape as text.benchmark_contamination_df).  n_sh is aggregated,
    # not grouped on: as a grouping key, the isnotnull(n_sh) that the
    # ratio filter implies is pushed down into the scan stage as a
    # second shingling of every doc, and that branch's exchange then
    # differs from the other consumers' and cannot be reused
    tr_ex = explode_elements(
        kept.select("doc_id", shingles(F.col("toks"), CONTAM_N).alias("sh"))
        .withColumn("n_sh", F.size("sh")),
        "sh", "g", "doc_id", "n_sh")
    clean_ids = (tr_ex.join(F.broadcast(bench.withColumn("__hit", F.lit(1))),
                            "g", "left")
                 .groupBy("doc_id")
                 .agg(F.max("n_sh").alias("n_sh"),
                      F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                      .alias("n_hit"))
                 .where(F.col("n_hit") / F.col("n_sh") < CONTAM_THRESHOLD)
                 .select("doc_id"))
    decon = kept.join(clean_ids, "doc_id", "left_semi")

    # exact dedup: keep the lowest doc_id per distinct text.
    # min(struct) instead of a row_number window (r19 opt — the
    # corpus_curation shape): the aggregate reduces map-side and the
    # exchange carries one winner row per distinct hash instead of
    # every row sorted per key.  doc_id leads the struct and is unique,
    # so min == the window's rk=1 row exactly (same oracle).
    deduped = (decon.groupBy("__h")
               .agg(F.min(F.struct("doc_id", "toks")).alias("w"))
               .select(F.col("w.doc_id").alias("doc_id"),
                       F.col("w.toks").alias("toks")))

    n_tok = F.size("toks")
    n_chunks = F.when(n_tok <= CHUNK_SIZE, F.lit(1)).otherwise(
        F.ceil((n_tok - CHUNK_SIZE) / CHUNK_STRIDE) + 1)
    chunk_tok = lambda c: F.least(  # noqa: E731
        n_tok - c * CHUNK_STRIDE, F.lit(CHUNK_SIZE)).cast("int")
    chunks = (deduped
              .withColumn("split", split_expr(F.col("doc_id")))
              .select("doc_id", "split",
                      F.explode(F.transform(
                          F.sequence(F.lit(0), n_chunks - 1), chunk_tok))
                      .alias("n_chunk_tokens")))
    return (chunks.groupBy("split")
            .agg(F.count_distinct("doc_id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_chunks"),
                 F.sum("n_chunk_tokens").alias("total_chunk_tokens")))


def _sql_training_prep() -> str:
    from .text import BENCHMARK_BELOW, CONTAM_N, CONTAM_THRESHOLD
    from .textfn import sql_shingles
    from .training import CHUNK_SIZE, CHUNK_STRIDE

    return f"""
WITH base AS (
  SELECT doc_id, lang, text, {sql_tokens('text')} AS t FROM documents),
kept AS (
  SELECT doc_id, lang, text, t, len(t) AS n_words,
         round({sql_quality_score('text')}, 6) AS q
  FROM base
  WHERE doc_id >= {BENCHMARK_BELOW}
    AND len(t) >= {MIN_WORDS}
    AND round({sql_quality_score('text')}, 6) >= {MIN_QUALITY}
    AND lang IN ({_SQL_LANGS})),
bench AS (
  SELECT DISTINCT unnest({sql_shingles('t', CONTAM_N)}) AS g
  FROM base WHERE doc_id < {BENCHMARK_BELOW}),
tr_sh AS (
  SELECT doc_id, {sql_shingles('t', CONTAM_N)} AS sh FROM kept),
hits AS (
  SELECT doc_id, count(*) AS n_hit
  FROM (SELECT doc_id, unnest(sh) AS g FROM tr_sh) e
  WHERE g IN (SELECT g FROM bench)
  GROUP BY doc_id),
decon AS (
  SELECT k.* FROM kept k
  JOIN tr_sh s ON s.doc_id = k.doc_id
  LEFT JOIN hits h ON h.doc_id = k.doc_id
  WHERE coalesce(h.n_hit, 0) * 1.0 / len(s.sh) < {CONTAM_THRESHOLD}),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
    FROM decon)
  WHERE rk = 1),
spec AS (
  SELECT doc_id, {sql_split()} AS split, t,
         CASE WHEN len(t) <= {CHUNK_SIZE} THEN 1
              ELSE CAST(ceil((len(t) - {CHUNK_SIZE}) * 1.0
                             / {CHUNK_STRIDE}) AS BIGINT) + 1 END AS n_chunks
  FROM deduped),
chunks AS (
  SELECT doc_id, split,
         unnest([least(len(t) - c * {CHUNK_STRIDE}, {CHUNK_SIZE})
                 for c in generate_series(0, n_chunks - 1)]) AS n_chunk_tokens
  FROM spec)
SELECT split,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       count(*) AS n_chunks,
       CAST(sum(n_chunk_tokens) AS BIGINT) AS total_chunk_tokens
FROM chunks
GROUP BY split
"""


TRAINING_PREP_SQL = _sql_training_prep()


PIPELINE_QUERIES: dict[str, tuple] = {
    "corpus_curation": (corpus_curation_df, CORPUS_CURATION_SQL),
    "training_prep": (training_prep_df, TRAINING_PREP_SQL),
}
