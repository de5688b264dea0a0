"""Shared portable expression builders for the data-pipeline operators.

"Portable" means: each Spark Column expression here has an exact DuckDB SQL
twin (generated by the ``*_sql`` helpers), built only from functions both
engines implement identically — md5, regexp splits, list/array ops.  This
is what makes even the randomized-looking operators (MinHash-LSH, SimHash)
fully oracle-checkable: the oracle replays the same deterministic hashes,
so candidate generation matches bit-for-bit.

The portable hash is the first 15 hex digits of md5 (60 bits, positive):

    Spark : CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)
    DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT

Everything stays JVM-side in Spark (no Python UDFs): whole-stage codegen
covers md5/regexp/higher-order array functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Explicit whitespace class, NOT \s (r17 review): Java regex (Spark)
# reads \s as [ \t\n\x0B\f\r] while RE2 (DuckDB) reads it as
# [\t\n\f\r ] — a vertical-tab in real crawled text would tokenize
# differently per engine and break every dedup/text oracle's
# cell-exact contract.  Both engines read this class identically.
WS = r"[ \t\n\x0B\f\r]+"


# --- Spark side -------------------------------------------------------------


def phash(col: Column, seed: int | None = None) -> Column:
    """Portable 60-bit hash; optional seed folds into the hashed text."""
    s = F.concat_ws("|", F.lit(str(seed)), col) if seed is not None else col
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def tokens(col: Column) -> Column:
    return F.split(col, WS)


def shingles(toks: Column, n: int = 3) -> Column:
    """Distinct n-word shingles; empty array when fewer than n tokens."""
    sh = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(sh)) \
            .otherwise(F.array().cast("array<string>"))


def explode_elements(df: DataFrame, arr: str, alias: str,
                     *keep: str) -> DataFrame:
    """``df.select(*keep, explode(arr).alias(alias))`` for an array that
    is computed above a widening exchange (shingle and token arrays).

    For an inner explode the optimizer's InferFiltersFromGenerate rule
    adds ``size(arr) > 0 AND isnotnull(arr)`` under the Generate, and
    predicate pushdown carries it — array expression and all — through
    ``spread_source``'s round-robin exchange, so the whole corpus's
    shingling runs once more, in the scan's task.  explode_outer gets
    no inferred filter; dropping its null element afterwards yields the
    same rows, since these arrays never hold a null element."""
    return (df.select(*keep, F.explode_outer(arr).alias(alias))
            .where(F.col(alias).isNotNull()))


# Universal-hash permutation constants: h_k(x) = (A[k]*(x mod P) + B[k]) mod P.
# One md5 per shingle; k cheap integer permutations derived from it — 12x
# less hashing than seeded-md5-per-permutation, identical determinism.
# P = 2^31 - 1 keeps A*(x mod P) < 2^62: no overflow under ANSI mode.
MINHASH_P = 2_147_483_647
MINHASH_A = [1_203_114_875, 668_265_263, 374_761_393, 2_654_435_761 % MINHASH_P,
             2_246_822_519 % MINHASH_P, 3_266_489_917 % MINHASH_P,
             668_265_213, 1_181_783_497, 207_909_389, 1_664_525,
             1_013_904_223, 69_069]
MINHASH_B = [2_870_177_450 % MINHASH_P, 3_580_832_467 % MINHASH_P,
             2_053_722_395, 1_291_169_091, 981_577_151, 1_722_071_637,
             1_360_930_461, 1_833_778_363, 341_462_041, 1_013_904_242,
             1_553_727_695, 362_437]


def shingle_hashes(sh: Column) -> Column:
    """One portable md5 hash per shingle, reduced mod P.  Materialize this
    into its own projection (withColumn) before building signatures — the
    optimizer will not inline a non-trivial alias used 12 times, so the
    md5 work happens exactly once per shingle."""
    return F.transform(sh, lambda s: phash(s) % MINHASH_P)


def minhash_signature(hs: Column, num_perm: int) -> Column:
    """num_perm permuted min-hashes from pre-hashed shingles (see
    :func:`shingle_hashes`).  Permutations are unrolled with scalar
    constants — higher-order lambdas are interpreted (not codegen'd), so
    per-element allocations dominate if constants live in arrays."""
    def perm(k: int):
        # NB: a plain 2-arg lambda would be handed (element, index) by
        # PySpark's arity inspection — capture k via closure instead
        return lambda h: (h * F.lit(MINHASH_A[k]) + F.lit(MINHASH_B[k])) % MINHASH_P

    return F.array(*[F.array_min(F.transform(hs, perm(k)))
                     for k in range(num_perm)])


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product, left-to-right accumulation (matches
    DuckDB's list_dot_product over DOUBLE[])."""
    return F.aggregate(
        F.zip_with(a, b, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def vnorm(a: Column) -> Column:
    """The Euclidean norm exactly as :func:`cosine` folds it —
    ``sqrt(dot(a, a))`` — exposed so hot pair-scoring paths can compute
    each side's norm ONCE per row instead of once per scored pair
    (higher-order folds are interpreted, so Spark never CSEs them; r19
    measured the redundant norm folds at ~2/3 of the IVF argmax CPU)."""
    return F.sqrt(dot(a, a))


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine(a, b)`` with both norms precomputed (via :func:`vnorm`
    on each side's own projection).  Bit-identical to :func:`cosine`:
    the norms are the same ``sqrt(dot(x, x))`` expressions evaluated
    once instead of per pair, and IEEE-754 multiplication is
    commutative, so ``na * nb`` reproduces the in-line denominator
    exactly — the round-6 trajectory the DuckDB oracle replays is
    unchanged."""
    return dot(a, b) / (na * nb)


# --- DuckDB SQL twins -------------------------------------------------------


def sql_phash(s: str, seed: str | None = None) -> str:
    inner = f"{seed}::VARCHAR || '|' || {s}" if seed is not None else s
    return f"('0x' || substr(md5({inner}), 1, 15))::BIGINT"


def sql_tokens(col: str) -> str:
    # the same explicit class as the Spark-side WS (see its comment) —
    # RE2's \s lacks \x0B, Java's includes it
    return f"regexp_split_to_array({col}, '[ \\t\\n\\x0B\\f\\r]+')"


def sql_shingles(toks: str, n: int = 3) -> str:
    return (f"CASE WHEN len({toks}) >= {n} THEN list_distinct("
            f"[array_to_string({toks}[i:i+{n - 1}], ' ') "
            f"for i in generate_series(1, len({toks}) - {n - 1})]) "
            f"ELSE [] END")


def sql_minhash_signature(sh: str, num_perm: int) -> str:
    a = "[" + ", ".join(str(x) for x in MINHASH_A) + "]"
    b = "[" + ", ".join(str(x) for x in MINHASH_B) + "]"
    return (f"[list_min([({a}[k+1] * ({sql_phash('s')} % {MINHASH_P}) "
            f"+ {b}[k+1]) % {MINHASH_P} for s in {sh}]) "
            f"for k in generate_series(0, {num_perm - 1})]")


def sql_cosine(a: str, b: str) -> str:
    da, db = f"{a}::DOUBLE[]", f"{b}::DOUBLE[]"
    return (f"(list_dot_product({da}, {db}) / "
            f"(sqrt(list_dot_product({da}, {da})) * "
            f"sqrt(list_dot_product({db}, {db}))))")
