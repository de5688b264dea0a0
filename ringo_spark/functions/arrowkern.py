"""Bit-exact Arrow/numpy kernel for the brute-force cosine audit lanes.

The interpreted higher-order fold (``textfn.dot``) is the CPU floor of
every Q x N brute-force scoring lane (guide §4: row-at-a-time JVM
expression interpretation vs. vectorized native batches).  This kernel
replaces the per-pair fold with one ``mapInArrow`` pass over the corpus
scan that scores every batch row against the (bounded) audit query set
in numpy — and it is **bit-identical** to the JVM expression, so the
round-6 values the DuckDB oracle replays are unchanged:

* ``textfn.dot`` is a LEFT-TO-RIGHT sequential fold over the element
  products with a 0.0 init (``aggregate(zip_with(a, b, p*q), 0D,
  acc+v)``).  The kernel reproduces the exact operation sequence with
  one vectorized column step per dimension: ``acc += A[:, j] * Q[j]``
  performs, per pair, the same IEEE-754 double multiply then the same
  ordered add — numpy elementwise ops are correctly-rounded scalar ops,
  never reassociated (no pairwise/SIMD summation, which plain
  ``np.dot``/``np.sum`` DO use, and which would break bit parity).
* float32 storage widens exactly to float64 on both sides (Spark's
  ``cast("double")``, numpy's ``astype``).
* ``sqrt`` is IEEE-correctly-rounded in both ``java.lang.Math`` and
  libm, and the division/multiplication in ``dot / (qn * nn)`` are
  single correctly-rounded ops — identical bits.
* ``round(x, 6)`` stays a JVM expression on the returned raw double
  (Java BigDecimal HALF_UP has no cheap bit-guaranteed Python twin).

Parity is pinned by tests/test_arrow_parity.py (bitwise comparison of
the kernel against the JVM fold on adversarial magnitudes and on the
real corpora) and by the full-registry oracle sweeps.

Null semantics reproduce the JVM lane exactly (needed for the
null-injected sweeps), on both sides: a corpus row or query with NULL
id produces no pairs (the JVM join condition ``q_id != n_id`` rejects
it); a NULL embedding, a NULL element, or a length != the query dim
yields a NULL cosine for every pair of that row or query (``zip_with``
null-pads the shorter side and a null product poisons the fold), and
the row is kept.

Scale shape: the queries are the bounded audit set (the standard
recall-audit pattern — N_QUERIES/LSH_N_QUERIES rows collected once at
construction, broadcast by closure capture); the corpus side streams
through ``mapInArrow`` at the scan's split parallelism, and only
(q_id, n_id, cosine) pairs come back — the embeddings never cross the
boundary twice.  ``min_raw_score`` optionally pre-filters emissions
with a conservative margin BELOW the caller's post-round threshold
(no false negatives: round-6 moves a value by < 5e-7, the margin is
1e-5), so threshold lanes ship near-hits only; the caller's exact
JVM ``round() >= threshold`` filter stays authoritative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class AuditSetTooLarge(ValueError):
    """The query set exceeds :func:`collect_query_vectors`'s bound — the
    one failure a caller may answer by falling back to its JVM lane."""


def collect_query_vectors(q_df: DataFrame, id_col: str, vec_col: str,
                          max_rows: int = 4096) -> list:
    """Collect the bounded audit query set at construction time.

    Broadcast-threshold-class driver transfer (the dedup union-find
    precedent): the audit lanes' query sets are
    Q = 5..20 rows by contract; ``max_rows`` is a hard bound so a
    misused caller fails loudly (:class:`AuditSetTooLarge`) instead of
    collecting a corpus."""
    rows = q_df.select(id_col, vec_col).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise AuditSetTooLarge(
            f"audit query set exceeds {max_rows} rows — this kernel is "
            "for bounded audit sets, not corpus-vs-corpus scoring")
    return [(r[0], r[1]) for r in rows]


def brute_cosine_pairs(corpus: DataFrame, id_col: str, vec_col: str,
                       q_rows: list,
                       min_raw_score: float | None = None,
                       lt_only: bool = False) -> DataFrame:
    """(q_id, n_id, __cos_raw) for every (query x corpus-row) pair with
    q_id != n_id — __cos_raw bit-identical to
    ``cosine_pre(q_emb, n_emb, vnorm(q_emb), vnorm(n_emb))``.  Callers
    apply ``F.round(F.col("__cos_raw"), 6)`` (and any threshold) in the
    JVM.

    ``lt_only``: emit only pairs with q_id < n_id (the self-join pair
    orientation of dedup_embedding).  ``min_raw_score``: conservative
    kernel-side pre-filter (see module docstring) — null-cosine pairs
    are always emitted, matching the JVM lane."""
    import numpy as np

    # a NULL-id query pairs with nothing (null-rejecting q_id != n_id)
    q_rows = [q for q in q_rows if q[0] is not None]
    q_ids = [q[0] for q in q_rows]
    dim = None
    q_mat = None
    # a NULL query vector or element scores NULL against every corpus
    # row (the JVM fold's null poisoning); its q_mat row is a placeholder
    q_null = np.array([q[1] is None or any(x is None for x in q[1])
                       for q in q_rows], dtype=bool)
    if q_rows:
        dims = {len(q[1]) for q, nul in zip(q_rows, q_null) if not nul}
        if len(dims) > 1:
            raise ValueError("audit query vectors must share one dim")
        dim = dims.pop() if dims else 0
        q_mat = np.array(
            [[0.0] * dim if nul else [float(x) for x in q[1]]
             for q, nul in zip(q_rows, q_null)],
            dtype=np.float64).reshape(len(q_rows), dim)
        # query norms: the same sequential fold, once per query
        qacc = np.zeros(len(q_rows))
        for j in range(dim):
            qacc += q_mat[:, j] * q_mat[:, j]
        q_norm = np.sqrt(qacc)
    q_id_arr = np.array(q_ids, dtype=np.int64)

    out_schema = T.StructType([
        T.StructField("q_id", T.LongType()),
        T.StructField("n_id", T.LongType()),
        T.StructField("__cos_raw", T.DoubleType()),
    ])

    def score(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        nq = len(q_ids)
        for batch in batches:
            if nq == 0 or batch.num_rows == 0:
                continue
            ids_col = batch.column(0)
            vec_col_a = batch.column(1)
            # drop NULL-id rows: the JVM join condition q_id != n_id
            # is null-rejecting
            if ids_col.null_count:
                keep = pc.is_valid(ids_col)
                ids_col = ids_col.filter(keep)
                vec_col_a = vec_col_a.filter(keep)
                if len(ids_col) == 0:
                    continue
            n_ids = ids_col.to_numpy(zero_copy_only=False).astype(np.int64)
            n = len(n_ids)
            if isinstance(vec_col_a, pa.ChunkedArray):
                vec_col_a = vec_col_a.combine_chunks()
            # offsets stay ABSOLUTE indices into .values (pyarrow's
            # .values is the full child array even for sliced lists)
            offs = vec_col_a.offsets.to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            lens = np.diff(offs)
            vals = vec_col_a.values
            # a row is scoreable iff present, exactly dim long, and has
            # no null element; everything else -> NULL cosine (zip_with
            # null-padding / null-product poisoning in the JVM fold)
            ok = np.ones(n, dtype=bool)
            if vec_col_a.null_count:
                ok &= pc.is_valid(vec_col_a) \
                    .to_numpy(zero_copy_only=False)
            ok &= lens == dim
            if vals.null_count:
                elem_ok = pc.is_valid(vals) \
                    .to_numpy(zero_copy_only=False)
                # rows whose element slice contains any null
                cums = np.concatenate(
                    ([0], np.cumsum(elem_ok.astype(np.int64))))
                ok &= (cums[offs[1:]] - cums[offs[:-1]]) == lens
            cos = np.full((n, nq), np.nan)
            null_mask = np.ones((n, nq), dtype=bool)
            if ok.any():
                vnp = vals.to_numpy(zero_copy_only=False)
                idx = np.flatnonzero(ok)
                starts = offs[:-1][idx]
                gather = (starts[:, None]
                          + np.arange(dim)[None, :]).reshape(-1)
                mat = vnp[gather].astype(np.float64).reshape(len(idx), dim)
                # the exact left-to-right fold, one ordered add per dim
                dots = np.zeros((len(idx), nq))
                nacc = np.zeros(len(idx))
                for j in range(dim):
                    cj = mat[:, j]
                    dots += cj[:, None] * q_mat[None, :, j]
                    nacc += cj * cj
                nn = np.sqrt(nacc)
                # inf/nan from zero norms are legitimate IEEE results
                # (the JVM division produces the same bits) — not errors
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos[idx] = dots / (q_norm[None, :] * nn[:, None])
                null_mask[idx] = False
                if q_null.any():
                    null_mask[:, q_null] = True
            # assemble pairs (row-major: per corpus row, all queries)
            pair_q = np.tile(q_id_arr, n)
            pair_n = np.repeat(n_ids, nq)
            pair_c = cos.reshape(-1)
            pair_null = null_mask.reshape(-1)
            emit = pair_q != pair_n
            if lt_only:
                emit &= pair_q < pair_n
            if min_raw_score is not None:
                # conservative: keep near-hits and every NULL cosine
                emit &= pair_null | ~(pair_c < min_raw_score)
            if not emit.all():
                pair_q, pair_n = pair_q[emit], pair_n[emit]
                pair_c, pair_null = pair_c[emit], pair_null[emit]
            if len(pair_q) == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [pa.array(pair_q, type=pa.int64()),
                 pa.array(pair_n, type=pa.int64()),
                 pa.array(pair_c, type=pa.float64(), mask=pair_null)],
                names=["q_id", "n_id", "__cos_raw"])

    return corpus.select(F.col(id_col), F.col(vec_col)) \
        .mapInArrow(score, out_schema)
