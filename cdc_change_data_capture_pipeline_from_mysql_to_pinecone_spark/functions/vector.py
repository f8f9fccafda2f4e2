"""Vector math over ``array<float>`` columns — pure JVM-side exprs.

The reference's similarity metric is cosine (Pinecone index,
service_layer/service.py:91); queries embed to 384-dim float vectors
(utils/embeddings_utils.py:7-14). Here vectors are plain
``array<float>`` columns and the math is ``zip_with``/``aggregate``
higher-order functions — codegen'd, no Python round-trip, and
distributable over any partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def lit_double_array(values) -> Column:
    """A literal array<double> built as ONE parsed SQL expression.

    ``F.array(*[F.lit(x) for x in vec])`` costs one py4j round-trip per
    element — ~0.5 s of driver-side plan construction for a handful of
    64-dim planes, repeated per query build. Python float repr
    round-trips exactly through Spark's double parser, so the single
    ``expr`` string is bit-identical and ~100x cheaper to construct."""
    return F.expr("array(" + ",".join(f"{float(v)!r}D" for v in values) + ")")


def dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-length float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector is NULL (matching the
    explode kernel and DuckDB's ``list_cosine_similarity``), 0.0
    when either vector has zero norm. The explicit NULL branch matters:
    without it a NULL input makes the ``when`` condition NULL and the
    score silently falls through to ``otherwise(0.0)``, so kernel='auto'
    would flip NULL-vector scores between 0.0 and NULL across the size
    gate (r12 ADVICE)."""
    d = dot(a, b)
    na, nb = l2_norm(a), l2_norm(b)
    return (
        F.when(a.isNull() | b.isNull(), F.lit(None).cast("double"))
        .when((na > 0) & (nb > 0), d / (na * nb))
        .otherwise(F.lit(0.0))
    )


def cosine_sim_precomputed_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """:func:`cosine_sim` with the two l2 norms supplied as columns —
    for pairwise shapes where each vector participates in MANY pairs.
    Inlined, ``cosine_sim`` evaluates five interpreted HOF folds per
    pair (dot once, each norm twice: condition + division); computing
    the norms once per VECTOR row (e.g. in the projection that feeds a
    pair join) leaves one fold per pair. Measured on
    vec_banded_neardup's 25M candidate pairs at sf10: 108 -> 35 s,
    identical rows (r16).

    Callers must pass ``na``/``nb`` = ``l2_norm`` of the same ``a``/
    ``b`` columns; NULL/zero-norm semantics then match ``cosine_sim``
    exactly (NULL vector -> NULL via the explicit first branch — the
    norm of a NULL vector is NULL, which would otherwise fall through
    to 0.0; zero norm -> 0.0; ragged pair -> NULL dot / positive norms
    -> NULL, same as the inline fold)."""
    return (
        F.when(a.isNull() | b.isNull(), F.lit(None).cast("double"))
        .when((na > 0) & (nb > 0), dot(a, b) / (na * nb))
        .otherwise(F.lit(0.0))
    )


def cosine_scores_explode(df, id_cols: list[str], vec_col: str, query_vec):
    """Cosine scores to a FIXED query vector with NO Python worker at
    all — the r12 JVM explode shape (PERFORMANCE.md Round-12):

        posexplode(vec) -> val * element_at(<query literal>, pos+1)
        -> hash-agg SUM(dot), SUM(sq) per id -> score

    Catalyst constant-folds the query literal, the products and the
    two SUMs run inside whole-stage codegen, and the only exchange
    moves one row per input vector (each vector's elements stay in one
    partition, so the partial aggregate finishes the fold map-side).
    Versus the (since deleted) Arrow pandas_udf cosine kernel this
    traded per-query Python-worker dispatch plus vector IPC (~50
    MB/query at sf10) for one narrow shuffle of partial sums (~5 MB):
    measured bit-identical and a steady-state TIE at sf10 across four
    windows (0.38-0.41 vs 0.33-0.40 s quiet; 0.75 vs 1.23 s under
    background load — the JVM arm degrades about half as much under
    contention), 0.93x at sf1, loses at sf0.1 where the HOF gate keeps
    it off anyway. It is the only scale kernel for cosine scoring —
    full window table in PERFORMANCE.md r12. (The analogous LSH
    explode form LOSES 24-59% — 13 sum buffers per group vs one numpy
    matmul — so only the cosine path takes this shape.)

    Bit-exactness (at tested scales, empirically gated): a row's
    exploded elements are contiguous in one partition and the partial
    hash aggregate folds each group's inputs in encounter order, so
    SUM accumulates in pos order — matching the sequential fold of
    the HOF ``cosine_sim``. This is an empirical property, not a
    guarantee: under memory pressure HashAggregateExec can spill
    mid-group or fall back to sort-based aggregation, and a group's
    sum then merges partial chunks whose fold order is not the strict
    sequential one. A raw-equality check against the HOF
    ``cosine_sim`` (test_explode_kernel_bit_matches_and_stays_jvm_side)
    is a REQUIRED pre-check whenever fixture scale or executor memory
    changes; the 6-dp rounding in the registry queries absorbs ulp
    drift, but the internal raw-equal tests do not.

    Semantics match cosine_sim: NULL vector -> NULL score, zero norm
    (e.g. empty array) -> 0.0 — posexplode_outer keeps null/empty rows
    and an is-null flag separates the two.

    PRECONDITION: ``id_cols`` must identify rows UNIQUELY — this
    kernel aggregates by them, so duplicated ids would merge two
    vectors' elements into one meaningless score where the row-wise
    kernels emit one row each. cosine_topk guards this by adding a
    monotonically_increasing_id to the grouping; direct callers with
    possibly-duplicate ids must do the same.

    Ragged inputs: a row vector LONGER than the query is truncated to
    the query's dimension (both the dot and the squared norm see only
    the first len(query) elements, so the truncation is consistent).
    Without the bound, ANSI mode (the PySpark 4.x default) would make
    ``element_at`` throw INVALID_ARRAY_INDEX and fail the whole query
    on a single ragged row. Equal-dim inputs — the kernel's contract —
    are unaffected by the filter."""
    import math

    q = [float(x) for x in query_vec]
    qn = 0.0
    for x in q:  # same sequential fold as l2_norm
        qn += x * x
    qn = math.sqrt(qn)
    Q = lit_double_array(q)
    ex = df.select(
        *id_cols,
        F.col(vec_col).isNull().alias("_vnull"),
        F.posexplode_outer(vec_col).alias("_pos", "_val"),
    ).where(  # ragged-row truncation bound; _pos is NULL for NULL/empty rows
        F.col("_pos").isNull() | (F.col("_pos") < F.lit(len(q)))
    )
    v = F.col("_val").cast("double")
    agg = ex.groupBy(*id_cols).agg(
        F.max("_vnull").alias("_vnull"),
        F.sum(v * F.element_at(Q, F.col("_pos") + 1)).alias("_d"),
        F.sum(v * v).alias("_sq"),
    )
    score = (
        F.when(F.col("_vnull"), F.lit(None).cast("double"))
        .when(
            (F.col("_sq") > 0) & (F.lit(qn) > 0),
            F.col("_d") / (F.sqrt("_sq") * F.lit(qn)),
        )
        .otherwise(F.lit(0.0))
    )
    return agg.select(*id_cols, score.alias("score"))


# ---------------------------------------------------------------------------
# Arrow-batched numpy kernel for LSH bucketing (r9). The HOF forms
# above are pure Catalyst expressions, but Spark evaluates
# higher-order-function lambdas INTERPRETED per element, and the r8
# expression-unroll experiment proved the straight-line alternative
# blows codegen method limits (PERFORMANCE.md r8). Many plane dots per
# vector are one numpy matmul per Arrow batch: measured at sf1
# (20k x 64, interleaved) lsh bucketing 0.31 -> 0.20 s, bit-identical
# buckets. Cosine scoring (one dot, one norm per vector) takes the
# JVM explode kernel above instead; hyperplane_buckets picks this
# kernel above its size gate.
# ---------------------------------------------------------------------------


def _stack(v):
    """pandas Series of float arrays -> (float64 matrix, null mask).
    NULL and empty vectors become zero rows of the batch's width, so an
    empty vector buckets the same whether or not its Arrow batch also
    holds full-width vectors."""
    import numpy as np

    mask = v.isna().to_numpy()
    vals = v.to_numpy()
    if not mask.any():
        try:
            return np.vstack(vals).astype(np.float64, copy=False), mask
        except ValueError:
            pass  # ragged batch: empty vectors among full-width ones
    dim = max((len(x) for m, x in zip(mask, vals) if not m), default=0)
    rows = [
        np.asarray(x, dtype=np.float64) if not m and len(x) else np.zeros(dim, dtype=np.float64)
        for m, x in zip(mask, vals)
    ]
    return (np.vstack(rows) if rows else np.empty((0, dim))), mask


def _masked_series(values, mask):
    """float64 ndarray + null mask -> Series Arrow converts with TRUE
    nulls (NaN would survive as a float otherwise)."""
    import pandas as pd

    if mask.any():
        out = pd.array(values, dtype="Float64")
        out[mask] = pd.NA
        return pd.Series(out)
    return pd.Series(values)


def lsh_bucket_arrow(vec_col: Column, planes) -> Column:
    """LSH bucket id from sign bits against a FIXED plane matrix — the
    Arrow kernel form of the ``_bucket_sql`` HOF expression (bit b =
    1 iff vec . plane_b >= 0). ``planes`` is a list of plane vectors
    (bit order = list order); NULL vectors map to NULL buckets.

    r14 (PERFORMANCE.md Round-14): all plane dots in ONE fused sequential
    fold — one transposed batch copy + one dim-loop updating an
    (n x n_planes) accumulator, instead of one sequential-fold call
    (each with its own full-batch transpose copy) per plane. Column b's
    additions happen in the same ascending-dimension order as the HOF
    ``aggregate(zip_with(...))`` dot with plane b, so the signs are
    bit-identical to the HOF/oracle fold (gated on the full corpus in
    the decomposition tool and by the shared vec_lsh_arrow_kernel
    oracle). Measured a tie-to-modest win (0.85-1.07x across four sf10
    windows — the kernel is only ~11% of the query; see PERFORMANCE.md
    r14), landed because it is strictly less work: 13x fewer numpy
    passes and one batch-sized copy instead of n_planes of them."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = np.asarray([[float(x) for x in p] for p in planes], dtype=np.float64)
    W = (1 << np.arange(P.shape[0])).astype(np.int64)
    PT = np.ascontiguousarray(P.T)  # (dim, n_planes)

    @pandas_udf("int")
    def _bucket(v):
        import numpy as np

        if len(v) == 0:
            import pandas as pd

            return pd.Series(np.empty(0, dtype=np.int32))
        mat, mask = _stack(v)
        matT = np.ascontiguousarray(mat.T)  # ONE copy, not one per plane
        acc = np.zeros((mat.shape[0], P.shape[0]), dtype=np.float64)
        for j in range(matT.shape[0]):
            acc += matT[j][:, None] * PT[j][None, :]
        b = ((acc >= 0) @ W).astype(np.float64)
        out = _masked_series(b, mask)
        return out.astype("Int32" if mask.any() else "int32")

    return _bucket(vec_col)
