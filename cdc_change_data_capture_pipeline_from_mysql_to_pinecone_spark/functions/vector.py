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
    Arrow/explode kernels and DuckDB's ``list_cosine_similarity``), 0.0
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


# ---------------------------------------------------------------------------
# Arrow-batched numpy kernels (r9). The HOF forms above are pure
# Catalyst expressions, but Spark evaluates higher-order-function
# lambdas INTERPRETED per element — a 64-dim cosine is ~130 boxed ops
# per row, and the r8 expression-unroll experiment proved the
# straight-line alternative blows codegen method limits (PERFORMANCE.md
# r8). The scale path for bulk embedding math is the one the brief
# names: Arrow-vectorized pandas_udf — one numpy matmul per batch,
# C-speed, no per-element interpretation. Measured at sf1 (20k x 64,
# interleaved): lsh bucketing 0.31 -> 0.20 s, knn 0.22 -> 0.19 s,
# bit-identical outputs. The HOF forms stay as the composable
# expression API (oracle mirrors, small literal work like label
# norms); operators that scan whole embedding columns take the kernel.
# ---------------------------------------------------------------------------


def _stack(v):
    """pandas Series of float arrays -> (float64 matrix, null mask).
    NULL and empty vectors become zero rows of the batch's width, so an
    empty vector scores the same whether or not its Arrow batch also
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


def _fold_dot(mat, q):
    """Row-wise dot as a SEQUENTIAL left fold over dimensions
    (vectorized across rows): bit-identical to the HOF
    ``aggregate(zip_with(...))`` evaluation order and to DuckDB's
    list_* loops. numpy's matmul/reduce use pairwise/SIMD-blocked
    summation, which differs in the last ulp — enough to flip a
    round(x, 4) on an exact .5 boundary (observed: 0.30625 at
    sf0.001) or, in principle, a plane sign. Cost is ~dim
    cache-friendly passes over a transposed copy — microseconds at
    batch scale, and the exactness IS the cross-engine contract."""
    import numpy as np

    matT = np.ascontiguousarray(mat.T)
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for j in range(matT.shape[0]):
        acc += matT[j] * q[j]
    return acc


def _fold_sq_norm(mat):
    """Row-wise sum of squares, same sequential fold order as
    ``l2_norm``'s aggregate."""
    import numpy as np

    matT = np.ascontiguousarray(mat.T)
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for j in range(matT.shape[0]):
        acc += matT[j] * matT[j]
    return acc


def cosine_scores_arrow(vec_col: Column, query_vec) -> Column:
    """Cosine similarity of every row vector to a FIXED query vector —
    the Arrow kernel form of ``cosine_sim(col, lit(query))``. Same
    semantics: 0.0 when either norm is zero, NULL for NULL vectors;
    summation in the SAME sequential order as the HOF fold (_fold_dot)
    so scores are bit-identical, not merely close. The query norm is
    computed once driver-side."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    qn = float(np.sqrt(_fold_dot(q.reshape(1, -1), q)[0]))

    @pandas_udf("double")
    def _cos(v):
        import numpy as np

        if len(v) == 0:
            import pandas as pd

            return pd.Series(np.empty(0, dtype=np.float64))
        mat, mask = _stack(v)
        d = _fold_dot(mat, q)
        n = np.sqrt(_fold_sq_norm(mat))
        denom = n * qn
        score = np.where(denom > 0, d / np.where(denom > 0, denom, 1.0), 0.0)
        return _masked_series(score, mask)

    return _cos(vec_col)


def cosine_scores_explode(df, id_cols: list[str], vec_col: str, query_vec):
    """Cosine scores to a FIXED query vector with NO Python worker at
    all — the r12 JVM explode shape (third formulation after HOF and
    the Arrow kernels, PERFORMANCE.md Round-12):

        posexplode(vec) -> val * element_at(<query literal>, pos+1)
        -> hash-agg SUM(dot), SUM(sq) per id -> score

    Catalyst constant-folds the query literal, the products and the
    two SUMs run inside whole-stage codegen, and the only exchange
    moves one row per input vector (each vector's elements stay in one
    partition, so the partial aggregate finishes the fold map-side).
    Versus the Arrow kernel this trades per-query Python-worker
    dispatch plus vector IPC (~50 MB/query at sf10) for one narrow
    shuffle of partial sums (~5 MB): measured bit-identical and a
    steady-state TIE at sf10 across four windows (0.38-0.41 vs
    0.33-0.40 s quiet; 0.75 vs 1.23 s under background load — the
    JVM arm degrades about half as much under contention), 0.93x at
    sf1, loses at sf0.1 where the HOF gate keeps it off anyway.
    Landed as the scale default for the robustness and the removed
    Python-worker subsystem, not a throughput claim — full window
    table in PERFORMANCE.md r12. (The analogous LSH explode form
    LOSES 24-59% — 13 sum buffers per group vs one numpy matmul — so
    only the cosine path takes this shape.)

    Bit-exactness (at tested scales, empirically gated): a row's
    exploded elements are contiguous in one partition and the partial
    hash aggregate folds each group's inputs in encounter order, so
    SUM accumulates in pos order — matching the sequential fold of the
    HOF/_fold_dot kernels. This is an empirical property, not a
    guarantee: under memory pressure HashAggregateExec can spill
    mid-group or fall back to sort-based aggregation, and a group's
    sum then merges partial chunks whose fold order is not the strict
    sequential one. A raw-equality check against the Arrow kernel
    (test_explode_kernel_bit_matches_and_stays_jvm_side) is a
    REQUIRED pre-check whenever fixture scale or executor memory
    changes; the 6-dp rounding in the registry queries absorbs ulp
    drift, but the internal raw-equal tests do not.

    Semantics match cosine_sim/cosine_scores_arrow: NULL vector ->
    NULL score, zero norm (e.g. empty array) -> 0.0 — posexplode_outer
    keeps null/empty rows and an is-null flag separates the two.

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
    for x in q:  # same sequential fold as _fold_dot / l2_norm
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


def _list_matrix(arr):
    """pyarrow ListArray of float -> (float64 matrix, null mask).

    The zero-copy path for uniform-length non-null lists (every
    fixture embedding column): one buffer reinterpret + reshape +
    widening cast — no per-row Python object is ever created. This is
    the conversion the pandas_udf path cannot avoid (Arrow->pandas
    builds one ndarray OBJECT per row, then _stack re-walks them); at
    200k rows that object churn is the measurable difference between
    the two kernels. Null rows fall back to a per-row scatter that
    mirrors _stack's zero-fill semantics."""
    import numpy as np

    n = len(arr)
    if arr.null_count == 0:
        flat = arr.flatten().to_numpy(zero_copy_only=True)
        if n and flat.size % n == 0:
            return (
                flat.astype(np.float64, copy=False).reshape(n, flat.size // n),
                np.zeros(n, dtype=bool),
            )
    # ragged or null-bearing batch: per-row (semantics mirror of _stack)
    mask = np.asarray([not v for v in arr.is_valid().to_pylist()], dtype=bool)
    pylists = arr.to_pylist()
    dim = next((len(x) for x in pylists if x is not None), 0)
    rows = [
        np.zeros(dim, dtype=np.float64) if x is None else np.asarray(x, dtype=np.float64)
        for x in pylists
    ]
    return (np.vstack(rows) if rows else np.empty((0, dim))), mask


def cosine_scores_map_arrow(df, id_cols: list[str], vec_col: str, query_vec):
    """mapInArrow form of :func:`cosine_scores_arrow`: scores every
    row vector against a FIXED query vector, returning ``id_cols`` +
    a raw ``score`` double column (round/order/limit stay JVM-side so
    the query contract is unchanged). Same sequential-fold summation
    order as the HOF/pandas kernels — scores are bit-identical.

    Why a separate entry point instead of a Column expression:
    ``mapInArrow`` replaces the whole frame and is OPAQUE to Catalyst
    column pruning, so the input projection must be pruned by hand
    (select only ids + vector) and the output schema declared. In
    exchange the kernel touches raw Arrow buffers: id columns pass
    through zero-copy and the vector column reshapes without creating
    per-row pandas objects (see _list_matrix)."""
    import numpy as np

    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    qn = float(np.sqrt(_fold_dot(q.reshape(1, -1), q)[0]))
    src = df.select(*id_cols, vec_col)
    out_schema = ", ".join(
        f"{c} {src.schema[c].dataType.simpleString()}" for c in id_cols
    ) + ", score double"
    vec_idx = len(id_cols)

    def _score_batches(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            mat, mask = _list_matrix(b.column(vec_idx))
            d = _fold_dot(mat, q)
            nrm = np.sqrt(_fold_sq_norm(mat))
            denom = nrm * qn
            score = np.where(denom > 0, d / np.where(denom > 0, denom, 1.0), 0.0)
            score_arr = pa.array(score, mask=mask) if mask.any() else pa.array(score)
            yield pa.RecordBatch.from_arrays(
                [b.column(i) for i in range(vec_idx)] + [score_arr],
                names=list(id_cols) + ["score"],
            )

    return src.mapInArrow(_score_batches, out_schema)


def lsh_bucket_counts_map_arrow(df, vec_col: str, planes):
    """mapInArrow form of the LSH bucket histogram input: one
    ``bucket int`` column per input row (bit b = sign(vec . plane_b),
    NULL vector -> NULL bucket — identical to :func:`lsh_bucket_arrow`).
    The caller aggregates (groupBy bucket / count) JVM-side exactly as
    with the column-expression kernels; hand-pruned input because
    mapInArrow blocks column pruning (see cosine_scores_map_arrow)."""
    import numpy as np

    P = np.asarray([[float(x) for x in p] for p in planes], dtype=np.float64)
    W = (1 << np.arange(P.shape[0])).astype(np.int64)
    src = df.select(vec_col)

    def _bucket_batches(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            mat, mask = _list_matrix(b.column(0))
            signs = np.stack(
                [_fold_dot(mat, P[i]) >= 0 for i in range(P.shape[0])], axis=1
            )
            buckets = (signs @ W).astype(np.int32)
            arr = pa.array(buckets, mask=mask) if mask.any() else pa.array(buckets)
            yield pa.RecordBatch.from_arrays([arr], names=["bucket"])

    return src.mapInArrow(_bucket_batches, "bucket int")


def lsh_bucket_arrow(vec_col: Column, planes) -> Column:
    """LSH bucket id from sign bits against a FIXED plane matrix — the
    Arrow kernel form of the ``_bucket_sql`` HOF expression (bit b =
    1 iff vec . plane_b >= 0). ``planes`` is a list of plane vectors
    (bit order = list order); NULL vectors map to NULL buckets.

    r14 (PERFORMANCE.md Round-14): all plane dots in ONE fused sequential
    fold — one transposed batch copy + one dim-loop updating an
    (n x n_planes) accumulator, instead of a ``_fold_dot`` call (each
    with its own full-batch transpose copy) per plane. Column b's
    additions happen in the same ascending-dimension order as
    ``_fold_dot(mat, P[b])``, so the signs are bit-identical to the
    HOF/oracle fold (gated on the full corpus in the decomposition
    tool and by the shared vec_lsh_arrow_kernel oracle). Measured a
    tie-to-modest win (0.85-1.07x across four sf10 windows — the
    kernel is only ~11% of the query; see PERFORMANCE.md r14), landed
    because it is strictly less work: 13x fewer numpy passes and one
    batch-sized copy instead of n_planes of them."""
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
