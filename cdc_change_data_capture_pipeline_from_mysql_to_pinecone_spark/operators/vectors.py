"""Vector similarity-search operators.

The reference's read path is implied-but-unimplemented (embed_query at
utils/embeddings_utils.py:10-14 has no caller; the Pinecone index is
cosine, service_layer/service.py:91). Here it is a first-class
operator pair:

- ``cosine_topk``  : exact brute-force top-k — the correctness
  baseline. One scan, one TakeOrderedAndProject (no global sort);
  at 100 TB this is the per-partition top-k + driver merge Spark
  already does for orderBy+limit.
- ``hyperplane_buckets`` + ``ann_topk`` : random-hyperplane LSH, a
  registry operator (the ``vec_*`` LSH queries and their oracles).
  Docs hash to 2^n_planes buckets; a query probes only its own bucket,
  cutting the scanned fraction by ~2^n while staying deterministic
  (hyperplanes derive from the portable hash family, so an external
  oracle can replay the bucketing).
- ``train_ivf_centroids`` + ``ivf_assign`` : the IVF coarse quantizer.
  It is the vector store's only ANN (``VectorStore.build_ivf`` /
  ``query(mode='ivf')``), maintained on every upsert; LSH hashes every
  stored vector at query time, which costs more than the exact scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine_sim, lit_double_array


#: Input-size gate for kernel='auto': below this optimizer size
#: estimate a scale kernel's fixed cost exceeds what it saves over
#: interpreted HOF evaluation (measured interleaved: at sf0.1's 0.8 MiB
#: embeddings the Arrow kernel LOSES 14-20%; at sf1's 8 MiB it wins
#: -27% on 10-plane bucketing, growing with rows x ops/row). Unknown
#: stats estimate as Long.MaxValue and take the scale side — the right
#: default at scale, where the interpreted path is the 10x mistake.
ARROW_KERNEL_MIN_BYTES = 4 * 1024 * 1024


def _resolve_kernel(df: DataFrame, kernel: str, scale_kernel: str = "arrow") -> str:
    """'auto' -> ``scale_kernel`` above the size gate, 'hof' below it;
    any kernel other than auto|hof|``scale_kernel`` is a ValueError.
    The scale kernel is per-operator: cosine scoring takes the JVM
    explode shape (r12: steady-state tie with Arrow at sf10, ~half
    the contention degradation, no Python worker — PERFORMANCE.md),
    LSH bucketing keeps the Arrow matmul (the 13-sum explode agg
    measured 24-59% WORSE at sf10 — one matmul beats thirteen
    grouped sums; PERFORMANCE.md Round-12 explode kernel)."""
    if kernel not in ("auto", "hof", scale_kernel):
        raise ValueError(f"kernel must be auto|hof|{scale_kernel}, got {kernel!r}")
    if kernel != "auto":
        return kernel
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return scale_kernel if size >= ARROW_KERNEL_MIN_BYTES else "hof"


def cosine_topk(
    emb_df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    kernel: str = "auto",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    Kernels (both produce bit-identical scores — same sequential fold;
    verified raw-equal at sf0.1/sf1/sf10, PERFORMANCE.md Round-12):

    - ``'explode'`` (the scale kernel since r12): pure-JVM
      posexplode + literal-lookup products + hash-agg sums — no
      Python worker, no interpreted lambda. It tied the deleted Arrow
      kernel at sf10 and ran 0.93x at sf1 (four-window record in
      PERFORMANCE.md), and degrades ~half as much under executor
      contention.
    - ``'hof'``: pure-expression form (the oracle mirror) — wins
      under ARROW_KERNEL_MIN_BYTES where the explode shape's
      aggregation costs more than it saves.
    - ``'auto'`` (default) picks ``'explode'`` above the size gate,
      ``'hof'`` below it (no job — optimizer size estimate).

    Any other ``kernel`` raises ValueError.

    The plan ends in TakeOrderedAndProject either way — per-partition
    top-k + driver merge, no global sort, at any scale."""
    if _resolve_kernel(emb_df, kernel, scale_kernel="explode") == "explode":
        from ..functions.vector import cosine_scores_explode

        # Per-row uniquifier: cosine_scores_explode aggregates BY the id
        # columns, so a duplicated id would MERGE two vectors' elements
        # into one garbage score — the HOF kernel would instead emit one
        # row each. The _rid keeps per-row semantics identical across
        # kernels for any input (only used as a grouping key, dropped
        # before the contract columns; each group is still one row's
        # contiguous elements, so the fold order is unchanged).
        scored = cosine_scores_explode(
            emb_df.withColumn("_rid", F.monotonically_increasing_id()),
            [id_col, "_rid"],
            vec_col,
            query_vec,
        )
    else:
        scored = emb_df.select(
            F.col(id_col),
            cosine_sim(F.col(vec_col), lit_double_array(query_vec)).alias("score"),
        )
    return (
        scored.select(F.col(id_col), F.round(F.col("score"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


TARGET_BUCKET_SIZE = 32  # aimed-for vectors per LSH bucket


def planes_for_corpus(
    n_rows: int, target_bucket_size: int = TARGET_BUCKET_SIZE, max_planes: int = 24
) -> int:
    """Size the hyperplane count to the corpus: 2^planes ≈ n/target,
    so per-bucket work (self-join, probe scan) stays ~target² and the
    total candidate volume stays ~linear in n. A fixed plane count is
    the classic ANN scale bug — 16 buckets over 10⁹ vectors makes
    every 'bucketed' pass quadratic again. Clamped to [1, max_planes]
    (2^24 ≈ 16M buckets covers 10¹² rows at target 64k... pick
    target_bucket_size per downstream cost).
    Mirrored in SQL oracles as
    ``greatest(1, least(24, ceil(log2(count(*) / 32.0))))``."""
    import math

    if n_rows <= target_bucket_size:
        return 1
    return min(max_planes, max(1, math.ceil(math.log2(n_rows / target_bucket_size))))


_ROWS_CACHE: dict[tuple[str, int], int] = {}
_ROWS_CACHE_MAX = 256  # bounded: distinct plans per app rarely exceed this


def _corpus_rows(emb_df: DataFrame, n_rows: int | None = None) -> int:
    """Corpus size for auto-sizing. Callers that know the count (e.g.
    from parquet footer metadata — free, no job) pass ``n_rows``;
    otherwise ONE count job per distinct logical plan per session,
    memoized on the plan's semantic hash (repeated auto-sized LSH calls
    were paying a count job each; VERDICT r3 minor #3).

    The memo is per (application, plan): if the underlying TABLE grows
    within the same application (e.g. a streaming store between calls),
    the stale count is reused — callers sizing against mutable stores
    must pass ``n_rows`` explicitly (ADVICE r4). FIFO-bounded so
    long-lived sessions don't accrete entries without limit."""
    if n_rows is not None:
        return n_rows
    key = (
        emb_df.sparkSession.sparkContext.applicationId,
        emb_df._jdf.queryExecution().analyzed().semanticHash(),
    )
    if key not in _ROWS_CACHE:
        if len(_ROWS_CACHE) >= _ROWS_CACHE_MAX:
            _ROWS_CACHE.pop(next(iter(_ROWS_CACHE)))
        _ROWS_CACHE[key] = emb_df.count()
    return _ROWS_CACHE[key]


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j is the
    portable hash of (plane_idx, j) mapped to [-1, 1]. Computed
    driver-side once (dim floats), broadcast as a literal array."""
    # mirror of functions.hashing.portable_hash64 in plain python
    import hashlib

    out = []
    for j in range(dim):
        h = int(hashlib.md5(f"plane{plane_idx}:{j}".encode()).hexdigest()[:15], 16)
        out.append((h % 2_000_001) / 1_000_000.0 - 1.0)
    return out


def _plane_sql(dim: int, plane_idx: int) -> str:
    """The plane as one SQL array literal (see lit_double_array for why
    text beats element-wise column construction)."""
    return "array(" + ",".join(f"{v!r}D" for v in _hyperplane(dim, plane_idx)) + ")"


def _bucket_sql(vec_col: str, dim: int, plane_indices: list[int]) -> str:
    """SQL text for the LSH bucket id over the given plane-family
    indices. One parsed expression replaces ~10 py4j round-trips per
    plane of column algebra — same operations, so bit-identical
    results."""
    terms = []
    for bit, p in enumerate(plane_indices):
        d = (
            f"aggregate(zip_with(`{vec_col}`, {_plane_sql(dim, p)}, "
            "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {d} >= 0 THEN {1 << bit} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INT)"


def hyperplane_buckets(
    emb_df: DataFrame, vec_col: str, dim: int, n_planes: int | None = 4,
    n_rows: int | None = None, kernel: str = "auto",
) -> DataFrame:
    """Append an LSH bucket id: bit b = sign(vec · plane_b). Buckets
    partition the corpus into 2^n_planes cells; cosine-close vectors
    land in the same cell with high probability. ``n_planes=None``
    auto-sizes from the corpus row count (one count job) via
    :func:`planes_for_corpus`; the count is memoized per (application,
    plan), so pass ``n_rows`` when sizing against a table that mutates
    within the session (the memo would reuse the stale count).

    ``kernel='arrow'`` computes all plane dots as one numpy matmul per
    Arrow batch (measured -27..-35% on the sf1 bucket histogram vs the
    interpreted HOF lambdas); ``kernel='hof'`` keeps the pure
    SQL-expression form (the oracle mirror); ``'auto'`` (default)
    picks by the optimizer's input-size estimate (no job — see
    ARROW_KERNEL_MIN_BYTES). Identical bucket ids — a sign flip would
    need a dot within float64 summation-order noise of exactly
    zero."""
    if n_planes is None:
        n_planes = planes_for_corpus(_corpus_rows(emb_df, n_rows))
    if _resolve_kernel(emb_df, kernel) == "arrow":
        from ..functions.vector import lsh_bucket_arrow

        planes = [_hyperplane(dim, p) for p in range(n_planes)]
        return emb_df.withColumn("bucket", lsh_bucket_arrow(F.col(vec_col), planes))
    return emb_df.withColumn(
        "bucket", F.expr(_bucket_sql(vec_col, dim, list(range(n_planes))))
    )


def hyperplane_buckets_banded(
    emb_df: DataFrame,
    vec_col: str,
    dim: int,
    n_tables: int = 4,
    n_planes: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Banded hyperplane LSH: ``n_tables`` independent plane sets, one
    (band, bucket) row per table per vector (explode). Two vectors are
    candidates if they collide in ANY band — same recall/precision
    trade MinHash banding makes for sets, here for cosine space:
    single-table LSH at high plane counts loses near-neighbors that
    straddle one hyperplane; extra bands recover them at linear cost
    (corpus × n_tables rows, still no pairwise pass).

    Plane (t, b) uses the deterministic family at index t*n_planes+b,
    so band 0 reproduces :func:`hyperplane_buckets` exactly and an SQL
    oracle can replay every band.

    ``n_planes=None`` auto-sizing memoizes the corpus count per
    (application, plan) — pass ``n_rows`` for mutable tables."""
    if n_planes is None:
        n_planes = planes_for_corpus(_corpus_rows(emb_df, n_rows))
    bands = F.expr(
        "array("
        + ",".join(
            f"struct({t} AS band, "
            + _bucket_sql(vec_col, dim, [t * n_planes + b for b in range(n_planes)])
            + " AS bucket)"
            for t in range(n_tables)
        )
        + ")"
    )
    return emb_df.withColumn("_b", F.explode(bands)).select(
        "*", F.col("_b.band").alias("band"), F.col("_b.bucket").alias("bucket")
    ).drop("_b")


def banded_embedding_neardup(
    emb_df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_tables: int = 4,
    n_planes: int | None = None,
    threshold: float = 0.95,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding near-dup with banded LSH candidates: pairs colliding
    in any band, deduped, then exact cosine. The per-band join keys on
    (band, bucket) so band partitions never cross-multiply.

    Candidates are generated over IDS ONLY (r15, guide §8 "decide with
    small rows, move big rows once"), and since r16 WITHOUT a self-join:
    one groupBy(band, bucket) collects each bucket's ids into a sorted
    array, and in-bucket pairs stream out of two chained Generates
    (posexplode x suffix-slice explode — id_a < id_b falls out of the
    sort order). That replaces the r15 self-join's second exchange read
    + join with a single aggregation over the banded rows: same
    25.3M raw pairs at sf10, measured 13.8 -> 11.6 s on the isolated
    candidate stage. Per-bucket arrays stay small by construction —
    ``planes_for_corpus`` sizes the plane count for ~32 ids/bucket
    mean (sf10 observed: p50 14, max 546), so no Generate row is ever
    large and there is nothing for AQE skew handling to miss.

    The exact-cosine pass hoists both l2 norms out of the per-pair
    expression (r16, the dominant cost): inline ``cosine_sim``
    evaluates five interpreted HOF folds per candidate pair; the norms
    now compute once per VECTOR in the attach projections and only the
    dot product folds per pair
    (functions.vector.cosine_sim_precomputed_norms) — measured
    108 -> 35 s on the full query at sf10, identical 8 523 440 rows.
    The attach joins broadcast the (id, vec, norm) sides when the
    plan-stats estimate says the table fits
    (``NEARDUP_BCAST_MAX_BYTES``): the deduped pairs then never
    re-shuffle and the vectors never shuffle at all (measured
    42 -> 29 s same-window); above the gate the joins fall back to the
    planner's shuffle strategy — at 100 TB the embedding side must
    partition, and the gate fails closed."""
    from ..functions.vector import cosine_sim_precomputed_norms, l2_norm

    banded = (
        hyperplane_buckets_banded(
            emb_df, vec_col, dim, n_tables, n_planes, n_rows=n_rows
        )
        .select(F.col(id_col), "band", "bucket")
        # the r15 self-join dropped NULL join keys / NULL-id pairs
        # implicitly; the aggregate form must filter them explicitly
        .filter(F.col(id_col).isNotNull() & F.col("bucket").isNotNull())
    )
    # distinct ids per bucket: a repeated id would otherwise pair with
    # itself (id_a == id_b) out of the suffix slice below
    grouped = banded.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_set(id_col)).alias("_ids")
    )
    pairs = (
        grouped.select("_ids", F.posexplode("_ids").alias("_i", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.slice(F.col("_ids"), F.col("_i") + 2, F.size(F.col("_ids")))
            ).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ea = emb_df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        l2_norm(F.col(vec_col)).alias("_na"),
    )
    eb = emb_df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        l2_norm(F.col(vec_col)).alias("_nb"),
    )
    if _emb_bytes_estimate(emb_df, dim) <= NEARDUP_BCAST_MAX_BYTES:
        ea, eb = F.broadcast(ea), F.broadcast(eb)
    return (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn(
            "cos",
            cosine_sim_precomputed_norms(
                F.col("vec_a"), F.col("vec_b"), F.col("_na"), F.col("_nb")
            ),
        )
        .filter(F.col("cos") > threshold)
        .select("id_a", "id_b", "cos")
    )


#: Above this estimated IN-MEMORY size of the (id, vec, norm) attach
#: side, banded_embedding_neardup leaves the attach joins to the
#: planner instead of forcing a broadcast. Broadcasting both sides at
#: sf10 (~110 MB estimated) removed the pair re-shuffles entirely
#: (42 -> 29 s same-window); a 100 TB embedding table blows any
#: broadcast, so the gate fails closed to shuffle joins there. Sits
#: well under Spark's 8 GB broadcast cap with room for the driver to
#: hold two copies.
NEARDUP_BCAST_MAX_BYTES = 256 << 20


def _emb_bytes_estimate(emb_df: DataFrame, dim: int) -> int:
    """Estimated in-memory bytes of an (id, vec, norm) projection of
    ``emb_df``: plan-stats row count (on-disk bytes / packed float
    width — no job, same gate style as ivf_assign) times a
    schema-aware unsafe-row width (8B id + 8B norm + array header +
    4B/element floats). Unknown stats estimate huge, which fails the
    broadcast gate closed — the safe direction at scale."""
    try:
        size = int(emb_df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        est_rows = size // max(1, dim * 4)
    except Exception:  # non-JVM-backed frame: assume big
        return 1 << 62
    return est_rows * (dim * 4 + 48)


#: Above this centroid count, ivf_assign ships centroids as broadcast
#: DATA instead of literal plan text (plan size O(k x dim) otherwise —
#: k=65k centroids would blow up driver planning; VERDICT r2/r3).
IVF_LITERAL_MAX_K = 32

#: Above this (estimated rows x centroids) volume, ivf_assign routes
#: the argmax through the Arrow/numpy kernel instead of the broadcast
#: HOF expression (r15 optimization). The HOF `transform(cents, c ->
#: aggregate(zip_with(...)))` allocates a zip array per (row, cell)
#: pair in interpreted eval — measured ~1 µs/pair, i.e. 110 s for the
#: sf10 coarse quantization (200k rows x 512 cells); the kernel does
#: the same multiply-adds vectorized (~45x faster there) at a fixed
#: ~0.4 s Python-dispatch cost. Threshold sits where the saved
#: interpreted work clearly exceeds the hop (measured: 8M pairs =
#: ~8 s HOF vs ~1 s kernel; 80k pairs favors HOF).
IVF_ARROW_MIN_PAIRS = 2_000_000


def _ivf_assign_arrow(
    emb_df: DataFrame, vec_col: str, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """mapInArrow argmax kernel for ivf_assign — BIT-IDENTICAL to the
    HOF paths by construction:

    - dot products accumulate dimension-sequentially (one IEEE mult +
      one IEEE add per dimension, ascending index — the exact fold
      order of ``aggregate(zip_with(...))``; numpy elementwise ops do
      not reassociate, so every intermediate equals the fold's);
    - centroids are pre-sorted by cell DESCENDING, so numpy's
      first-occurrence argmax picks the LARGEST cell among exact
      score ties — exactly ``array_max``'s lexicographic
      (score, cell) max;
    - irregular rows (NULL vector, ragged length, NULL element, empty)
      get the MAX cell id: under the HOF every such row's scores are
      all NULL and array_max's struct comparison then reduces to the
      cell field (pinned by test against both expression paths)."""
    import numpy as np
    import pyarrow as pa

    order = sorted(range(len(centroids)), key=lambda i: -centroids[i][0])
    cells_desc = np.array([int(centroids[i][0]) for i in order], dtype=np.int32)
    cmat = np.array([centroids[i][1] for i in order], dtype=np.float64)  # (k, dim)
    dim = cmat.shape[1]
    max_cell = int(max(cid for cid, _ in centroids))

    def _fold_row(vec) -> int:
        # exact per-row mirror of the HOF for irregular batches: the
        # fold over zip_with null-propagates, so any None / ragged
        # length leaves every score NULL and array_max reduces to the
        # max cell; a clean row folds acc + x*y in ascending dim order
        # (Python floats ARE IEEE doubles — identical op sequence).
        if vec is None or len(vec) != dim or any(x is None for x in vec):
            return max_cell
        best_score, best_cell = None, None
        for ci in range(len(cells_desc)):
            acc = 0.0
            crow = cmat[ci]
            for j in range(dim):
                acc = acc + vec[j] * crow[j]
            if best_score is None or acc > best_score:
                best_score, best_cell = acc, int(cells_desc[ci])
        return best_cell

    def assign(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            arr = batch.column(vec_col)
            lengths = pa.compute.list_value_length(arr)
            clean = (
                arr.null_count == 0
                and arr.flatten().null_count == 0
                and pa.compute.min(lengths).as_py() == dim
                and pa.compute.max(lengths).as_py() == dim
            )
            if clean:
                emat = np.asarray(arr.flatten(), dtype=np.float64).reshape(n, dim)
                # dimension-sequential accumulation == the fold's FP
                # order (one IEEE mult + one IEEE add per dim, no
                # reassociation), chunked to bound the temp matrices
                out_cell = np.empty(n, dtype=np.int32)
                for lo in range(0, n, 8192):
                    sub = emat[lo : lo + 8192]
                    scores = np.zeros((sub.shape[0], len(cells_desc)), dtype=np.float64)
                    for j in range(dim):
                        scores += sub[:, j : j + 1] * cmat[:, j][None, :]
                    out_cell[lo : lo + 8192] = cells_desc[np.argmax(scores, axis=1)]
            else:  # irregular batch: exact slow path, never hit by clean data
                out_cell = np.array(
                    [_fold_row(v) for v in arr.to_pylist()], dtype=np.int32
                )
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(batch.num_columns)]
                + [pa.array(out_cell, type=pa.int32())],
                schema=pa.schema(list(batch.schema) + [pa.field("cell", pa.int32())]),
            )

    # programmatic output schema (ADVICE r15): simpleString() does not
    # round-trip all types/names (e.g. struct fields needing quoting)
    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        list(emb_df.schema.fields) + [StructField("cell", IntegerType())]
    )
    return emb_df.mapInArrow(assign, out_schema)


def ivf_assign(
    emb_df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    literal_max_k: int = IVF_LITERAL_MAX_K,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its
    highest-dot-product centroid (cosine-compatible for unit-ish
    vectors). Assignment is a per-row argmax, no shuffle, both paths:

    - k <= ``literal_max_k``: centroids inlined as literal structs —
      zero extra exchanges, fine while plan text stays O(k x dim) small.
    - k > ``literal_max_k``: centroids collapsed to ONE broadcast row
      holding an ``array<struct<cell,cvec>>``; a crossJoin(broadcast)
      attaches it to every partition and a ``transform`` + ``array_max``
      computes the same argmax over the array column. Plan size O(1),
      centroids travel the broadcast plane like any dimension table —
      this is the k>=1000 production path.

    Both paths evaluate the identical (score, cell) struct-max, so
    results are bit-equal. A production IVF trains centroids with
    k-means; the operator takes them as input so the quantizer is
    pluggable (and deterministic in tests: sampled corpus vectors).

    r15 scale path: when the estimated (rows x centroids) pair volume
    clears ``IVF_ARROW_MIN_PAIRS``, the argmax runs in the
    Arrow/numpy kernel (:func:`_ivf_assign_arrow`) — bit-identical by
    construction (dimension-sequential accumulation, desc-cell
    argmax, HOF-matching irregular-row semantics) and ~45x faster at
    the sf10 coarse quantization, where the interpreted HOF allocates
    a zip array per (row, cell) pair. Row estimate comes from the
    optimizer's plan stats (parquet footer/file sizes, no job) — the
    same gate style as plans.partitioning.ensure_parallelism; unknown
    stats estimate huge, which lands on the kernel side (the right
    direction at scale, where the fixed Python hop amortizes)."""
    if len(centroids) <= literal_max_k:
        scored = "array(" + ",".join(
            f"struct(aggregate(zip_with(`{vec_col}`, "
            + "array(" + ",".join(f"{float(v)!r}D" for v in cvec) + "), "
            + "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
            + f" AS score, {cid} AS cell)"
            for cid, cvec in centroids
        ) + ")"
        return emb_df.withColumn("cell", F.expr(f"array_max({scored}).cell"))
    # scale gate: estimated rows from plan stats (no job); the row
    # width estimate is the on-disk bytes per embedding row, so the
    # pair count is right within a small factor — plenty for a
    # threshold two orders of magnitude wide. Known slack (ADVICE
    # r15): on-disk bytes are compressed and include non-vector
    # columns, so est_rows can be off by the compression factor near
    # the threshold — perf-only mis-routing, both paths value-equal.
    try:
        size = int(emb_df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        dim_guess = max(1, len(centroids[0][1]))
        est_rows = size // max(1, dim_guess * 8)
    except Exception:  # non-JVM-backed frame: assume big
        est_rows = 1 << 62
    if est_rows * len(centroids) >= IVF_ARROW_MIN_PAIRS:
        return _ivf_assign_arrow(emb_df, vec_col, centroids)
    spark = emb_df.sparkSession
    cdf = spark.createDataFrame(
        [(int(cid), [float(x) for x in cvec]) for cid, cvec in centroids],
        "cell int, cvec array<double>",
    )
    cents = cdf.select(
        F.array_sort(F.collect_list(F.struct("cell", "cvec"))).alias("_cents")
    )
    argmax = (
        "array_max(transform(_cents, c -> struct("
        f"aggregate(zip_with(`{vec_col}`, c.cvec, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
        " AS score, c.cell AS cell))).cell"
    )
    return (
        emb_df.crossJoin(F.broadcast(cents))
        .withColumn("cell", F.expr(argmax))
        .drop("_cents")
    )


def ivf_topk(
    emb_df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 1,
    literal_max_k: int = IVF_LITERAL_MAX_K,
) -> DataFrame:
    """IVF-flat search: probe the ``n_probe`` centroid cells nearest
    the query, exact cosine within. Scanned fraction ~ n_probe /
    n_centroids; recall grows with n_probe."""
    scores = sorted(
        ((sum(x * y for x, y in zip(query_vec, cvec)), cid) for cid, cvec in centroids),
        reverse=True,
    )
    probe_cells = [cid for _score, cid in scores[:n_probe]]
    assigned = ivf_assign(emb_df, id_col, vec_col, centroids, literal_max_k=literal_max_k)
    q = lit_double_array(query_vec)
    return (
        assigned.filter(F.col("cell").isin(probe_cells))
        .select(F.col(id_col), F.round(cosine_sim(F.col(vec_col), q), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def ann_topk(
    emb_df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_planes: int = 4,
) -> DataFrame:
    """Approximate top-k: hash the query with the same hyperplanes,
    scan only its bucket, exact cosine within. Callers size
    ``n_planes`` to the corpus with :func:`planes_for_corpus`."""
    bucketed = hyperplane_buckets(emb_df, vec_col, dim, n_planes)
    qb = 0
    for b in range(n_planes):
        if sum(x * y for x, y in zip(query_vec, _hyperplane(dim, b))) >= 0:
            qb += 1 << b
    # scoring stays the HOF expression: the bucket filter shrinks the
    # candidate set to ~target_bucket_size rows, where a Python-worker
    # round-trip always costs more than interpreted evaluation
    q = lit_double_array(query_vec)
    return (
        bucketed.filter(F.col("bucket") == qb)
        .select(F.col(id_col), F.round(cosine_sim(F.col(vec_col), q), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def train_ivf_centroids(
    emb_df: DataFrame, id_col: str, vec_col: str, k: int, iters: int = 5
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means for the IVF coarse quantizer — an iterative
    distributed algorithm on DataFrames: assign (broadcast centroids,
    per-row argmax) then update (groupBy cell, element-wise mean via
    ``array agg of posexplode``). Driver holds only k×dim floats per
    iteration; all data passes are scans.

    Deterministic: seeds are the first k vectors by id (no RNG), so
    repeated training converges identically."""
    seeds = (
        emb_df.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    centroids = [(i, [float(x) for x in r[0]]) for i, r in enumerate(seeds)]
    for _ in range(iters):
        assigned = ivf_assign(emb_df, id_col, vec_col, centroids)
        new_rows = (
            assigned.select("cell", F.posexplode(F.col(vec_col)).alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).getField("m").alias("centroid"))
            .collect()
        )
        updated = {r["cell"]: [float(x) for x in r["centroid"]] for r in new_rows}
        centroids = [(cid, updated.get(cid, vec)) for cid, vec in centroids]
    return centroids


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the vector-COMPRESSION scale path
# ---------------------------------------------------------------------------
#
# IVF (above) prunes WHICH vectors a query scans; PQ shrinks WHAT is
# stored and scanned: the vector splits into M subvectors, each encoded
# as the id of its nearest codeword from a per-subspace codebook of K
# entries — dim floats become M small ints (64 x 4B -> 4 x 1B here), and
# query-time distance is M table lookups (asymmetric distance, ADC)
# instead of dim multiplies. At 100 TB this is the difference between
# the index fitting in executor memory or not; IVF+PQ composes (IVF
# cell -> PQ code within cell), which is the standard billion-vector
# layout. Codebooks here derive from the deterministic hash family so
# an external SQL oracle can replay encode+ADC bit-for-bit; a trained
# codebook (per-subspace k-means via train_ivf_centroids over sliced
# vectors) plugs into the same literals.


def pq_codeword(m: int, k: int, subdim: int) -> list[float]:
    """Deterministic codeword (m-th subspace, k-th entry): component j
    is the portable hash of (m, k, j) mapped to [-1, 1] — same scheme
    as :func:`_hyperplane`, so oracles can regenerate it."""
    import hashlib

    out = []
    for j in range(subdim):
        h = int(hashlib.md5(f"pq{m}:{k}:{j}".encode()).hexdigest()[:15], 16)
        out.append((h % 2_000_001) / 1_000_000.0 - 1.0)
    return out


def _pq_dist_sql(vec_col: str, m: int, k: int, subdim: int) -> str:
    """Squared L2 distance between subvector m and codeword (m, k) as
    one SQL expression (slice is 1-based)."""
    cw = "array(" + ",".join(f"{v!r}D" for v in pq_codeword(m, k, subdim)) + ")"
    return (
        f"aggregate(zip_with(slice(`{vec_col}`, {m * subdim + 1}, {subdim}), {cw}, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def pq_encode(
    emb_df: DataFrame, vec_col: str, dim: int, m_parts: int = 4, k: int = 16
) -> DataFrame:
    """Append ``pq_code``: array of M codeword ids (argmin squared-L2
    per subspace). Per-row narrow projection — no shuffle, no UDF; ties
    break to the lowest codeword id (array_position finds the first
    minimum), matching the SQL oracle's list_indexof semantics."""
    assert dim % m_parts == 0, "dim must split evenly into subspaces"
    subdim = dim // m_parts
    parts = []
    for m in range(m_parts):
        dists = "array(" + ",".join(_pq_dist_sql(vec_col, m, kk, subdim) for kk in range(k)) + ")"
        parts.append(f"(array_position({dists}, array_min({dists})) - 1)")
    return emb_df.withColumn(
        "pq_code", F.expr("array(" + ",".join(f"CAST({p} AS INT)" for p in parts) + ")")
    )


def pq_topk_adc(
    emb_df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    dim: int,
    m_parts: int = 4,
    k: int = 16,
    topk: int = 10,
) -> DataFrame:
    """Approximate top-k by asymmetric distance (ADC): the query stays
    un-quantized; each subspace contributes LUT[m][code_m], where the
    M x K lookup table of (query subvector -> codeword) distances is
    computed ONCE driver-side and shipped as literals. Scan cost per
    row is M array lookups — no dim-length math — and the result is a
    TakeOrderedAndProject, never a global sort. Recall is bounded by
    the codebook (hash-derived here, k-means in production); the ADC
    arithmetic itself is exact given the codes, which is what the SQL
    oracle checks."""
    assert dim % m_parts == 0
    subdim = dim // m_parts
    luts = []
    for m in range(m_parts):
        qsub = query_vec[m * subdim : (m + 1) * subdim]
        row = [
            sum((qx - cx) * (qx - cx) for qx, cx in zip(qsub, pq_codeword(m, kk, subdim)))
            for kk in range(k)
        ]
        luts.append("array(" + ",".join(f"{v!r}D" for v in row) + ")")
    coded = pq_encode(emb_df, vec_col, dim, m_parts, k)
    adc = " + ".join(
        f"element_at({lut}, pq_code[{m}] + 1)" for m, lut in enumerate(luts)
    )
    return (
        coded.select(F.col(id_col), F.round(F.expr(adc), 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(topk)
    )


def ivfpq_topk(
    emb_df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    dim: int,
    m_parts: int = 4,
    k: int = 16,
    topk: int = 10,
    n_probe: int = 2,
    literal_max_k: int = IVF_LITERAL_MAX_K,
) -> DataFrame:
    """IVF + PQ — the standard billion-vector layout, composed from
    the two operators above: the coarse quantizer prunes the scan to
    the ``n_probe`` cells nearest the query (same driver-side probe
    pick as :func:`ivf_topk`: dot score desc, cell desc), and within
    the probed cells distance is PQ asymmetric lookup, not dim-length
    math. Scanned fraction ~ n_probe/n_cells AND each scanned row
    costs M lookups — the two savings multiply, which is why this is
    the shape a 10^9-vector index actually ships."""
    scores = sorted(
        ((sum(x * y for x, y in zip(query_vec, cvec)), cid) for cid, cvec in centroids),
        reverse=True,
    )
    probe_cells = [cid for _score, cid in scores[:n_probe]]
    assigned = ivf_assign(emb_df, id_col, vec_col, centroids, literal_max_k=literal_max_k)
    return pq_topk_adc(
        assigned.filter(F.col("cell").isin(probe_cells)),
        id_col,
        vec_col,
        query_vec,
        dim,
        m_parts,
        k,
        topk,
    )


def train_pq_codebooks(
    emb_df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m_parts: int = 4,
    k: int = 16,
    iters: int = 3,
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks with the same deterministic
    Lloyd's k-means the IVF quantizer uses (:func:`train_ivf_centroids`
    over each sliced subspace). Returns ``codebooks[m][k] -> subdim
    floats`` — drop-in for :func:`pq_codeword`'s hash-derived family
    via the ``codebooks=`` parameter of :func:`pq_encode_with` below.
    Driver holds M x K x subdim floats; every pass is a scan."""
    assert dim % m_parts == 0
    subdim = dim // m_parts
    books = []
    for m in range(m_parts):
        sub = emb_df.select(
            F.col(id_col),
            F.slice(F.col(vec_col), m * subdim + 1, subdim).alias("_sub"),
        )
        cents = train_ivf_centroids(sub, id_col, "_sub", k, iters=iters)
        books.append([vec for _cid, vec in cents])
    return books


def pq_encode_with(
    emb_df: DataFrame,
    vec_col: str,
    dim: int,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """:func:`pq_encode` with explicit codebooks (trained or hash-
    derived) — same argmin-of-squared-L2 per subspace, codewords as
    literals."""
    m_parts = len(codebooks)
    assert dim % m_parts == 0
    subdim = dim // m_parts
    parts = []
    for m, book in enumerate(codebooks):
        dists = []
        for cw in book:
            lit = "array(" + ",".join(f"{float(v)!r}D" for v in cw) + ")"
            dists.append(
                f"aggregate(zip_with(slice(`{vec_col}`, {m * subdim + 1}, {subdim}), {lit}, "
                "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
                "0.0D, (acc, x) -> acc + x)"
            )
        arr = "array(" + ",".join(dists) + ")"
        parts.append(f"(array_position({arr}, array_min({arr})) - 1)")
    return emb_df.withColumn(
        "pq_code", F.expr("array(" + ",".join(f"CAST({p} AS INT)" for p in parts) + ")")
    )


def train_pca_direction(
    emb_df: DataFrame, vec_col: str, dim: int, iters: int = 2
) -> tuple[list[float], list[float]]:
    """Dominant principal direction of a centered embedding corpus via
    distributed POWER ITERATION — the eigen-solver that fits Spark's
    model: each iteration is ONE scan computing ``dim`` sums
    (u_i = Σ_rows ce_i · (ce·v), i.e. C·v without ever materializing
    the dim×dim covariance or exploding rows), then a driver-side
    normalize of dim floats. Same iterative-trainer discipline as
    train_ivf_centroids: bounded driver state, deterministic start
    (v0 = uniform 1/sqrt(dim), no RNG), so repeated training — and an
    external SQL oracle unrolling the same recurrence — converges
    identically. Returns (mean, direction), both length ``dim``.

    iters=2-4 suffices for a quality-filter/visualization axis; the
    classic deflation trick (subtract the rank-1 component, re-run)
    yields further components with the same machinery."""
    vec = F.col(vec_col)
    mean_row = emb_df.agg(
        *[
            F.avg(F.element_at(vec, i + 1).cast("double")).alias(f"m{i}")
            for i in range(dim)
        ]
    ).collect()[0]
    mean = [float(mean_row[f"m{i}"]) for i in range(dim)]

    v = _power_iterate(emb_df, vec, mean, dim, iters, previous=[])
    return mean, v


def _power_iterate(emb_df, vec, mean, dim, iters, previous):
    """One power-iteration run; ``previous`` directions are deflated
    out driver-side (Hotelling: u := u - (u·v_j)v_j after each C·v,
    before normalizing) so the iteration converges to the dominant
    eigendirection of the residual space — the data is never modified,
    only dim-float vectors on the driver."""
    import math

    from ..functions.vector import dot as vdot
    from ..functions.vector import lit_double_array

    v = [1.0 / math.sqrt(dim)] * dim
    for _ in range(iters):
        mlit, vlit = lit_double_array(mean), lit_double_array(v)
        cent = F.zip_with(vec, mlit, lambda a, b: a.cast("double") - b)
        row = (
            emb_df.select(cent.alias("_c"), vdot(cent, vlit).alias("_s"))
            .agg(
                *[
                    F.sum(F.element_at(F.col("_c"), i + 1) * F.col("_s")).alias(f"u{i}")
                    for i in range(dim)
                ]
            )
            .collect()[0]
        )
        u = [float(row[f"u{i}"]) for i in range(dim)]
        for p in previous:
            proj = sum(a * b for a, b in zip(u, p))
            u = [a - proj * b for a, b in zip(u, p)]
        norm = math.sqrt(sum(x * x for x in u))
        v = [x / norm for x in u]
    return v


def train_pca_directions(
    emb_df: DataFrame, vec_col: str, dim: int, n_components: int = 2, iters: int = 4
) -> tuple[list[float], list[list[float]]]:
    """Top-``n_components`` principal directions: power iteration with
    Hotelling deflation — each subsequent run orthogonalizes its
    iterate against the directions already found (driver-side dim-float
    math; the distributed scans are identical to the first component's,
    so cost is n_components × iters scans). Returns (mean, [v1..vk]),
    mutually orthonormal."""
    vec = F.col(vec_col)
    mean_row = emb_df.agg(
        *[
            F.avg(F.element_at(vec, i + 1).cast("double")).alias(f"m{i}")
            for i in range(dim)
        ]
    ).collect()[0]
    mean = [float(mean_row[f"m{i}"]) for i in range(dim)]
    found: list[list[float]] = []
    for _ in range(n_components):
        found.append(_power_iterate(emb_df, vec, mean, dim, iters, previous=found))
    return mean, found


def pca_project(
    emb_df: DataFrame,
    id_col: str,
    vec_col: str,
    mean: list[float],
    direction: list[float],
    out_col: str = "pc1",
) -> DataFrame:
    """Project each (centered) embedding onto a principal direction —
    one codegen'd dot product per row, the dimensionality-reduction
    read path paired with :func:`train_pca_direction`."""
    from ..functions.vector import dot as vdot
    from ..functions.vector import lit_double_array

    cent = F.zip_with(
        F.col(vec_col), lit_double_array(mean), lambda a, b: a.cast("double") - b
    )
    return emb_df.select(
        F.col(id_col), vdot(cent, lit_double_array(direction)).alias(out_col)
    )


def rrf_fuse(
    rankings: list[DataFrame], id_col: str, k: int = 60
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. SIGIR'09) of candidate
    lists: each input is an (id, score) frame; an item's fused score
    is ``sum over lists of 1 / (k + rank_in_list)`` with rank 1 =
    highest score (ties broken by id — deterministic, the
    cross-engine contract). Items absent from a list simply
    contribute nothing for it — the standard hybrid-retrieval
    combiner (BM25 list + vector-ANN list -> one ranking) that needs
    no score calibration between heterogeneous scorers.

    Scale shape: ranking each list is a GLOBAL ordering — by design
    this operator takes top-N CANDIDATE lists (each already bounded
    by its retriever's k), so the windows sort hundreds of rows, not
    corpora. Feeding an unbounded scored table here is a misuse;
    bound it with the retriever's own top-k first."""
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    fused = None
    for i, r in enumerate(rankings):
        w = Window.orderBy(F.col("score").desc(), F.col(id_col))
        ranked = r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(k) + F.row_number().over(w))).alias(f"_c{i}"),
        )
        fused = ranked if fused is None else fused.join(ranked, id_col, "full_outer")
    contribs = [F.coalesce(F.col(f"_c{i}"), F.lit(0.0)) for i in range(len(rankings))]
    total = contribs[0]
    for c in contribs[1:]:
        total = total + c
    return fused.select(F.col(id_col), total.alias("rrf_score"))
