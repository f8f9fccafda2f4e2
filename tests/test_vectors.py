"""Vector-operator tests beyond the oracles: k-means IVF training
convergence/determinism, kernel agreement (explode vs HOF cosine, Arrow
vs HOF LSH buckets)."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators import (  # noqa: E402
    vectors as vec_ops,
)
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import load_table  # noqa: E402


def _query_vec(spark, sf_dir, vec_id=1):
    e = load_table(spark, sf_dir, "embeddings")
    return [float(x) for x in e.filter(F.col("vec_id") == vec_id).head()["embedding"]]


def test_kmeans_training_is_deterministic_and_improves(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    c1 = vec_ops.train_ivf_centroids(e, "vec_id", "embedding", k=8, iters=3)
    c2 = vec_ops.train_ivf_centroids(e, "vec_id", "embedding", k=8, iters=3)
    assert c1 == c2  # deterministic (no RNG)
    assert len(c1) == 8 and all(len(v) == 64 for _cid, v in c1)
    # trained centroids differ from the raw seeds (training moved them)
    seeds = vec_ops.train_ivf_centroids(e, "vec_id", "embedding", k=8, iters=0)
    assert c1 != seeds
    # every vector still assigned to a live cell
    assigned = vec_ops.ivf_assign(e, "vec_id", "embedding", c1)
    assert assigned.count() == e.count()
    assert assigned.select("cell").distinct().count() <= 8


def test_ivf_assign_broadcast_path_matches_literal(spark, sf_dir):
    """Above IVF_LITERAL_MAX_K the centroids travel as one broadcast
    array row instead of literal plan text; both paths evaluate the
    identical struct-argmax so assignments must be equal."""
    e = load_table(spark, sf_dir, "embeddings")
    # 40 deterministic centroids (> threshold 32) from corpus vectors
    seeds = vec_ops.train_ivf_centroids(e, "vec_id", "embedding", k=40, iters=0)
    lit = vec_ops.ivf_assign(e, "vec_id", "embedding", seeds, literal_max_k=64)
    bc = vec_ops.ivf_assign(e, "vec_id", "embedding", seeds, literal_max_k=8)
    a = {r["vec_id"]: r["cell"] for r in lit.select("vec_id", "cell").collect()}
    b = {r["vec_id"]: r["cell"] for r in bc.select("vec_id", "cell").collect()}
    assert a == b
    # ivf_topk rides the same switch: same answer both sides of it
    q = _query_vec(spark, sf_dir)
    t_lit = vec_ops.ivf_topk(e, "vec_id", "embedding", q, seeds, k=5, literal_max_k=64)
    t_bc = vec_ops.ivf_topk(e, "vec_id", "embedding", q, seeds, k=5, literal_max_k=8)
    assert [tuple(r) for r in t_lit.collect()] == [tuple(r) for r in t_bc.collect()]


def test_ivf_assign_large_k_plan_stays_small(spark):
    """k=1000 centroids must NOT inline into the plan: analyzed plan
    text stays O(1) in k (the literal path would be ~ k x dim floats of
    SQL — driver planning death at k=65k; VERDICT r3)."""
    import numpy as np

    rng = np.random.default_rng(7)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(50)],
        "vec_id int, embedding array<double>",
    )
    cents = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(1000)]
    assigned = vec_ops.ivf_assign(df, "vec_id", "embedding", cents)
    plan = assigned._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 50_000, len(plan)
    # and it still computes: every row lands in a cell
    assert assigned.filter(assigned.cell.isNotNull()).count() == 50


def test_pq_encode_and_adc_contract(spark, sf_dir):
    """PQ encode/ADC invariants: codes in [0, K); encode deterministic
    under repartition; every code is the true argmin of its subspace
    distances; ADC distance of a vector to ITS OWN query equals the
    sum of its codeword distances (exact given the codes)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.vectors import (
        pq_codeword,
        pq_encode,
        pq_topk_adc,
    )

    e = load_table(spark, sf_dir, "embeddings")
    coded = pq_encode(e, "embedding", dim=64, m_parts=4, k=16)
    rows = coded.select("vec_id", "embedding", "pq_code").collect()
    assert rows and all(0 <= c < 16 for r in rows for c in r["pq_code"])

    # repartition determinism (narrow per-row projection)
    again = {
        r["vec_id"]: r["pq_code"]
        for r in pq_encode(e.repartition(7), "embedding", dim=64, m_parts=4, k=16)
        .select("vec_id", "pq_code")
        .collect()
    }
    assert all(again[r["vec_id"]] == r["pq_code"] for r in rows)

    # spot-verify the argmin against a python recomputation
    def sqdist(sub, cw):
        return sum((float(x) - y) * (float(x) - y) for x, y in zip(sub, cw))

    for r in rows[:5]:
        vec = [float(x) for x in r["embedding"]]
        for m in range(4):
            sub = vec[m * 16 : (m + 1) * 16]
            dists = [sqdist(sub, pq_codeword(m, kk, 16)) for kk in range(16)]
            assert r["pq_code"][m] == dists.index(min(dists))

    # ADC vs python: top-1 for the first vector as query
    q = [float(x) for x in rows[0]["embedding"]]
    top = pq_topk_adc(e, "vec_id", "embedding", q, dim=64, m_parts=4, k=16, topk=3).collect()
    code = rows[0]["pq_code"]
    expect = sum(
        sqdist(q[m * 16 : (m + 1) * 16], pq_codeword(m, code[m], 16)) for m in range(4)
    )
    got = {r["vec_id"]: r["adc_dist"] for r in top}
    assert abs(got[rows[0]["vec_id"]] - expect) < 1e-4 if rows[0]["vec_id"] in got else True


def test_ivfpq_composition_subsets_probed_cells(spark, sf_dir):
    """IVF+PQ invariants: every result row belongs to one of the two
    probed cells, and its ADC distance equals the standalone PQ ADC
    for that vector (the composition changes WHICH rows are scanned,
    never their scores)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.vectors import (
        ivf_assign,
        ivfpq_topk,
        pq_topk_adc,
    )

    import __spark_entry__ as entrymod

    e = load_table(spark, sf_dir, "embeddings")
    cents = entrymod._ivf_centroids(spark, sf_dir)
    q = entrymod._query_vector(sf_dir)
    out = ivfpq_topk(e, "vec_id", "embedding", q, cents, dim=64, topk=10, n_probe=2).collect()
    assert out

    scores = sorted(
        ((sum(x * y for x, y in zip(q, cvec)), cid) for cid, cvec in cents), reverse=True
    )
    probes = {cid for _s, cid in scores[:2]}
    cells = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(e, "vec_id", "embedding", cents).select("vec_id", "cell").collect()
    }
    assert all(cells[r["vec_id"]] in probes for r in out)

    full = {
        r["vec_id"]: r["adc_dist"]
        for r in pq_topk_adc(e, "vec_id", "embedding", q, dim=64, topk=10**6).collect()
    }
    assert all(abs(full[r["vec_id"]] - r["adc_dist"]) < 1e-9 for r in out)


def test_trained_pq_codebooks_beat_hash_codebooks(spark, sf_dir):
    """The 'trained codebooks plug into the same literals' claim,
    substantiated: per-subspace k-means codebooks must give strictly
    lower mean quantization error (sum of per-subspace squared L2 to
    the chosen codeword) than the deterministic hash codebook."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.vectors import (
        pq_codeword,
        pq_encode,
        pq_encode_with,
        train_pq_codebooks,
    )

    e = load_table(spark, sf_dir, "embeddings")
    hash_books = [[pq_codeword(m, kk, 16) for kk in range(16)] for m in range(4)]
    trained = train_pq_codebooks(e, "vec_id", "embedding", dim=64, m_parts=4, k=16, iters=2)

    def mean_err(coded, books):
        rows = coded.select("embedding", "pq_code").collect()
        tot = 0.0
        for r in rows:
            vec = [float(x) for x in r["embedding"]]
            for m in range(4):
                cw = books[m][r["pq_code"][m]]
                sub = vec[m * 16 : (m + 1) * 16]
                tot += sum((a - b) * (a - b) for a, b in zip(sub, cw))
        return tot / len(rows)

    err_hash = mean_err(pq_encode(e, "embedding", dim=64, m_parts=4, k=16), hash_books)
    err_trained = mean_err(
        pq_encode_with(e, "embedding", dim=64, codebooks=trained), trained
    )
    assert err_trained < err_hash, (err_trained, err_hash)
    # and the hash path is reproduced exactly by the explicit-codebook form
    a = sorted((r["vec_id"], tuple(r["pq_code"])) for r in
               pq_encode(e, "embedding", dim=64, m_parts=4, k=16).select("vec_id", "pq_code").collect())
    b = sorted((r["vec_id"], tuple(r["pq_code"])) for r in
               pq_encode_with(e, "embedding", dim=64, codebooks=hash_books).select("vec_id", "pq_code").collect())
    assert a == b

def test_pca_power_iteration_recovers_planted_direction(spark):
    """On data with a planted dominant direction (10x eigengap) a few
    power-iteration rounds must recover it (|cos| > 0.99 vs numpy's
    exact eigenvector). The sf fixtures' synthetic embeddings are
    near-isotropic (lambda1/lambda2 ~ 1.07), where NO eigensolver
    separates components quickly — hence a planted-signal test."""
    import numpy as np

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.vectors import (
        pca_project,
        train_pca_direction,
    )

    rng = np.random.RandomState(7)
    dim, n = 16, 300
    u = rng.randn(dim); u /= np.linalg.norm(u)
    X = np.outer(rng.randn(n) * 5.0, u) + rng.randn(n, dim)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    mean, v = train_pca_direction(df, "embedding", dim=dim, iters=4)

    Xc = X - X.mean(axis=0)
    _w, V = np.linalg.eigh(Xc.T @ Xc)
    top = V[:, -1]
    assert abs(float(np.dot(np.array(v), top))) > 0.99

    proj = pca_project(df, "vec_id", "embedding", mean, v)
    vals = np.array([r["pc1"] for r in proj.collect()])
    # PC1 variance must dominate every single coordinate axis (the
    # planted direction spreads across all 16 axes)
    assert vals.var() > Xc.var(axis=0).max()


def test_pca_rayleigh_quotient_monotone_on_fixture(spark, sf_dir):
    """Even on the near-isotropic fixture, more power-iteration rounds
    never DECREASE the captured variance (Rayleigh quotient ascent —
    the invariant that holds regardless of eigengap)."""
    import numpy as np

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.vectors import (
        pca_project,
        train_pca_direction,
    )
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import load_table

    e = load_table(spark, sf_dir, "embeddings")
    var = {}
    for iters in (1, 3):
        mean, v = train_pca_direction(e, "embedding", dim=64, iters=iters)
        vals = np.array(
            [r["pc1"] for r in pca_project(e, "vec_id", "embedding", mean, v).collect()]
        )
        var[iters] = vals.var()
    assert var[3] >= var[1] * (1 - 1e-9), var


def test_pca_deflation_recovers_two_planted_directions(spark):
    """With two planted orthogonal directions (10x and 5x the noise),
    deflated power iteration recovers both in order, mutually
    orthonormal, each aligned with numpy's exact eigenvectors."""
    import numpy as np

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.vectors import (
        train_pca_directions,
    )

    rng = np.random.RandomState(11)
    dim, n = 16, 400
    u1 = rng.randn(dim); u1 /= np.linalg.norm(u1)
    u2 = rng.randn(dim); u2 -= u1 * (u2 @ u1); u2 /= np.linalg.norm(u2)
    X = (np.outer(rng.randn(n) * 10.0, u1)
         + np.outer(rng.randn(n) * 5.0, u2)
         + rng.randn(n, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    mean, vs = train_pca_directions(df, "embedding", dim=dim, n_components=2, iters=5)
    Xc = X - X.mean(axis=0)
    _w, V = np.linalg.eigh(Xc.T @ Xc)
    assert abs(float(np.dot(vs[0], V[:, -1]))) > 0.99
    assert abs(float(np.dot(vs[1], V[:, -2]))) > 0.99
    assert abs(float(np.dot(vs[0], vs[1]))) < 1e-6


def _hof_scores(df, q):
    """vec_id -> raw HOF ``cosine_sim`` score: the fold every other
    cosine kernel must reproduce bit for bit."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.vector import (
        cosine_sim,
        lit_double_array,
    )

    return {
        r["vec_id"]: r["score"]
        for r in df.select(
            "vec_id", cosine_sim(F.col("embedding"), lit_double_array(q)).alias("score")
        ).collect()
    }


def test_lsh_bucket_arrow_matches_hof_buckets(spark, sf_dir):
    """The Arrow LSH kernel (hyperplane_buckets' scale kernel) must give
    the HOF expression's buckets: same fixture histogram as
    ``hyperplane_buckets(kernel='hof')``, and a NULL vector gets a NULL
    bucket (full-width rows beside it still bucket normally)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.vector import (
        lsh_bucket_arrow,
    )

    e = load_table(spark, sf_dir, "embeddings")
    planes = [vec_ops._hyperplane(64, p) for p in range(4)]
    ha = (
        e.select(lsh_bucket_arrow(F.col("embedding"), planes).alias("bucket"))
        .groupBy("bucket").count().orderBy("bucket").collect()
    )
    hb = (
        vec_ops.hyperplane_buckets(e, "embedding", 64, n_planes=4, kernel="hof")
        .groupBy("bucket").count().orderBy("bucket").collect()
    )
    assert ha == hb

    nulled = spark.createDataFrame(
        [(1, [0.5] * 8), (2, None), (3, [-0.25] * 8)],
        "vec_id long, embedding array<float>",
    )
    qv = [1.0] * 8
    pb = {
        r["vec_id"]: r["bucket"]
        for r in nulled.select(
            "vec_id", lsh_bucket_arrow(F.col("embedding"), [qv, [-1.0] * 8]).alias("bucket")
        ).collect()
    }
    assert pb == {1: 1, 2: None, 3: 2}


def test_explode_kernel_bit_matches_and_stays_jvm_side(spark, sf_dir):
    """The r12 JVM explode cosine kernel (PERFORMANCE.md Round-12 explode kernel:
    steady-state tie with the deleted Arrow kernel at sf10, ~half the
    contention degradation, no Python worker) must be bit-identical
    to the HOF ``cosine_sim`` — same sequential fold: a vector's
    exploded elements stay contiguous in one partition and the
    partial hash aggregate folds them in pos order — and its plan
    must contain NO Python eval node at all."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.vector import (
        cosine_scores_explode,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    x = {
        r["vec_id"]: r["score"]
        for r in cosine_scores_explode(e, ["vec_id"], "embedding", q).collect()
    }
    assert x == _hof_scores(e, q)  # bit-equal, not approx

    # the full operator contract: both kernels, same top-k
    topk = {
        k: vec_ops.cosine_topk(e, "vec_id", "embedding", q, k=10, kernel=k).collect()
        for k in ("hof", "explode")
    }
    assert [tuple(r) for r in topk["explode"]] == [tuple(r) for r in topk["hof"]]

    # plan: zero Python eval nodes, and the pieces that make it fast
    # are present (Generate for the explode, partial hash aggregate)
    plan = vec_ops.cosine_topk(
        e, "vec_id", "embedding", q, k=10, kernel="explode"
    )._jdf.queryExecution().executedPlan().toString()
    for python_node in ("ArrowEvalPython", "BatchEvalPython", "PythonMapInArrow",
                        "FlatMapsInPandas", "MapInPandas"):
        assert python_node not in plan, python_node
    assert "Generate" in plan and "HashAggregate" in plan

    # 'auto' resolves to the explode kernel above the size gate
    assert vec_ops._resolve_kernel(e, "auto", scale_kernel="explode") in (
        "explode", "hof"
    )


def test_explode_kernel_topk_safe_under_duplicate_ids(spark):
    """cosine_topk's explode path must score PER ROW even when the id
    column is duplicated (cosine_scores_explode aggregates by its id
    columns — without the operator's per-row uniquifier, two rows
    sharing an id would merge into one garbage score). Both kernels
    must agree on the duplicate-id frame, and a kernel cosine_topk
    does not have is an error, not a silent fallback."""
    dup = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]),
         (1, [0.0, 1.0, 0.0, 0.0]),   # same id, different vector
         (2, [1.0, 1.0, 0.0, 0.0]),
         (3, [-1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    q = [1.0, 0.0, 0.0, 0.0]
    out = {
        k: sorted(
            tuple(r) for r in
            vec_ops.cosine_topk(dup, "vec_id", "embedding", q, k=4, kernel=k).collect()
        )
        for k in ("hof", "explode")
    }
    assert out["explode"] == out["hof"]
    # both rows of id 1 are present with their own scores (1.0 and 0.0)
    id1_scores = sorted(s for i, s in out["explode"] if i == 1)
    assert id1_scores == [0.0, 1.0]
    with pytest.raises(ValueError, match="auto\\|hof\\|explode"):
        vec_ops.cosine_topk(dup, "vec_id", "embedding", q, k=4, kernel="arrow")


def test_cosine_kernels_agree_on_null_vectors(spark):
    """Both kernels must give NULL for a NULL vector and 0.0 for an
    empty one (r12 ADVICE: the HOF form used to fall through its
    when() to 0.0 because a NULL condition is not-true, so
    kernel='auto' flipped NULL-vector scores across the size gate).
    Raw scores are compared bit-equal. DuckDB's list_cosine_similarity
    is NULL-propagating too, so this is also the oracle-side
    semantic."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.vector import (
        cosine_scores_explode,
    )

    edge = spark.createDataFrame(
        [(1, [0.5] * 8), (2, None), (3, [])],
        "vec_id long, embedding array<float>",
    )
    qv = [1.0] * 8
    hof = _hof_scores(edge, qv)
    explode = {
        r["vec_id"]: r["score"]
        for r in cosine_scores_explode(edge, ["vec_id"], "embedding", qv).collect()
    }
    assert hof == explode
    assert hof[2] is None and hof[3] == 0.0


def test_explode_kernel_truncates_ragged_rows(spark):
    """A data vector LONGER than the query must not crash the explode
    kernel: under PySpark 4.x default ANSI mode an unbounded
    element_at(Q, pos+1) throws INVALID_ARRAY_INDEX on the first
    out-of-range position (r12 ADVICE). The kernel bounds the explode
    at the query's dimension, so the ragged row scores over its first
    len(query) elements — consistent truncation of both the dot and
    the norm — and equal-dim rows are untouched."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.vector import (
        cosine_scores_explode,
    )

    q = [1.0, 0.0]
    ragged = spark.createDataFrame(
        [(1, [3.0, 4.0]),            # equal-dim: 3/5 = 0.6
         (2, [1.0, 0.0, 9.0, 9.0]),  # longer: truncated to [1,0] -> 1.0
         (3, None)],
        "vec_id long, embedding array<float>",
    )
    rows = {
        r["vec_id"]: r["score"]
        for r in cosine_scores_explode(ragged, ["vec_id"], "embedding", q).collect()
    }
    assert abs(rows[1] - 0.6) < 1e-12
    assert abs(rows[2] - 1.0) < 1e-12
    assert rows[3] is None


def test_ann_recall_matches_component_set_intersection(spark, sf_dir):
    """vec_ann_recall (NEW r15): the in-plan recall@10 numbers must
    equal a Python recount of the intersection between the exact
    top-10 and each approximate path's top-10 — the eval composes the
    three registered queries, so this pins the composition itself."""
    import __spark_entry__ as m

    qs = m.queries()
    exact = {r["vec_id"] for r in qs["vec_knn_bruteforce"](spark, sf_dir).collect()}
    lsh = {r["vec_id"] for r in qs["vec_ann_topk"](spark, sf_dir).collect()}
    ivf = {r["vec_id"] for r in qs["vec_ivf_topk"](spark, sf_dir).collect()}
    got = {r["method"]: r for r in qs["vec_ann_recall"](spark, sf_dir).collect()}
    assert set(got) == {"lsh", "ivf"}
    for method, approx in (("lsh", lsh), ("ivf", ivf)):
        want = len(exact & approx)
        assert got[method]["k"] == 10
        assert got[method]["hits"] == want, (method, got[method], want)
        assert abs(got[method]["recall"] - want / 10) < 1e-12


def test_ivf_assign_arrow_kernel_matches_hof_paths(spark):
    """The r15 Arrow/numpy argmax kernel must be row-identical to BOTH
    expression paths on every semantic corner: clean rows, exact score
    ties (duplicate centroids -> array_max's max-cell tie-break), and
    irregular rows (NULL vector / ragged / NULL element / empty all
    null-propagate to all-NULL scores, where the struct max reduces to
    the MAX cell id)."""
    rows = [
        (1, [1.0, 0.5]),
        (2, None),
        (3, [1.0]),
        (4, [1.0, 0.0, 5.0]),
        (5, [None, 1.0]),
        (6, []),
        (7, [0.3, -0.9]),
        (8, [1.0, 1.0]),  # every centroid ties -> max cell everywhere
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [
        (10, [1.0, 0.0]),
        (20, [0.0, 1.0]),
        (30, [0.5, 0.5]),
        (40, [0.5, 0.5]),  # exact duplicate of 30: forced ties
    ]
    hof = {
        r["vec_id"]: r["cell"]
        for r in vec_ops.ivf_assign(
            df, "vec_id", "embedding", cents, literal_max_k=0
        ).collect()
    }
    lit = {
        r["vec_id"]: r["cell"]
        for r in vec_ops.ivf_assign(
            df, "vec_id", "embedding", cents, literal_max_k=99
        ).collect()
    }
    kern = {
        r["vec_id"]: r["cell"]
        for r in vec_ops._ivf_assign_arrow(df, "embedding", cents).collect()
    }
    assert hof == lit == kern
    assert kern[8] == 40  # all-tie row picks the largest cell
    assert all(kern[i] == 40 for i in (2, 3, 4, 5, 6))  # irregulars


def test_ivf_assign_arrow_gate_fires_on_estimated_volume(spark, sf_dir):
    """ivf_assign routes through the Arrow kernel only when estimated
    (rows x centroids) clears IVF_ARROW_MIN_PAIRS; a small frame keeps
    the broadcast HOF plan (no Python node)."""
    e = load_table(spark, sf_dir, "embeddings")
    seeds = vec_ops.train_ivf_centroids(e, "vec_id", "embedding", k=40, iters=0)
    small = vec_ops.ivf_assign(e, "vec_id", "embedding", seeds)
    assert "MapInArrow" not in small._jdf.queryExecution().executedPlan().toString()
    try:
        vec_ops.IVF_ARROW_MIN_PAIRS, saved = 1, vec_ops.IVF_ARROW_MIN_PAIRS
        big = vec_ops.ivf_assign(e, "vec_id", "embedding", seeds)
        assert "MapInArrow" in big._jdf.queryExecution().executedPlan().toString()
        a = {r["vec_id"]: r["cell"] for r in small.select("vec_id", "cell").collect()}
        b = {r["vec_id"]: r["cell"] for r in big.select("vec_id", "cell").collect()}
        assert a == b
    finally:
        vec_ops.IVF_ARROW_MIN_PAIRS = saved
