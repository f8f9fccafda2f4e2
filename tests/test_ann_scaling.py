"""ANN/LSH parameter scaling: bucket counts must grow with the corpus
(VERDICT r1 #5) so 'bucketed' never quietly becomes quadratic, and
degenerate LSH buckets must be cappable before pair expansion."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators import (  # noqa: E402
    dedup,
    vectors as vec_ops,
)


def test_planes_for_corpus_asymptotics():
    f = vec_ops.planes_for_corpus
    assert f(10) == 1
    assert f(500) == 4  # sf0.01 fixture — pinned so static oracles stay valid
    assert f(5_000) == 8
    assert f(1_000_000) == 15
    assert f(10**12) == 24  # clamped
    # monotone non-decreasing
    vals = [f(n) for n in (10, 100, 1000, 10**4, 10**6, 10**9)]
    assert vals == sorted(vals)


def _candidate_count(spark, emb, n_planes):
    b = vec_ops.hyperplane_buckets(emb, "embedding", dim=64, n_planes=n_planes)
    pairs = dedup.embedding_near_dup(b, "vec_id", "embedding", "bucket", threshold=-2.0)
    return pairs.count()


def test_candidate_pairs_stay_near_linear_under_duplication(spark, sf_dir):
    """Duplicating the corpus 10x with auto-sized planes must produce
    FAR fewer candidate pairs than the same corpus under the small
    fixed plane count — the bucket count scales with n, so per-bucket
    self-join volume stays bounded."""
    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    n = e.count()
    tenx = e
    for i in range(1, 10):
        tenx = tenx.unionByName(
            e.withColumn("vec_id", F.col("vec_id") + i * 1_000_000)
        )
    auto_planes = vec_ops.planes_for_corpus(n * 10)
    small_planes = vec_ops.planes_for_corpus(n)
    assert auto_planes > small_planes

    pairs_auto = _candidate_count(spark, tenx, auto_planes)
    pairs_fixed = _candidate_count(spark, tenx, small_planes)
    # the exact-duplicate floor (each vector 10x -> 45 pairs per distinct
    # vector) is linear and unavoidable; everything beyond it is bucket
    # collision volume, which auto-sizing must crush
    assert pairs_auto < pairs_fixed / 3, (pairs_auto, pairs_fixed)
    assert pairs_auto >= n * 45  # sanity: true duplicates still all found


def test_lsh_degenerate_bucket_cap(spark):
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere") for i in range(40)],
        "doc_id long, text string",
    )
    sig = dedup.minhash_signatures(docs, "text", "doc_id", num_hashes=16)
    uncapped = dedup.lsh_candidate_pairs(sig, "doc_id", num_bands=4, rows_per_band=4)
    capped = dedup.lsh_candidate_pairs(
        sig, "doc_id", num_bands=4, rows_per_band=4, max_bucket_size=10
    )
    assert uncapped.count() == 40 * 39 // 2
    assert capped.count() == 0


def test_banded_lsh_recall_superset(spark, sf_dir):
    """Band 0 of the banded LSH uses the same plane family as the
    single-table path, so banded candidates are a superset: more
    bands can only add near-dup pairs (recall dial), never lose them."""
    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    single = vec_ops.banded_embedding_neardup(
        e, "vec_id", "embedding", dim=64, n_tables=1, n_planes=4, threshold=0.3
    )
    banded = vec_ops.banded_embedding_neardup(
        e, "vec_id", "embedding", dim=64, n_tables=4, n_planes=4, threshold=0.3
    )
    s = {(r["id_a"], r["id_b"]) for r in single.collect()}
    b = {(r["id_a"], r["id_b"]) for r in banded.collect()}
    assert s <= b
    assert len(b) >= len(s)


def test_banded_neardup_no_self_pair_for_repeated_id(spark):
    """An id that appears twice in the embedding frame collides with
    itself in every band; the candidate stage must still never emit
    an (x, x) pair."""
    e = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.99, 0.01, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = vec_ops.banded_embedding_neardup(
        e, "vec_id", "embedding", dim=4, n_tables=2, n_planes=2, threshold=0.9
    )
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert all(a != b for a, b in pairs), pairs
    assert (1, 2) in pairs
