"""VectorStore: the Pinecone-shaped index API over the keyed bucketed
table — upsert/fetch/query/delete, namespaces, the maintained IVF
index, and the crash windows of its commits (commit-then-raise
injection around the commit functions)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.sinks import (  # noqa: E402
    read_table_state,
)


def test_vector_store_facade_end_to_end(spark, tmp_path):
    """The reference-shaped index API: upsert -> query(exact) ->
    fetch -> overwrite-by-id -> delete, with stats maintained and the
    self-query always ranking itself first."""
    import numpy as np

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    dim = 8
    rng = np.random.RandomState(3)
    vecs = rng.randn(30, dim)
    store = VectorStore(spark, str(tmp_path / "idx"), dim=dim)
    recs = [
        {"id": f"doc{i}", "values": [float(x) for x in vecs[i]], "metadata": f"m{i}"}
        for i in range(30)
    ]
    assert store.upsert(recs) > 0
    assert store.stats()["count"] == 30

    q = [float(x) for x in vecs[7]]
    top = store.query(q, top_k=3).collect()
    assert top[0]["id"] == "doc7" and top[0]["metadata"] == "m7"
    assert abs(top[0]["score"] - 1.0) < 1e-6
    # the maintained IVF is the store's only ANN: no LSH mode
    with pytest.raises(ValueError, match=r"exact\|ivf\|hybrid"):
        store.query(q, top_k=3, mode="ann")

    got = {r["id"] for r in store.fetch(["doc3", "doc9", "nope"]).collect()}
    assert got == {"doc3", "doc9"}

    # overwrite-by-id: second call wins
    store.upsert([{"id": "doc7", "values": [1.0] + [0.0] * (dim - 1), "metadata": "new"}])
    assert store.stats()["count"] == 30
    assert store.fetch(["doc7"]).collect()[0]["metadata"] == "new"

    assert store.delete(["doc7", "doc8"]) > 0
    assert store.stats()["count"] == 28
    assert store.fetch(["doc7"]).count() == 0
    assert store.query(q, top_k=3).collect()[0]["id"] != "doc7"


def test_vector_store_empty_edges(spark, tmp_path):
    """Review fixes: empty-list upsert/delete/fetch are no-ops, and a
    store whose EVERY row was deleted still reads as an empty frame
    (persisted schema) instead of a parquet inference failure."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    dim = 4
    store = VectorStore(spark, str(tmp_path / "idx2"), dim=dim)
    assert store.upsert([]) == 0
    assert store.delete([]) == 0
    ids = [f"d{i}" for i in range(5)]
    store.upsert([{"id": i, "values": [1.0, 0.0, 0.0, 0.0]} for i in ids])
    assert store.fetch([]).count() == 0
    assert store.delete(ids) > 0
    assert store.stats()["count"] == 0
    assert store.fetch(ids).count() == 0          # empty-store read path
    assert store.query([1.0, 0, 0, 0], top_k=3).count() == 0


def test_vector_store_concurrent_upserts_serialize(spark, tmp_path):
    """VERDICT r5 task 5: the table writer lock makes interleaved
    upserts from two threads serialize — every call stamps a DISTINCT
    version, and the final state of every id comes from the single
    highest-version call (no torn merges, no max_by ties)."""
    import threading

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    dim = 4
    path = str(tmp_path / "cidx")
    store = VectorStore(spark, path, dim=dim)
    ids = [f"d{i}" for i in range(12)]
    calls_per_thread = 3
    errors = []

    def writer(tag: str):
        try:
            for it in range(calls_per_thread):
                store.upsert(
                    [
                        {"id": i, "values": [1.0, 0.0, 0.0, 0.0],
                         "metadata": f"{tag}-{it}"}
                        for i in ids
                    ]
                )
        except Exception as e:  # surface across the thread boundary
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("t1", "t2")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    rows = spark.read.parquet(path).collect()
    n_calls = 2 * calls_per_thread
    assert len(rows) == len(ids)
    # every id's survivor carries the FINAL version: each call got a
    # distinct stamp (lock around read-increment-write) and each later
    # call fully overwrote the overlapping ids (lock around the merge)
    assert {r["_ver"] for r in rows} == {n_calls}
    assert len({r["metadata"] for r in rows}) == 1
    assert read_table_state(path)["version"] == n_calls


def test_vector_store_schema_evolution(spark, tmp_path):
    """A later upsert batch carrying a NEW metadata column evolves the
    store: earlier records read NULL for it, fetch/query keep
    working, and a batch missing the column still merges."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    store = VectorStore(spark, str(tmp_path / "evo_idx"), dim=4)
    store.upsert([{"id": f"d{i}", "values": [1.0, 0.0, 0.0, 0.0]} for i in range(6)])
    store.upsert([{"id": "d1", "values": [0.0, 1.0, 0.0, 0.0], "source": "web"}])
    got = {r["id"]: r.asDict().get("source") for r in store.fetch(["d0", "d1"]).collect()}
    assert got == {"d0": None, "d1": "web"}
    top = store.query([0.0, 1.0, 0.0, 0.0], top_k=1).collect()
    assert top[0]["id"] == "d1" and top[0]["source"] == "web"
    store.upsert([{"id": "d2", "values": [0.5, 0.5, 0.0, 0.0]}])  # pre-evolution shape
    assert store.fetch(["d2"]).collect()[0].asDict().get("source") is None


def test_vector_store_hybrid_query(spark, tmp_path):
    """Hybrid search (the hosted-store verb): RRF fusion of the exact
    vector ranking with a BM25 ranking over the metadata text. A doc
    that is mediocre on BOTH lists must outrank docs that only one
    retriever likes; missing query_terms / text column raise."""
    import pytest

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    store = VectorStore(spark, str(tmp_path / "hy_idx"), dim=4)
    store.upsert([
        # vector-perfect, lexically irrelevant
        {"id": "vec_only", "values": [1.0, 0.0, 0.0, 0.0], "metadata": "nothing relevant here"},
        # lexically perfect, orthogonal vector
        {"id": "lex_only", "values": [0.0, 0.0, 0.0, 1.0],
         "metadata": "spark engine spark engine spark"},
        # decent on both
        {"id": "both", "values": [0.9, 0.1, 0.0, 0.0], "metadata": "spark joins and scans"},
        {"id": "neither", "values": [0.0, 0.0, 1.0, 0.0], "metadata": "filler words only"},
    ])
    out = store.query(
        [1.0, 0.0, 0.0, 0.0], top_k=3, mode="hybrid", query_terms=["spark", "engine"]
    ).collect()
    ids = [r["id"] for r in out]
    # RRF sums (k=60): lex_only = 1/63 (vec rank 3, zero-cos tie broken
    # by id) + 1/61 (lex rank 1) ≈ .03227; both = 1/62 + 1/62 ≈ .03226;
    # vec_only = 1/61 + 0 ≈ .01639 — the two cross-retriever docs must
    # lead, the single-retriever champion trails them, 'neither' drops
    assert set(ids[:2]) == {"both", "lex_only"}
    assert ids[2] == "vec_only" and "neither" not in ids
    with pytest.raises(ValueError, match="query_terms"):
        store.query([1.0, 0, 0, 0], mode="hybrid")


def test_vector_store_namespaces(spark, tmp_path):
    """Namespaces (the reference's namespace='task1' upsert verb):
    isolated tables per namespace — same ids coexist, queries and
    deletes scope to their namespace, the default namespace is the
    root table unchanged, and stats() reports the per-namespace
    breakdown."""
    import pytest

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    store = VectorStore(spark, str(tmp_path / "ns_idx"), dim=4)
    store.upsert([{"id": "d1", "values": [1.0, 0.0, 0.0, 0.0], "metadata": "root"}])
    store.upsert(
        [{"id": "d1", "values": [0.0, 1.0, 0.0, 0.0], "metadata": "t1"},
         {"id": "d2", "values": [0.0, 0.9, 0.1, 0.0], "metadata": "t1b"}],
        namespace="task1",
    )
    assert store.namespaces() == ["", "task1"]
    # same id, different content per namespace
    assert store.fetch(["d1"]).collect()[0]["metadata"] == "root"
    assert store.fetch(["d1"], namespace="task1").collect()[0]["metadata"] == "t1"
    # queries scope to the namespace
    top = store.query([0.0, 1.0, 0.0, 0.0], top_k=1, namespace="task1").collect()
    assert top[0]["id"] == "d1" and top[0]["metadata"] == "t1"
    assert store.query([1.0, 0, 0, 0], top_k=1).collect()[0]["metadata"] == "root"
    # stats breakdown (describe_index_stats shape)
    s = store.stats()
    assert s["namespaces"][""]["count"] == 1
    assert s["namespaces"]["task1"]["count"] == 2
    assert store.stats(namespace="task1")["count"] == 2
    # deletes scope too; root untouched
    store.delete(["d1"], namespace="task1")
    assert store.fetch(["d1"], namespace="task1").count() == 0
    assert store.fetch(["d1"]).count() == 1
    with pytest.raises(ValueError, match="namespace"):
        store.upsert([{"id": "x", "values": [0.0, 0.0, 0.0, 1.0]}], namespace="../evil")


def test_vector_store_query_metadata_filter(spark, tmp_path):
    """The hosted API's metadata filter: a `where` predicate restricts
    the candidate set BEFORE ranking, so the top-k comes entirely from
    matching records (post-filtering a hit list would instead return
    fewer than k). The ivf mode's filter is covered by
    test_vector_store_where_composes_with_ivf_fast_path."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    store = VectorStore(spark, str(tmp_path / "f_idx"), dim=4)
    store.upsert([
        {"id": f"w{i}", "values": [1.0 - i * 0.01, i * 0.01, 0.0, 0.0], "src": "web"}
        for i in range(5)
    ] + [
        {"id": f"b{i}", "values": [1.0, 0.0, 0.0, 0.0], "src": "books"}
        for i in range(3)
    ])
    q = [1.0, 0.0, 0.0, 0.0]
    # unfiltered: the exact-match books rows dominate
    assert store.query(q, top_k=3).collect()[0]["id"].startswith("b")
    # filtered: every hit is web, and we still get a FULL top-3
    hits = store.query(q, top_k=3, where="src = 'web'").collect()
    assert len(hits) == 3 and all(r["src"] == "web" for r in hits)
    assert hits[0]["id"] == "w0"


def test_vector_store_maintained_ivf(spark, tmp_path):
    """r7 (VERDICT r6 task 6 motivation): build_ivf trains once; after
    that every upsert/delete keeps each row's `_cell` in the row's own
    bucket swap, so query(mode='ivf') serves CURRENT data without a
    rebuild. The stored cells must always equal a one-shot
    re-assignment of the live corpus against the stored centroids
    (tick == recompute)."""
    import numpy as np

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.vectors import (
        ivf_assign,
    )
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    dim = 6
    rng = np.random.RandomState(11)
    vecs = rng.randn(40, dim)
    store = VectorStore(spark, str(tmp_path / "ivf_idx"), dim=dim)
    store.upsert([
        {"id": f"v{i}", "values": [float(x) for x in vecs[i]], "metadata": f"m{i}"}
        for i in range(40)
    ])
    assert store.build_ivf(k=4, iters=2) == 40

    def cells_equal_recompute():
        cents = read_table_state(store._at(""))["centroids"]
        live = store._table("")
        oneshot = {r["id"]: r["cell"]
                   for r in ivf_assign(live, "id", "values", cents).collect()}
        stored = {r["id"]: r["_cell"] for r in live.select("id", "_cell").collect()}
        assert stored == oneshot

    cells_equal_recompute()

    # with every cell probed, ivf == exact (recall 1)
    q = [float(x) for x in vecs[13]]
    exact = [r["id"] for r in store.query(q, top_k=5).collect()]
    ivf_all = [r["id"] for r in store.query(q, top_k=5, mode="ivf", n_probe=4).collect()]
    assert ivf_all == exact
    # 1-probe finds the self-match (its cell is the query's best cell)
    assert store.query(q, top_k=1, mode="ivf", n_probe=1).collect()[0]["id"] == "v13"

    # fresh upsert is served WITHOUT rebuild: a near-duplicate of the
    # query vector must rank first in ivf mode
    near = [x + 1e-3 for x in q]
    store.upsert([{"id": "fresh", "values": near, "metadata": "new"}])
    cells_equal_recompute()
    hits = [r["id"] for r in store.query(q, top_k=2, mode="ivf", n_probe=1).collect()]
    assert "fresh" in hits

    # moved vector flips its cell via last-writer-wins
    store.upsert([{"id": "v13", "values": [-x for x in q], "metadata": "moved"}])
    cells_equal_recompute()

    # delete drops the id and its cell in the same commit
    store.delete(["fresh"])
    cells_equal_recompute()
    assert sum(store.stats(include_cells=True)["cells"].values()) == 40
    assert all(r["id"] != "fresh"
               for r in store.query(q, top_k=5, mode="ivf", n_probe=4).collect())

    # ivf on a store without build_ivf raises
    other = VectorStore(spark, str(tmp_path / "no_ivf"), dim=dim)
    other.upsert([{"id": "a", "values": [1.0] * dim}])
    import pytest as _pytest
    with _pytest.raises(ValueError, match="build_ivf"):
        other.query([1.0] * dim, mode="ivf")


def _commit_then_crash(real):
    """Wrap a commit function so it commits, then raises — a process
    killed right after its table swap."""
    def wrapped(*a, **k):
        real(*a, **k)
        raise OSError("crash after table commit")
    return wrapped


def test_vector_store_committed_upsert_visible_to_ivf(spark, tmp_path, monkeypatch):
    """An upsert whose table commit landed is visible to ivf search at
    once, even if the process died right after that commit: the row's
    `_cell` commits in the same bucket swap as the row, so there is no
    second commit left to lose."""
    import numpy as np
    import pytest as _pytest

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        vector_store as vs_mod,
    )
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    dim, k = 4, 3
    rng = np.random.RandomState(5)
    vecs = rng.randn(20, dim)
    store = VectorStore(spark, str(tmp_path / "crash_idx"), dim=dim)
    store.upsert([
        {"id": f"v{i}", "values": [float(x) for x in vecs[i]]} for i in range(20)
    ])
    store.build_ivf(k=k, iters=1)

    q = [9.0, 0.0, 0.0, 0.0]
    with monkeypatch.context() as m:
        m.setattr(vs_mod, "upsert_parquet_partitioned",
                  _commit_then_crash(vs_mod.upsert_parquet_partitioned))
        with _pytest.raises(OSError):
            store.upsert([{"id": "missed", "values": q}])
    hits = store.query(q, top_k=3, mode="ivf", n_probe=k).collect()
    assert hits[0]["id"] == "missed", [r["id"] for r in hits]
    assert sum(store.stats(include_cells=True)["cells"].values()) == 21


def test_vector_store_bucket_regrow_keeps_side_state(spark, tmp_path, monkeypatch):
    """A bucket regrow swaps the whole root directory; the store's
    table state (version, IVF centroids) and namespace tables must
    survive it, and the regrown buckets must stay `_cell`-clustered.
    Without the state the next upsert restarts at version 1 and loses
    to the stale row, ivf search needs a rebuild, and the namespaces
    vanish. Afterwards the table directory holds buckets, the state
    file and the namespace entries, nothing else.

    Why build_ivf runs under 3 uncoalesced shuffle partitions: the
    bucket writes hash-partition by the same murmur3 hash of the key
    as the bucket id, so under a power-of-two partition count each
    bucket is written by one task as one cell-sorted file, and a
    doubling regrow (each new bucket draws its rows from one old
    bucket) keeps that order by accident. Under 3 partitions each of
    the 16 buckets holds several cell-sorted files, as it does on a
    host whose core count is not a power of two or in a bucket whose
    file is split; the regrow then reads ~16 rows from 4 cells, in
    several runs, into each of its 64 buckets — an unclustered rewrite
    cannot pass the order check by chance."""
    import functools

    import numpy as np

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        vector_store as vs_mod,
    )
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    dim, n = 4, 1000
    vecs = np.random.RandomState(3).randn(n, dim)
    path = str(tmp_path / "regrow_idx")
    store = VectorStore(spark, path, dim=dim)
    store.upsert([{"id": f"v{i}", "values": [float(x) for x in vecs[i]]} for i in range(n)])
    store.upsert([{"id": "n0", "values": [1.0] * dim}], namespace="ns")
    confs = {"spark.sql.shuffle.partitions": "3",
             "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    prior = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        store.build_ivf(k=4, iters=1)
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)
    assert read_table_state(path)["buckets"] == 16

    # 1000 rows over 16 buckets is past 2 x 20 rows per bucket: this
    # upsert's merge finishes with a regrow to 64 buckets
    with monkeypatch.context() as m:
        m.setattr(vs_mod, "upsert_parquet_partitioned",
                  functools.partial(vs_mod.upsert_parquet_partitioned, target_bucket_rows=20))
        store.upsert([{"id": "v1", "values": [0.5] * dim}])
    assert read_table_state(path)["buckets"] == 64
    _assert_cell_sorted(path)

    store.upsert([{"id": "v1", "values": [2.0] * dim}])
    assert [float(x) for x in store.fetch(["v1"]).first()["values"]] == [2.0] * dim
    assert store.namespaces() == ["", "ns"]
    assert store.fetch(["n0"], namespace="ns").count() == 1
    q = [float(x) for x in vecs[7]]
    assert store.query(q, top_k=1, mode="ivf", n_probe=2).first()["id"] == "v7"
    assert store.stats()["count"] == n
    store.delete(["v2"])
    assert store.stats()["count"] == n - 1
    assert {d for d in os.listdir(path) if not d.startswith("kbucket=")} == {
        "_table.json", "_ns-ns", "_ns-ns.lockfile"
    }


def test_vector_store_first_upsert_crash_keeps_bucket_count(spark, tmp_path, monkeypatch):
    """A new table's bucket count is in its state before the first
    bucket lands. The first upsert crashes after its first bucket swap
    and before its final state write; the replay, sized by default for
    16 buckets, must hash under the recorded 64 — merging the landed
    rows instead of duplicating them — and fetch sees every id once."""
    import functools

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        sinks,
    )
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        vector_store as vs_mod,
    )
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    path = str(tmp_path / "first_idx")
    store = VectorStore(spark, path, dim=2)
    recs = [{"id": f"d{i}", "values": [float(i), 1.0]} for i in range(100)]
    with monkeypatch.context() as m:
        m.setattr(sinks, "swap_in", _commit_then_crash(sinks.swap_in))
        m.setattr(vs_mod, "upsert_parquet_partitioned",
                  functools.partial(vs_mod.upsert_parquet_partitioned, target_bucket_rows=2))
        with pytest.raises(OSError):
            store.upsert(recs)
    assert read_table_state(path)["buckets"] == 64  # 100 rows / 2 per bucket
    assert len([d for d in os.listdir(path) if d.startswith("kbucket=")]) == 1

    recs.append({"id": "extra", "values": [0.0, 1.0]})
    store.upsert(recs)
    ids = [r["id"] for r in recs]
    assert sorted(r["id"] for r in store.fetch(ids).collect()) == sorted(ids)
    assert spark.read.parquet(path).count() == len(ids)
    assert read_table_state(path)["buckets"] == 64


def test_vector_store_pre_state_layout_raises(spark, tmp_path):
    """A directory holding `kbucket=*` buckets but no `_table.json` was
    written by the older marker-file layout. Every verb raises a
    ValueError that names replay as the fix: no inference of the bucket
    count, no migration."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    path = str(tmp_path / "old_idx")
    spark.createDataFrame(
        [("a", [1.0, 0.0], 1, 3)], "id string, values array<double>, _ver long, kbucket int"
    ).write.partitionBy("kbucket").parquet(path)
    with open(os.path.join(path, "_nbuckets"), "w") as fh:
        fh.write('{"n": 16, "rows": 1}')
    store = VectorStore(spark, path, dim=2)
    for verb in (
        lambda: store.upsert([{"id": "b", "values": [0.0, 1.0]}]),
        lambda: store.delete(["a"]),
        lambda: store.fetch(["a"]),
        lambda: store.query([1.0, 0.0]),
        store.stats,
        store.build_ivf,
    ):
        with pytest.raises(ValueError, match="replay"):
            verb()


def _assert_cell_sorted(tpath):
    """Every bucket data file under ``tpath`` holds its rows in
    non-decreasing ``_cell`` order (read with pyarrow, not the engine)."""
    import pyarrow.parquet as pq

    n_files = 0
    for root, dirs, files in os.walk(tpath):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.endswith(".parquet"):
                continue
            cells = pq.read_table(os.path.join(root, f), columns=["_cell"])["_cell"].to_pylist()
            assert cells == sorted(cells), (f, cells[:20])
            n_files += 1
    assert n_files > 0


def _ivf_probe_kind(df):
    """'table' when the probe pushes the table's `_cell` column into
    the scan, 'none' when no `_cell` filter reaches it (the exact-scan
    fallback) — path strings are elided in plan text, so the
    pushed-filter column name is the reliable discriminator. Handles
    both In(...) and the single-probe EqualTo(...) forms."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = " ".join(ln for ln in plan.splitlines() if "PushedFilters" in ln)
    return "table" if "(_cell" in pushed else "none"


def test_vector_store_ivf_cell_clustered_probe(spark, tmp_path):
    """r8 (VERDICT r7 item 2): the IVF probe's I/O must match its
    ~n_probe/k claim, not just its compute. build_ivf stamps `_cell`
    on every row and the keyed-table writes cluster each bucket's
    files by it, so the probe is a pushed `IN` over a sorted column —
    row-group min/max stats prune the un-probed cells' bytes. Checked
    here at the layers fixture scale can see: the column rides the
    rows, every data file is sorted by `_cell` (tight row-group stats
    at any future row-group count), the predicate reaches the parquet
    scan as a PushedFilter, and the probed query stays correct."""
    import numpy as np

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.vectors import (
        ivf_assign,
    )
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    dim = 8
    rng = np.random.RandomState(11)
    vecs = rng.randn(400, dim)
    store = VectorStore(spark, str(tmp_path / "cell_idx"), dim=dim)
    store.upsert([
        {"id": f"v{i}", "values": [float(x) for x in vecs[i]]} for i in range(400)
    ])
    store.build_ivf(k=4, iters=1)
    tpath = store._at("")

    t = store._table("")
    assert "_cell" in t.columns
    # table cells == a recompute against the committed centroids
    tbl = {r["id"]: r["_cell"] for r in t.select("id", "_cell").collect()}
    cents = read_table_state(tpath)["centroids"]
    oneshot = {r["id"]: r["cell"]
               for r in ivf_assign(t, "id", "values", cents).collect()}
    assert tbl == oneshot and len(tbl) == 400

    _assert_cell_sorted(tpath)

    # the probe predicate reaches the scan (pushed, row-group-prunable)
    q = [float(x) for x in vecs[0]]
    hits = store.query(q, top_k=5, mode="ivf", n_probe=1)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "_cell" in "".join(pushed), plan
    assert _ivf_probe_kind(hits) == "table", plan

    # incremental upserts keep cells + clustering fresh
    more = rng.randn(50, dim)
    store.upsert([
        {"id": f"w{i}", "values": [float(x) for x in more[i]]} for i in range(50)
    ])
    t2 = store._table("")
    assert t2.filter("_cell IS NULL").count() == 0
    _assert_cell_sorted(tpath)

    # probing every cell == exact search (recall 1 sanity)
    exact = [r["id"] for r in store.query(q, top_k=5, mode="exact").collect()]
    full = [r["id"] for r in store.query(q, top_k=5, mode="ivf", n_probe=4).collect()]
    assert exact == full


def test_vector_store_ivf_rowgroup_pruning(spark, tmp_path):
    """The cell-clustered layout must actually prune: with row groups
    forced small (so one bucket file holds several), a 1-of-4-cell
    probe's pushed predicate intersects a strict subset of row groups
    by footer min/max — the byte-level decision the claim rides at
    scale, measured the way test_layout measures file pruning."""
    import numpy as np
    import pyarrow.parquet as pq

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 4096)
    try:
        dim = 8
        rng = np.random.RandomState(13)
        vecs = rng.randn(4000, dim)
        store = VectorStore(spark, str(tmp_path / "rg_idx"), dim=dim)
        store.upsert([
            {"id": f"v{i}", "values": [float(x) for x in vecs[i]]}
            for i in range(4000)
        ])
        store.build_ivf(k=4, iters=1)
        tpath = store._at("")

        import os as _os
        total = touched = multi_rg_files = 0
        probe = {0}
        for root, dirs, files in _os.walk(tpath):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(_os.path.join(root, f)).metadata
                if md.num_row_groups > 1:
                    multi_rg_files += 1
                ci = {c: i for i in range(md.num_columns)
                      for c in [md.row_group(0).column(i).path_in_schema]}
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(ci["_cell"]).statistics
                    total += 1
                    if st is None or st.min <= max(probe) and st.max >= min(probe):
                        if st is None or any(st.min <= c <= st.max for c in probe):
                            touched += 1
        assert multi_rg_files > 0, "row groups did not split; raise fixture size"
        assert touched < total, (touched, total)
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)


def test_vector_store_where_composes_with_ivf_fast_path(spark, tmp_path):
    """r8: the metadata `where` filter must compose with the `_cell`
    fast-path probe (both predicates in ONE scan, filter-before-rank
    semantics preserved) and with mode='hybrid' — a filtered probe
    still returns a FULL top-k drawn from matching rows only."""
    import numpy as np

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    dim = 4
    rng = np.random.RandomState(3)
    store = VectorStore(spark, str(tmp_path / "wc_idx"), dim=dim)
    rows = []
    for i in range(60):
        v = rng.randn(dim)
        rows.append({
            "id": f"r{i}",
            "values": [float(x) for x in v],
            "src": "web" if i % 2 == 0 else "books",
            "metadata": f"doc {i} filter hash join terms",
        })
    store.upsert(rows)
    store.build_ivf(k=3, iters=1)
    q = [float(x) for x in rng.randn(dim)]

    hits = store.query(q, top_k=4, mode="ivf", n_probe=3, where="src = 'web'")
    got = hits.collect()
    assert len(got) == 4 and all(r["src"] == "web" for r in got)
    # probing ALL cells with the filter == exact search over the
    # filtered population (recall-1 check through the fast path)
    exact = store.query(q, top_k=4, mode="exact", where="src = 'web'").collect()
    assert [r["id"] for r in got] == [r["id"] for r in exact]
    # and the fast path really ran: the probe pushes the table's `_cell`
    assert _ivf_probe_kind(hits) == "table"

    hy = store.query(
        q, top_k=3, mode="hybrid", query_terms=["filter", "hash"],
        where="src = 'books'",
    ).collect()
    assert len(hy) == 3 and all(r["src"] == "books" for r in hy)


def _assert_pending_rebuild_serves_exact(store, q, make_crash):
    """Crash a build_ivf through ``make_crash`` (a wrapper around
    ``upsert_parquet_partitioned``, the re-stamp commit), then check
    the whole pending window: the table state's ``pending`` flag
    survives an ordinary upsert, ivf search pushes no `_cell` filter and
    equals exact search, and a clean rebuild clears the flag and
    restores the `_cell` probe."""
    import pytest as _pytest

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        vector_store as vs_mod,
    )

    tpath = store._at("")
    real = vs_mod.upsert_parquet_partitioned
    vs_mod.upsert_parquet_partitioned = make_crash(real)
    try:
        with _pytest.raises(OSError):
            store.build_ivf(k=3, iters=1)
    finally:
        vs_mod.upsert_parquet_partitioned = real
    assert read_table_state(tpath)["pending"]

    # an ordinary tick stamps its rows under the new centroids but must
    # not clear the flag: older rows may still carry old cells
    store.upsert([{"id": "later", "values": [0.0, 9.0, 0.0, 0.0]}])
    assert read_table_state(tpath)["pending"]

    hits = store.query(q, top_k=5, mode="ivf", n_probe=3)
    assert _ivf_probe_kind(hits) == "none"
    exact = [r["id"] for r in store.query(q, top_k=5, mode="exact").collect()]
    assert [r["id"] for r in hits.collect()] == exact

    store.build_ivf(k=3, iters=1)
    assert not read_table_state(tpath)["pending"]
    hits2 = store.query(q, top_k=5, mode="ivf", n_probe=3)
    assert _ivf_probe_kind(hits2) == "table"
    assert [r["id"] for r in hits2.collect()] == exact


def test_vector_store_rebuild_crash_disables_cell_fast_path(spark, tmp_path):
    """r8 self-review catch: a build_ivf crash right AFTER its row
    re-stamp commits — before it clears the state's `pending` flag —
    must keep the `_cell` probe off until a build completes cleanly.
    The flag is the only record that the build did not finish."""
    import numpy as np

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    dim = 4
    rng = np.random.RandomState(17)
    store = VectorStore(spark, str(tmp_path / "rb_idx"), dim=dim)
    store.upsert([
        {"id": f"v{i}", "values": [float(x) for x in rng.randn(dim)]}
        for i in range(30)
    ])
    store.build_ivf(k=3, iters=1)
    q = [float(x) for x in rng.randn(dim)]

    # sanity: clean build serves through the `_cell` probe
    assert _ivf_probe_kind(store.query(q, top_k=5, mode="ivf", n_probe=3)) == "table"

    # grow the corpus, then CRASH a rebuild after its table re-stamp
    store.upsert([
        {"id": f"w{i}", "values": [float(x) for x in rng.randn(dim)]}
        for i in range(10)
    ])
    _assert_pending_rebuild_serves_exact(store, q, _commit_then_crash)


def test_vector_store_stats_include_cells(spark, tmp_path):
    """r8: stats(include_cells=True) reports the maintained IVF
    occupancy from the rows' `_cell` — totals match the corpus, stay
    fresh across upsert/delete, and the flag is a no-op without a
    built index."""
    import numpy as np

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    rng = np.random.RandomState(23)
    store = VectorStore(spark, str(tmp_path / "st_idx"), dim=4)
    store.upsert([
        {"id": f"v{i}", "values": [float(x) for x in rng.randn(4)]}
        for i in range(40)
    ])
    assert "cells" not in store.stats(include_cells=True)  # no index yet
    store.build_ivf(k=3, iters=1)
    st = store.stats(include_cells=True)
    assert sum(st["cells"].values()) == 40 and len(st["cells"]) <= 3
    store.delete(["v0", "v1"])
    store.upsert([{"id": "w0", "values": [1.0, 0.0, 0.0, 0.0]}])
    st2 = store.stats(include_cells=True)
    assert sum(st2["cells"].values()) == 39
    assert "cells" not in store.stats()  # default shape unchanged


def test_vector_store_fetch_large_batch_semijoin(spark, tmp_path):
    """r8: fetch() with a batch larger than FETCH_IN_LIST_MAX filters
    via broadcast semi-join (O(1) plan size) instead of a literal IN
    list — same rows either way, bucket pruning still applied."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    store = VectorStore(spark, str(tmp_path / "fb_idx"), dim=2)
    store.upsert([
        {"id": f"v{i}", "values": [float(i), 0.0]} for i in range(50)
    ])
    big = [f"v{i}" for i in range(40)] + [f"missing{i}" for i in range(5)]
    old = VectorStore.FETCH_IN_LIST_MAX
    try:
        VectorStore.FETCH_IN_LIST_MAX = 10  # force the semi-join path
        got = store.fetch(big)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan, plan
        rows = {r["id"] for r in got.collect()}
    finally:
        VectorStore.FETCH_IN_LIST_MAX = old
    small = {r["id"] for r in store.fetch(big).collect()}  # IN-list path
    assert rows == small == {f"v{i}" for i in range(40)}


def test_vector_store_rebuild_crash_before_rewrite(spark, tmp_path):
    """Completing the rebuild-crash matrix: a crash AFTER the new
    centroids are written but BEFORE the row re-stamp commits leaves
    rows on the old quantizer under new committed centroids — the
    `pending` flag keeps the `_cell` probe off (exact-scan fallback)
    until a clean rebuild restores it."""
    import numpy as np

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
        VectorStore,
    )

    rng = np.random.RandomState(19)
    store = VectorStore(spark, str(tmp_path / "rb2_idx"), dim=4)
    store.upsert([
        {"id": f"v{i}", "values": [float(x) for x in rng.randn(4)]}
        for i in range(25)
    ])
    store.build_ivf(k=3, iters=1)
    q = [float(x) for x in rng.randn(4)]

    def crash_before_commit(_real):
        def crash(*a, **k):
            raise OSError("crash before table rewrite")
        return crash

    _assert_pending_rebuild_serves_exact(store, q, crash_before_commit)
