"""End-to-end CDC sweep tests: the reference's scheduler tick
(controller.py:17-35) as a Spark pipeline with persisted state."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (  # noqa: E402
    VectorStore,
)
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.streaming.pipeline import (  # noqa: E402
    EMBED_DIM,
    commit_watermark,
    read_watermarks,
    run_multi_table_streaming,
    sweep,
)

TABLES = {"events": ("ts", "event_id")}


def _set_watermarks(store: str, wms: dict) -> None:
    """Overwrite the store's watermark file (a rolled-back commit)."""
    with open(os.path.join(store, "watermarks.json"), "w") as fh:
        json.dump(wms, fh)


def _assert_store_layout(store: str) -> None:
    """Vectors and the one watermark file; no keyed watermark table."""
    entries = set(os.listdir(store))
    assert {"vectors", "watermarks.json"} <= entries and "watermark" not in entries, entries


def test_sweep_processes_then_idles(spark, sf_dir, tmp_path):
    """Sweep 1 processes everything; sweep 2 (unchanged source) must
    process nothing — the watermark protocol end-to-end (S4-S6/T2)."""
    store = str(tmp_path / "store")
    first = sweep(spark, sf_dir, store, TABLES)
    assert first == {"events": 1000}

    vectors = spark.read.parquet(os.path.join(store, "vectors"))
    assert vectors.count() == 10  # 1000 rows / 100-row chunks
    wm = read_watermarks(store)
    assert list(wm) == ["events"] and wm["events"]["batch_rows"] == 1000
    _assert_store_layout(store)

    second = sweep(spark, sf_dir, store, TABLES)
    assert second == {"events": 0}
    assert spark.read.parquet(os.path.join(store, "vectors")).count() == 10


def test_sweep_multi_table(spark, sf_dir, tmp_path):
    """The reference loops ALL discovered tables (controller.py:25-27);
    the sweep does the same — one watermark row and one chunk-id
    namespace per table."""
    store = str(tmp_path / "store")
    tables = {"events": ("ts", "event_id"), "orders": ("o_orderdate", "o_orderkey")}
    first = sweep(spark, sf_dir, store, tables)
    assert first["events"] == 1000 and first["orders"] == 1500

    assert set(read_watermarks(store)) == {"events", "orders"}
    vecs = spark.read.parquet(os.path.join(store, "vectors"))
    sources = {r[0] for r in vecs.select("metadata.source").distinct().collect()}
    assert sources == {"events", "orders"}

    second = sweep(spark, sf_dir, store, tables)
    assert second == {"events": 0, "orders": 0}


def test_sweep_crash_replay_is_idempotent(spark, sf_dir, tmp_path, monkeypatch):
    """Crash between vector upsert and watermark commit (the
    reference's at-least-once window, service.py:72-74): a tick killed
    right after its bucket swaps leaves the watermark file unchanged,
    and replaying the sweep reprocesses the same rows into an
    identical vectors table."""
    from test_vector_sink import _commit_then_crash

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        vector_store as vs_mod,
    )

    store = str(tmp_path / "store")
    assert sweep(spark, sf_dir, store, TABLES) == {"events": 1000}
    committed = read_watermarks(store)
    vec_path = os.path.join(store, "vectors")

    def contents():
        return sorted(
            (r["id"], tuple(r["values"]), tuple(r["metadata"]))
            for r in spark.read.parquet(vec_path).select("id", "values", "metadata").collect()
        )

    before = contents()
    # roll the watermark back, keep vectors: the state a crash between
    # the two commits leaves; then crash again right after the swaps
    _set_watermarks(store, {})
    with monkeypatch.context() as m:
        m.setattr(vs_mod, "upsert_parquet_partitioned",
                  _commit_then_crash(vs_mod.upsert_parquet_partitioned))
        with pytest.raises(OSError):
            sweep(spark, sf_dir, store, TABLES)
    assert read_watermarks(store) == {}
    assert contents() == before
    replay = sweep(spark, sf_dir, store, TABLES)
    assert replay == {"events": 1000}  # delta reprocessed...
    assert contents() == before  # ...but the sink state is identical
    assert read_watermarks(store) == committed


def test_sweep_second_sweep_with_multiple_deltas(spark, sf_dir, tmp_path):
    """Two delta-bearing tables in one sweep (ADVICE r1, high: the
    first table's commit must not break the second's watermark
    lookup), and a stored watermark never moves backwards: the second
    sweep advances both rolled-back entries, and a later commit of an
    older watermark leaves the stored one in place."""
    store = str(tmp_path / "store")
    tables = {"events": ("ts", "event_id"), "orders": ("o_orderdate", "o_orderkey")}
    sweep(spark, sf_dir, store, tables)
    committed = read_watermarks(store)

    # roll BOTH watermarks back so both tables carry deltas next sweep
    _set_watermarks(store, {
        "events": {"last_updated": "1970-01-02 00:00:00", "batch_rows": 0},
        "orders": {"last_updated": "1970-01-02", "batch_rows": 0},
    })

    second = sweep(spark, sf_dir, store, tables)
    assert second["events"] == 1000 and second["orders"] == 1500
    assert read_watermarks(store) == committed

    # an out-of-order (older) commit keeps the later stored watermark
    commit_watermark(store, "events", "1970-01-02 00:00:00", 7)
    commit_watermark(store, "orders", "1970-01-02", 7)
    assert read_watermarks(store) == committed


def test_sweep_parallel_tables_matches_serial(spark, sf_dir, tmp_path):
    """Concurrent per-table processing (thread pool over independent
    DAGs, commits serialized by the stores' writer locks) must produce
    exactly the serial sweep's store state."""
    tables = {"events": ("ts", "event_id"), "orders": ("o_orderdate", "o_orderkey")}

    serial_store = str(tmp_path / "serial")
    parallel_store = str(tmp_path / "parallel")
    serial = sweep(spark, sf_dir, serial_store, tables)
    parallel = sweep(spark, sf_dir, parallel_store, tables, max_parallel_tables=2)
    assert serial == parallel

    def state(store):
        vecs = sorted(
            (r["id"], r["metadata"]["text"], r["metadata"]["source"])
            for r in spark.read.parquet(os.path.join(store, "vectors")).collect()
        )
        return vecs, read_watermarks(store)

    assert state(serial_store) == state(parallel_store)
    assert set(read_watermarks(parallel_store)) == {"events", "orders"}

    # idle second parallel sweep
    assert sweep(spark, sf_dir, parallel_store, tables, max_parallel_tables=2) == {
        "events": 0,
        "orders": 0,
    }


def test_sweep_error_isolation_continue(spark, sf_dir, tmp_path):
    """Reference parity (controller.py:28-29): with on_error='continue'
    a failing table is logged, maps to -1, leaves its watermark
    unadvanced, and every other table completes; the next sweep retries
    the failed table's delta."""
    store = str(tmp_path / "store")
    tables = {
        "events": ("ts", "event_id"),
        "no_such_table": ("ts", "id"),
        "orders": ("o_orderdate", "o_orderkey"),
    }
    result = sweep(spark, sf_dir, store, tables, on_error="continue")
    assert result["events"] == 1000 and result["orders"] == 1500
    assert result["no_such_table"] == -1

    # failed table's watermark absent
    assert set(read_watermarks(store)) == {"events", "orders"}

    # default mode still fails fast
    with pytest.raises(Exception):
        sweep(spark, sf_dir, str(tmp_path / "s2"), {"no_such_table": ("ts", "id")})


def test_sweep_stores_queryable_vectors(spark, sf_dir, tmp_path):
    """The sweep composes the whole reference tick: delta -> chunk ->
    embed -> keyed vector upsert -> watermark. Stored chunks carry
    384-dim ``values`` a self-query finds at cosine 1.0; an idle sweep
    and a replay after a lost watermark leave the store unchanged; and
    the streaming composition writes the same store."""
    tables = {"events": ("ts", "event_id"), "orders": ("o_orderdate", "o_orderkey")}
    store_dir = str(tmp_path / "store")
    vec_path = os.path.join(store_dir, "vectors")
    assert sweep(spark, sf_dir, store_dir, tables, max_parallel_tables=2) == {
        "events": 1000,
        "orders": 1500,
    }

    def contents(path):
        return sorted(
            (r["id"], tuple(r["values"]), tuple(r["metadata"]))
            for r in spark.read.parquet(path).select("id", "values", "metadata").collect()
        )

    stored = contents(vec_path)
    assert len(stored) == 25 and all(len(v) == EMBED_DIM for _i, v, _m in stored)

    store = VectorStore(spark, vec_path, EMBED_DIM)
    probe = store.fetch(["events#0#0"]).collect()
    assert len(probe) == 1 and probe[0]["metadata"]["source"] == "events"
    hits = store.query([float(x) for x in probe[0]["values"]], 3, mode="exact").collect()
    assert hits[0]["id"] == "events#0#0"
    assert hits[0]["score"] == pytest.approx(1.0, abs=1e-6)

    assert sweep(spark, sf_dir, store_dir, tables) == {"events": 0, "orders": 0}
    assert contents(vec_path) == stored

    _set_watermarks(store_dir, {})
    assert sweep(spark, sf_dir, store_dir, tables) == {"events": 1000, "orders": 1500}
    assert contents(vec_path) == stored

    stream_dir = str(tmp_path / "stream")
    run_multi_table_streaming(spark, sf_dir, stream_dir, tables, available_now=True)
    assert contents(os.path.join(stream_dir, "vectors")) == stored
    _assert_store_layout(store_dir)
    _assert_store_layout(stream_dir)


def test_concurrent_watermark_commits_all_land(tmp_path):
    """Concurrent tables commit through one read-modify-write of the
    watermark file; the store lock must serialize them. More threads
    than cores, each committing rising watermarks for its own table,
    with a short switch interval: a lost update would drop a table or
    leave an earlier watermark."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources._commit import (
        table_lock,
    )

    store = str(tmp_path / "store")
    vec_path = os.path.join(store, "vectors")
    n_threads, n_commits = 2 * (os.cpu_count() or 4), 10

    def commit_all(t: int) -> None:
        for i in range(n_commits):
            with table_lock(vec_path):
                commit_watermark(store, f"t{t}", f"2024-01-{i + 1:02d}", i)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            list(pool.map(commit_all, range(n_threads), timeout=120))
    finally:
        sys.setswitchinterval(old)
    assert read_watermarks(store) == {
        f"t{t}": {"last_updated": f"2024-01-{n_commits:02d}", "batch_rows": n_commits - 1}
        for t in range(n_threads)
    }
