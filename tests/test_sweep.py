"""End-to-end CDC sweep tests: the reference's scheduler tick
(controller.py:17-35) as a Spark pipeline with persisted state."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (  # noqa: E402
    VectorStore,
)
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.streaming.pipeline import (  # noqa: E402
    EMBED_DIM,
    run_multi_table_streaming,
    sweep,
)

TABLES = {"events": ("ts", "event_id")}


def test_sweep_processes_then_idles(spark, sf_dir, tmp_path):
    """Sweep 1 processes everything; sweep 2 (unchanged source) must
    process nothing — the watermark protocol end-to-end (S4-S6/T2)."""
    store = str(tmp_path / "store")
    first = sweep(spark, sf_dir, store, TABLES)
    assert first == {"events": 1000}

    vectors = spark.read.parquet(os.path.join(store, "vectors"))
    assert vectors.count() == 10  # 1000 rows / 100-row chunks
    wm = spark.read.parquet(os.path.join(store, "watermark")).collect()
    assert len(wm) == 1 and wm[0]["table_name"] == "events"

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

    wm = {r["table_name"] for r in spark.read.parquet(os.path.join(store, "watermark")).collect()}
    assert wm == {"events", "orders"}
    vecs = spark.read.parquet(os.path.join(store, "vectors"))
    sources = {r[0] for r in vecs.select("metadata.source").distinct().collect()}
    assert sources == {"events", "orders"}

    second = sweep(spark, sf_dir, store, tables)
    assert second == {"events": 0, "orders": 0}


def test_sweep_crash_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Crash between vector upsert and watermark commit (the
    reference's at-least-once window, service.py:72-74): replaying the
    sweep must leave the vectors table unchanged."""
    store = str(tmp_path / "store")
    sweep(spark, sf_dir, store, TABLES)
    vec_path = os.path.join(store, "vectors")
    before = sorted(
        (r["id"], r["metadata"]["text"]) for r in spark.read.parquet(vec_path).collect()
    )
    # simulate the crash: roll the watermark store back, keep vectors
    import shutil

    shutil.rmtree(os.path.join(store, "watermark"))
    replay = sweep(spark, sf_dir, store, TABLES)
    assert replay == {"events": 1000}  # delta reprocessed...
    after = sorted(
        (r["id"], r["metadata"]["text"]) for r in spark.read.parquet(vec_path).collect()
    )
    assert after == before  # ...but the sink state is identical


def test_sweep_second_sweep_with_multiple_deltas(spark, sf_dir, tmp_path):
    """Regression (ADVICE r1, high): the sweep loop replaces the
    watermark directory per table, so watermarks must be collected
    eagerly up front — a lazily-read wm_df would capture a file listing
    that the first in-loop upsert deletes, crashing the second
    delta-bearing table's lookup with FAILED_READ_FILE."""
    import datetime

    import shutil

    store = str(tmp_path / "store")
    tables = {"events": ("ts", "event_id"), "orders": ("o_orderdate", "o_orderkey")}
    sweep(spark, sf_dir, store, tables)

    # roll BOTH watermarks back so both tables carry deltas next sweep
    wm_path = os.path.join(store, "watermark")
    shutil.rmtree(wm_path)
    early = datetime.datetime(1970, 1, 2)
    spark.createDataFrame(
        [("events", early, 0, 1), ("orders", early, 0, 1)],
        "table_name string, last_updated timestamp, batch_rows long, version long",
    ).write.parquet(wm_path)

    second = sweep(spark, sf_dir, store, tables)
    assert second["events"] == 1000 and second["orders"] == 1500


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
        wm = sorted(
            (r["table_name"], r["last_updated"])
            for r in spark.read.parquet(os.path.join(store, "watermark")).collect()
        )
        return vecs, wm

    assert state(serial_store) == state(parallel_store)

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

    wm = {r["table_name"] for r in spark.read.parquet(os.path.join(store, "watermark")).collect()}
    assert wm == {"events", "orders"}  # failed table's watermark absent

    # default mode still fails fast
    import pytest

    with pytest.raises(Exception):
        sweep(spark, sf_dir, str(tmp_path / "s2"), {"no_such_table": ("ts", "id")})


def test_sweep_stores_queryable_vectors(spark, sf_dir, tmp_path):
    """The sweep composes the whole reference tick: delta -> chunk ->
    embed -> keyed vector upsert -> watermark. Stored chunks carry
    384-dim ``values`` a self-query finds at cosine 1.0; an idle sweep
    and a replay after a lost watermark leave the store unchanged; and
    the streaming composition writes the same store."""
    import shutil

    import pytest

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

    shutil.rmtree(os.path.join(store_dir, "watermark"))
    assert sweep(spark, sf_dir, store_dir, tables) == {"events": 1000, "orders": 1500}
    assert contents(vec_path) == stored

    stream_dir = str(tmp_path / "stream")
    run_multi_table_streaming(spark, sf_dir, stream_dir, tables, available_now=True)
    assert contents(os.path.join(stream_dir, "vectors")) == stored
