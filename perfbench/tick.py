"""The paper's poll tick, composed from the engine's layer functions.

Per tracked table: read the stored watermark (``sources.sinks.
recover_table`` plus a read of the watermark table), then
``sources.tables.load_table`` -> ``streaming.pipeline.cdc_tick(...,
with_embeddings=True)`` -> ``VectorStore.upsert`` of the sink rows ->
``sources.sinks.upsert_parquet`` of the watermark row. Search is
``VectorStore.fetch`` of a probe's stored vector, then
``VectorStore.query`` top-10 in ``exact`` and ``ivf`` mode.

The tick does not call ``streaming.pipeline.sweep()``: ``sweep`` builds
its upsert input without the ``values`` column, so it stores no vectors
and Catalyst prunes its embed step. A benchmark built on it would
measure a tick without embedding today and score the fix of that as a
regression.

With a tracer enabled, :func:`instrumented` wraps the layer functions
``cdc_tick`` calls so each layer boundary is materialized (persist +
count) inside its own span; untraced runs execute the plain functions.
"""

from __future__ import annotations

import contextlib
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators import cdc as cdc_ops
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.sinks import (
    recover_table,
    upsert_parquet,
)
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.tables import load_table
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.vector_store import (
    VectorStore,
)
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.streaming.pipeline import (
    EMBED_DIM,
    cdc_tick,
)

from gen import TRACKED

TOP_K = 10
#: a self-query must return its probe at cosine 1.0; scores are
#: rounded to 6 decimals by the engine
SELF_SCORE = 0.999999


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


@contextlib.contextmanager
def instrumented(tracer, persisted: list):
    """Wrap the layer functions ``cdc_tick`` calls so that, while
    tracing, each output is persisted and counted inside its layer's
    span. Persisted frames are appended to ``persisted`` for the caller
    to release after the tick."""
    if not tracer.enabled:
        yield
        return
    originals = {
        name: getattr(cdc_ops, name)
        for name in ("incremental_scan", "serialize_rows", "chunk_documents")
    }

    def wrap(fn, span: str, count_key: str, after=None):
        def inner(*args, **kwargs):
            with tracer.span(span) as rec:
                out = fn(*args, **kwargs).persist(StorageLevel.MEMORY_AND_DISK)
                rec[count_key] = out.count()
            persisted.append(out)
            if after is not None:
                after(rec, out)
            return out

        return inner

    def serialized_bytes(rec, out):
        rec["bytes"] = out.select(F.sum(F.length("data_string"))).first()[0] or 0

    cdc_ops.incremental_scan = wrap(originals["incremental_scan"], "tables.scan", "delta_rows")
    cdc_ops.serialize_rows = wrap(
        originals["serialize_rows"], "cdc.serialize", "rows", serialized_bytes
    )
    cdc_ops.chunk_documents = wrap(originals["chunk_documents"], "cdc.chunk", "chunks")
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(cdc_ops, name, fn)


class Pipeline:
    """One store (vectors + watermark table) under ``store_dir``."""

    def __init__(self, spark, store_dir: str, tracer):
        self.spark = spark
        self.tracer = tracer
        self.wm_path = os.path.join(store_dir, "watermark")
        self.vec_path = os.path.join(store_dir, "vectors")
        self.store = VectorStore(spark, self.vec_path, EMBED_DIM)

    def read_watermarks(self) -> dict:
        with self.tracer.span("sinks.wm_read"):
            recover_table(self.wm_path)
            if not os.path.exists(self.wm_path):
                return {}
            rows = self.spark.read.parquet(self.wm_path).select("table_name", "last_updated")
            return {r["table_name"]: r["last_updated"] for r in rows.collect()}

    def tick(self, sf_dir: str, tables) -> int:
        """One tick over ``tables``; returns source rows processed."""
        tr = self.tracer
        wm = self.read_watermarks()
        processed = 0
        for table in tables:
            change_col, order_col = TRACKED[table]
            persisted: list = []
            with tr.span("tick.table", table=table), instrumented(tr, persisted):
                try:
                    with tr.span("tables.scan") as rec:
                        df = load_table(self.spark, sf_dir, table)
                        rec["rows_read"] = pq.ParquetFile(
                            os.path.join(sf_dir, f"{table}.parquet")
                        ).metadata.num_rows
                    sink_rows, new_wm = cdc_tick(
                        df,
                        source=table,
                        change_col=change_col,
                        order_col=order_col,
                        watermark=wm.get(table, "1970-01-01"),
                        with_embeddings=True,
                    )
                    docs = None
                    if tr.enabled:
                        with tr.span("pipeline.embed") as rec:
                            sink_rows = sink_rows.persist(StorageLevel.MEMORY_AND_DISK)
                            docs = rec["docs"] = sink_rows.count()
                        persisted.append(sink_rows)
                    with tr.span("cdc.watermark"):
                        wm_row = new_wm.collect()[0]
                    if wm_row["batch_rows"] == 0:
                        continue
                    with tr.span("vector_store.upsert", vectors=docs) as rec:
                        rec["buckets"] = self.store.upsert(sink_rows)
                    with tr.span("sinks.wm_commit"):
                        update = self.spark.createDataFrame(
                            [(table, wm_row["last_updated"], wm_row["batch_rows"])],
                            "table_name string, last_updated timestamp, batch_rows long",
                        ).withColumn("version", F.unix_micros("last_updated"))
                        upsert_parquet(self.spark, self.wm_path, update, ["table_name"], "version")
                    processed += wm_row["batch_rows"]
                finally:
                    for frame in persisted:
                        frame.unpersist()
        return processed

    def search(self, probe_id: str, modes=("exact", "ivf")) -> dict:
        """Fetch the probe's stored vector, then a top-10 query in each
        of ``modes``. Returns per-mode seconds, hit ids, whether each
        mode returned the probe first at cosine 1.0, and the ivf
        top-10's overlap with the exact top-10 when both ran."""
        with self.tracer.span("vector_store.fetch"):
            rows = self.store.fetch([probe_id]).select("values").collect()
        if len(rows) != 1:
            raise LookupError(f"fetch({probe_id!r}) returned {len(rows)} rows")
        vec = [float(x) for x in rows[0]["values"]]
        out = {}
        for mode in modes:
            start = time.perf_counter()
            with self.tracer.span(f"vector_store.query_{mode}"):
                hits = self.store.query(vec, TOP_K, mode=mode).select("id", "score").collect()
            out[mode] = time.perf_counter() - start
            top = [h["id"] for h in hits if h["score"] >= SELF_SCORE]
            out[f"{mode}_ok"] = bool(hits) and hits[0]["score"] >= SELF_SCORE and probe_id in top
            out[f"{mode}_ids"] = [h["id"] for h in hits]
        if "exact" in modes and "ivf" in modes:
            out["recall"] = len(set(out["exact_ids"]) & set(out["ivf_ids"])) / TOP_K
        return out

    # -- output checks (independent of the engine: pyarrow reads) -----

    def stored_ids(self) -> set[str]:
        data = pads.dataset(
            self.vec_path, format="parquet", partitioning="hive",
            ignore_prefixes=[".", "_"],
        )
        return set(data.to_table(columns=["id"])["id"].to_pylist())

    def stored_watermarks(self) -> dict[str, int]:
        t = pq.read_table(self.wm_path, columns=["table_name", "last_updated"])
        micros = t["last_updated"].cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()
        return dict(zip(t["table_name"].to_pylist(), micros))


def pick_probes(rng: np.random.Generator, ids: set[str], n: int) -> list[str]:
    pool = sorted(ids)
    return [pool[i] for i in rng.choice(len(pool), size=min(n, len(pool)), replace=False)]
