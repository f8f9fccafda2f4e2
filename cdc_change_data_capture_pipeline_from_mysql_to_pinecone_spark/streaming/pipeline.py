"""The reference's CDC sweep as Spark pipelines.

Reference entry point 2 (controller/controller.py:17-35): every 300 s,
for each table — read rows past the stored watermark, serialize to
JSON, chunk by 100, embed, upsert vectors, advance the watermark.
Delivery is at-least-once and replays are NOT idempotent (fresh uuid4
chunk ids, service_layer/service.py:126,140 — SURVEY §2.9 T3).

Here the same dataflow is:

- ``cdc_tick``  — one micro-batch as a pure DataFrame DAG with
  deterministic chunk ids, so replays are idempotent (exactly-once
  effect on the sink given last-writer-wins upsert);
- ``commit_tick`` — the ONE commit path: the tick's ``id``/``values``/
  ``metadata`` rows go through ``sources.vector_store.VectorStore.
  upsert`` (keyed, last-call-wins), then the table's watermark is
  written to the store's ``watermarks.json`` under the same store
  lock. Idempotent sink + deterministic ids + a replayable source is
  the Structured Streaming exactly-once recipe;
- ``sweep`` — the poll loop as batch ticks over every tracked table
  (≙ the reference's hand-rolled watermark table, service.py:21-46);
- ``run_multi_table_streaming`` — the poll loop as Structured
  Streaming: one file-source query per table, ``foreachBatch`` into
  ``commit_tick``, processing-time trigger (≙ ``time.sleep(300)``,
  controller.py:35); offsets live in the query's checkpoint. Both
  modes write the same store, so they are interchangeable;
- ``embed_text`` — the embedding UDF (≙ utils/embeddings_utils.py:3-8,
  ``model.encode`` on a batch of texts). Arrow-batched pandas_udf:
  the model loads once per executor process (reference re-wraps it per
  10-doc call, service.py:148,151). sentence-transformers is not in
  this container, so the default kernel is a deterministic hashing
  featurizer with the same shape/contract (384-dim unit vector); the
  real model plugs in behind the same function when importable.
"""

from __future__ import annotations

import logging
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import cdc
from ..sources._commit import table_lock
from ..sources.sinks import commit_watermark, read_watermarks, recover_table
from ..sources.tables import _nanos_ts_columns, load_table
from ..sources.vector_store import VectorStore

EMBED_DIM = 384  # ≙ service_layer/service.py:90, utils/config.py:11

_MODEL = None  # per-executor lazy singleton


def _load_model():
    """Try the real sentence-transformer; fall back to None (hashing
    featurizer). Import-gated: the container has no model libs."""
    global _MODEL
    if _MODEL is None:
        try:  # pragma: no cover - not installed in test env
            from sentence_transformers import SentenceTransformer

            _MODEL = SentenceTransformer("all-MiniLM-L6-v2")
        except Exception:
            _MODEL = False
    return _MODEL


def _hash_featurize(texts: list[str]) -> np.ndarray:
    """Deterministic 384-dim unit-vector featurizer (model-free
    fallback): each token's 60-bit md5 prefix subtracts 1 from
    component ``h % 384``, then rows are L2-normalized. Preserves the
    contract cos(v,v)=1, dim=384, batch-vectorized."""
    import hashlib

    out = np.zeros((len(texts), EMBED_DIM), dtype=np.float64)
    for i, t in enumerate(texts):
        for tok in (t or "").split():
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            out[i, h % EMBED_DIM] -= 1.0
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return out / norms


@F.pandas_udf(T.ArrayType(T.FloatType()))
def embed_text(texts: pd.Series) -> pd.Series:
    """Batch text-embedding UDF (≙ U1). Arrow batches replace the
    reference's manual batch_size=10 loop (service.py:151-157)."""
    model = _load_model()
    if model:
        vecs = model.encode(texts.tolist())  # pragma: no cover
    else:
        vecs = _hash_featurize(texts.tolist())
    return pd.Series([v.tolist() for v in np.asarray(vecs, dtype=np.float32)])


def cdc_tick(
    df: DataFrame,
    *,
    source: str,
    change_col: str,
    order_col: str,
    watermark,
    chunk_size: int = cdc.CHUNK_SIZE,
    with_embeddings: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """One CDC micro-batch: returns (vector-sink rows, new watermark).

    DAG: incremental scan (S4) -> canonical JSON (P6) -> chunk (W1/A2)
    -> [embed (U1)] -> sink rows keyed by deterministic chunk id.
    The watermark DF carries max(change_col), as a value and as Spark's
    string cast (``last_updated_text``), for the commit (S6).
    """
    delta = cdc.incremental_scan(df, change_col, watermark)
    serialized = cdc.serialize_rows(delta)
    # numeric order keys get range-bucketed chunking so the row_number
    # window never sorts the whole delta on one task (a 100 TB initial
    # load is 'one delta'); non-numeric keys keep the bounded
    # micro-batch global window
    numeric = dict(df.dtypes).get(order_col) in (
        "tinyint", "smallint", "int", "bigint", "float", "double",
    )
    chunks = cdc.chunk_documents(
        serialized,
        order_col,
        "data_string",
        source,
        chunk_size,
        bucket_width=chunk_size * 1000 if numeric else None,
    )
    if with_embeddings:
        chunks = chunks.withColumn("values", embed_text(F.col("document")))
    sink_rows = chunks.select(
        F.col("chunk_id").alias("id"),
        *(["values"] if with_embeddings else []),
        cdc.metadata_struct(source, F.col("chunk_id"), F.col("document")).alias("metadata"),
    )
    new_wm = cdc.next_watermark(delta, change_col).withColumn("table_name", F.lit(source))
    return sink_rows, new_wm


def commit_tick(
    spark: SparkSession,
    store: VectorStore,
    table: str,
    sink_rows: DataFrame,
    wm_row: Row,
) -> int:
    """Commit one CDC tick — the ONE commit path :func:`sweep` and
    :func:`run_multi_table_streaming` share. Returns rows committed.

    ``sink_rows`` (``id``, ``values``, ``metadata``, as ``cdc_tick``
    emits them) go through ``store.upsert`` (keyed MERGE, last call
    wins, serialized by the store's writer lock); then ``wm_row``'s
    ``last_updated_text`` and ``batch_rows`` land in
    ``watermarks.json`` beside the store (``sinks.commit_watermark``:
    one atomic file replace, a later stored watermark wins) under the
    same lock, taken again rather than nested — ``flock`` is per open
    file, so nesting would deadlock. One lock, an ``flock``, so
    concurrent tables (threads or streaming queries) need no
    in-process lock. An idle tick (0 rows) touches nothing.

    Vectors first, watermark second: a crash between the two replays
    the delta next tick, and deterministic chunk ids make the replay
    rewrite identical rows (the reference would duplicate them,
    SURVEY §2.9 T3)."""
    n = wm_row["batch_rows"]
    if n == 0:
        return 0
    store.upsert(sink_rows)
    with table_lock(store.path):
        commit_watermark(os.path.dirname(store.path), table, wm_row["last_updated_text"], n)
    return n


def sweep(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    tables: dict[str, tuple[str, str]],
    *,
    max_parallel_tables: int = 1,
    on_error: str = "raise",
) -> dict[str, int]:
    """One full CDC sweep — the reference's scheduler tick end-to-end
    (controller.py:17-35): for each tracked table, read its stored
    watermark, run ``cdc_tick`` (serialize -> chunk -> embed) over the
    delta, and :func:`commit_tick` the result. Returns
    {table: rows_processed}.

    ``tables`` maps table name -> (change_col, order_col). State lives
    under ``store_dir``: a ``VectorStore`` at ``vectors`` (chunk id ->
    384-dim ``values`` + ``metadata`` {source, id, text}, queryable
    with ``VectorStore.query``) and ``watermarks.json``
    (``sinks.read_watermarks``). Deterministic chunk ids make the
    whole sweep replay-idempotent — a crash after the vector upsert
    but before the watermark commit reprocesses the delta into
    identical rows.

    ``max_parallel_tables`` > 1 processes tables concurrently (the
    reference loops serially, controller.py:25-27): each table's
    read+serialize+chunk+embed DAG runs as parallel Spark jobs from a
    thread pool; the commits serialize on the store's one writer
    lock.

    ``on_error='continue'`` reproduces the reference's per-tick fault
    isolation (errors logged, tick abandoned for that table only,
    controller.py:28-29 / service.py:78-80): a failing table maps to
    -1 in the result, its watermark is NOT advanced (so the next sweep
    retries exactly the same delta), and every other table completes.
    Default 'raise' fails fast — right for tests and batch jobs.
    """
    store = VectorStore(spark, os.path.join(store_dir, "vectors"), EMBED_DIM)
    wm = read_watermarks(store_dir)

    def tick(table: str) -> int:
        change_col, order_col = tables[table]
        sink_rows, new_wm = cdc_tick(
            load_table(spark, sf_dir, table),
            source=table,
            change_col=change_col,
            order_col=order_col,
            watermark=wm.get(table, {}).get("last_updated", "1970-01-01"),
            with_embeddings=True,
        )
        return commit_tick(spark, store, table, sink_rows, new_wm.collect()[0])

    def guarded(table: str) -> int:
        try:
            return tick(table)
        except Exception as exc:
            if on_error != "continue":
                raise
            logging.getLogger(__name__).warning(
                "sweep: table %s failed, watermark not advanced: %s", table, exc
            )
            return -1

    if max_parallel_tables > 1:
        with ThreadPoolExecutor(max_workers=max_parallel_tables) as pool:
            return dict(zip(tables, pool.map(guarded, tables)))
    return {table: guarded(table) for table in tables}


def run_multi_table_streaming(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    tables: dict[str, tuple[str, str]],
    *,
    trigger_seconds: int = 300,
    available_now: bool = True,
    await_seconds: int = 120,
    block: bool = True,
    max_files_per_trigger: int | None = None,
) -> list:
    """Streaming-native multi-table composition — parity with the
    reference's tick loop over every tracked table
    (controller/controller.py:25-27), minus its head-of-line blocking:
    ONE streaming query PER TABLE, each with its own checkpoint, so
    each table's offsets (and therefore its committed watermark)
    advance independently — a backlogged table never delays another's
    freshness, and Spark schedules the per-table micro-batches
    concurrently on the shared executors.

    Every micro-batch runs the same ``cdc_tick`` DAG the batch ``sweep``
    uses and commits through the same :func:`commit_tick` into the
    same store, so batch and streaming modes are interchangeable over
    one store. File source: ``<table>*.parquet`` under ``sf_dir``
    (FileStreamSource needs a directory basePath); parquet
    TIMESTAMP(NANOS) columns are read as raw int64 and converted per
    batch (Spark 4 rejects the physical type; see sources.tables).

    ``available_now=False`` runs the reference's operating mode: a
    processing-time trigger firing every ``trigger_seconds``.
    ``block=False`` returns the started queries immediately — callers
    (tests, service managers) poll the store and stop them.
    """
    store = VectorStore(spark, os.path.join(store_dir, "vectors"), EMBED_DIM)
    # keep tz-naive parquet timestamps as TimestampType (see sources.tables)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

    def make_process(table: str, change_col: str, order_col: str, ns_cols: list[str]):
        def process(batch_df: DataFrame, epoch_id: int) -> None:
            for c in ns_cols:
                batch_df = batch_df.withColumn(
                    c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
                )
            # the micro-batch IS the delta (offsets track progress), so
            # the tick runs with the epoch-min watermark
            sink_rows, new_wm = cdc_tick(
                batch_df,
                source=table,
                change_col=change_col,
                order_col=order_col,
                watermark="1970-01-01",
                with_embeddings=True,
            )
            commit_tick(spark, store, table, sink_rows, new_wm.collect()[0])

        return process

    queries = []
    for table, (change_col, order_col) in tables.items():
        path = os.path.join(sf_dir, f"{table}.parquet")
        ns_cols = _nanos_ts_columns(path)
        if ns_cols:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = spark.read.parquet(path).schema
        reader = spark.readStream.schema(schema).option(
            "pathGlobFilter", f"{table}*.parquet"
        )
        if max_files_per_trigger is not None:
            # bound each micro-batch's file intake — the backlog-catchup
            # throttle (and the deterministic multi-batch driver for the
            # throughput measurement, PERFORMANCE.md r5)
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        stream = reader.parquet(sf_dir)
        writer = (
            stream.writeStream.foreachBatch(
                make_process(table, change_col, order_col, ns_cols)
            )
            .option("checkpointLocation", os.path.join(store_dir, f"_checkpoint-{table}"))
        )
        if available_now:
            q = writer.trigger(availableNow=True).start()
        else:
            q = writer.trigger(processingTime=f"{trigger_seconds} seconds").start()
        queries.append(q)
    if not block:
        return queries
    try:
        for q in queries:
            q.awaitTermination(await_seconds)
    finally:
        for q in queries:
            if q.isActive:
                q.stop()
    return queries


def sweep_rollup(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    table: str,
    change_col: str,
    keys: list[str],
    measures: dict[str, str],
) -> int:
    """Maintain a STORED rollup from watermark deltas — the CDC payoff
    end-to-end (the reference's tick protocol composed with
    operators.incremental): read the rollup's watermark, aggregate
    ONLY the delta (delta_rollup), merge partial states into the
    stored rollup (merge_rollups — state-sized, base data never
    re-read), and commit. Returns delta rows processed (0 = idle tick,
    store untouched).

    EXACTLY-ONCE under crashes, unlike a naive two-commit design: the
    watermark lives INSIDE the rollup directory (an ``_watermark``
    marker, invisible to Spark's listing), and both are swapped in by
    ONE atomic rename — so a crash anywhere leaves either (old state,
    old watermark) or (new state, new watermark), never the mixed
    state that double-merges a replayed delta (merge_rollups is not
    replay-idempotent: sums would double). A crash inside the rename
    window itself is repaired by recover_table at the next tick."""
    from ..operators.incremental import delta_rollup, merge_rollups

    return _run_sweep(
        spark,
        load_table(spark, sf_dir, table),
        os.path.join(store_dir, f"rollup_{table}"),
        change_col,
        lambda d: delta_rollup(d, keys, measures),
        lambda s, u: merge_rollups(s, u, keys, measures),
    )


def _run_sweep(spark, source_df, state_path, change_col, delta_fn, merge_fn) -> int:
    """The ONE exactly-once sweep scaffold every maintained-state
    family shares (algebraic, changelog, heavy-hitters — review fix:
    three near-verbatim copies meant protocol fixes like the
    string-vs-bigint LSN cast had to be re-applied per copy): recover
    a half-swapped state dir, read the in-state watermark, filter the
    source to rows strictly past it with the marker CAST TO THE
    COLUMN'S OWN TYPE (a string-vs-bigint compare coerces to DOUBLE
    and collapses adjacent LSNs above 2^53), early-out on an idle
    tick, fold the delta with ``delta_fn``, merge into stored state
    with ``merge_fn``, and commit state + watermark in ONE atomic
    rename (_commit_rollup)."""
    recover_table(state_path)
    wm_marker = os.path.join(state_path, "_watermark")
    watermark = None
    if os.path.exists(wm_marker):
        with open(wm_marker) as fh:
            watermark = fh.read().strip()

    if watermark is None:
        delta = source_df
    else:
        wm_typed = F.lit(watermark).cast(source_df.schema[change_col].dataType)
        delta = source_df.filter(F.col(change_col) > wm_typed)
    wm_row = cdc.next_watermark(delta, change_col).collect()[0]
    if wm_row["batch_rows"] == 0:
        return 0

    update = delta_fn(delta)
    if os.path.isdir(state_path):
        new_state = merge_fn(spark.read.parquet(state_path), update)
    else:
        new_state = update
    _commit_rollup(state_path, new_state, wm_row["last_updated_text"])
    return wm_row["batch_rows"]


def _commit_rollup(rollup_path: str, new_state, watermark: str) -> None:
    """Write state + ``_watermark`` marker to a tmp dir and swap both
    in with ONE atomic rename (the exactly-once pivot both rollup
    sweeps share). ``watermark`` is Spark's string cast of the max, so
    it reads back exactly under any host time zone."""
    import uuid as _uuid

    from ..sources._commit import swap_in

    tmp = f"{rollup_path}.tmp-{_uuid.uuid4().hex[:8]}"
    new_state.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_watermark"), "w") as fh:
        fh.write(watermark)
    swap_in(rollup_path, tmp)


def sweep_changelog_rollup(
    spark: SparkSession,
    log_path: str,
    store_dir: str,
    name: str,
    change_col: str,
    keys: list[str],
    measures: dict[str, str],
    op_col: str = "op",
) -> int:
    """Maintain a stored rollup from a CDC CHANGELOG (I/U/D rows with
    before/after images) — :func:`sweep_rollup` for sources that
    delete and update, not just append. Each tick reads only changelog
    rows past the stored watermark, folds them to net multiplicities
    (operators.incremental.changelog_delta_rollup: insert (+1,+after),
    delete (-1,-before), update (0, after-before)), merges into the
    state, and commits state + watermark in one atomic rename — the
    same exactly-once protocol as sweep_rollup, which matters MORE
    here: a replayed delete would drive counts negative, not just
    double a sum.

    ``log_path`` is a parquet changelog directory (the shape a
    Debezium topic lands as, or a Delta/Iceberg CDF read); rows need
    ``op_col`` in {'I','U','D'}, ``before_<col>``/``after_<col>``
    images for each measure, and a monotonically increasing
    ``change_col`` (LSN / commit ts). Returns changelog rows folded
    (0 = idle tick, store untouched)."""
    from ..operators.incremental import changelog_delta_rollup, merge_rollups

    return _run_sweep(
        spark,
        spark.read.parquet(log_path),
        os.path.join(store_dir, f"rollup_{name}"),
        change_col,
        lambda d: changelog_delta_rollup(d, keys, measures, op_col=op_col),
        lambda s, u: merge_rollups(s, u, keys, measures),
    )


def sweep_topk_rollup(
    spark: SparkSession,
    src_path: str,
    store_dir: str,
    name: str,
    change_col: str,
    keys: list[str],
    item_col: str,
    k: int = 3,
) -> int:
    """Maintain per-key-group HEAVY-HITTERS summaries from watermark
    deltas — the Misra-Gries member of the sweep family (sweep_rollup
    = algebraic, sweep_changelog_rollup = retractable,
    sweep_distinct via HLL sketches, this = frequent items): each
    tick reads only rows past the stored watermark, reduces them to a
    k-counter summary (operators.incremental.delta_topk_rollup),
    merges by count-add + deterministic re-reduction, and commits
    state + watermark in ONE atomic rename — the shared exactly-once
    pivot, which here prevents a replayed tick from inflating the
    lower-bound counts above the true frequencies (the one MG
    guarantee a correct pipeline must keep). State is <= k rows per
    key group forever; returns delta rows folded (0 = idle tick)."""
    from ..operators.incremental import delta_topk_rollup, merge_topk_rollups

    return _run_sweep(
        spark,
        spark.read.parquet(src_path),
        os.path.join(store_dir, f"topk_{name}"),
        change_col,
        lambda d: delta_topk_rollup(d, keys, item_col, k=k),
        lambda s, u: merge_topk_rollups(s, u, keys, item_col, k=k),
    )


def sweep_ivf_assign(
    spark: SparkSession,
    src_path: str,
    store_dir: str,
    name: str,
    change_col: str,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
) -> int:
    """Maintain a stored IVF cell-assignment map from watermark deltas
    — the ANN-index member of the sweep family (VERDICT r6 task 6):
    each tick quantizes ONLY vectors past the stored watermark against
    the fixed centroid set (operators.incremental.delta_ivf_assign),
    merges per-id last-writer-wins on ``change_col``
    (merge_ivf_assignments), and commits state + watermark in the ONE
    atomic rename every sweep shares. A CDC tick thus keeps the
    (cell -> vectors) probe map an IVF search filters on current
    without re-quantizing or re-bucketing the corpus — the maintained
    form of the reference's per-sweep index.upsert loop
    (service.py:151-166). Centroid retraining is an offline REBUILD
    (delete the state dir, re-run), never a tick.

    Returns delta rows assigned (0 = idle tick, store untouched)."""
    from ..operators.incremental import delta_ivf_assign, merge_ivf_assignments

    return _run_sweep(
        spark,
        spark.read.parquet(src_path),
        os.path.join(store_dir, f"ivf_{name}"),
        change_col,
        lambda d: delta_ivf_assign(d, id_col, vec_col, centroids, change_col),
        lambda s, u: merge_ivf_assignments(s, u, id_col, change_col),
    )


def stateful_funnel(
    stream: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    max_gap_seconds: int | None = None,
):
    """The streaming cousin of relational.sequence_funnel: the
    greedy-first funnel automaton as a custom STATEFUL operator
    (applyInPandasWithState, T6). Per-user state = the chain
    timestamps bound so far (micros; NULL = unbound); each micro-batch
    sorts its events by event time and advances the automaton — an
    event binds iff it matches the first unbound step and falls
    strictly after (and within ``max_gap_seconds`` of) the previous
    binding. Emits the user's current chain row each update.

    Parity contract (tested): when each user's events arrive in
    event-time order across micro-batches, the final state equals the
    batch sequence_funnel exactly — and the chain completes across
    batch boundaries (signup in one file, purchase three files later),
    which is the point of keeping state at all. Out-of-order arrivals
    degrade exactly like every greedy streaming consumer: an event
    older than the automaton's cursor cannot un-bind a step (use the
    batch operator over a corrected replay for that)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    k = len(steps)
    gap_us = max_gap_seconds * 1_000_000 if max_gap_seconds is not None else None
    key_type = stream.schema[user_col].dataType  # generic over key type
    out_fields = [T.StructField(user_col, key_type)] + [
        T.StructField(f"t{j + 1}_us", T.LongType()) for j in range(k)
    ]
    out_schema = T.StructType(out_fields)
    state_schema = T.StructType(
        [T.StructField(f"t{j + 1}", T.LongType()) for j in range(k)]
    )

    def advance(key, pdfs, state):
        bound = list(state.get) if state.exists else [None] * k
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(ts_col)
        for ts, typ in zip(batch[ts_col], batch[type_col]):
            if pd.isna(ts):
                # NULL event time: unusable for ordering/gap math —
                # skip, matching the batch operator (whose min/compare
                # semantics drop NULLs); binding NaT would poison the
                # chain with -2^63 micros forever
                continue
            i = next((j for j in range(k) if bound[j] is None), None)
            if i is None:
                break
            if typ != steps[i]:
                continue
            us = int(pd.Timestamp(ts).value // 1000)
            if i == 0:
                bound[0] = us
            else:
                prev = bound[i - 1]
                if prev is not None and us > prev and (
                    gap_us is None or us <= prev + gap_us
                ):
                    bound[i] = us
        state.update(tuple(bound))
        yield pd.DataFrame(
            {user_col: [key[0]], **{f"t{j + 1}_us": [bound[j]] for j in range(k)}}
        )

    return stream.groupBy(user_col).applyInPandasWithState(
        advance, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
