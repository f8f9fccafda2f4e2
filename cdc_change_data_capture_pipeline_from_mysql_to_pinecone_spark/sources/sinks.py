"""Keyed sinks: the Pinecone-upsert analogue on plain parquet.

The reference upserts ``{id, values, metadata}`` batches into a cosine
index (service_layer/service.py:151-166) and its watermark table via
``INSERT ... ON DUPLICATE KEY UPDATE`` (service.py:35-46). Without a
transactional table format in this environment, MERGE is expressed as
read + union + last-writer-wins max_by aggregate + atomic directory
swap —
correct for the engine's keyed vector tables, and the
``foreachBatch`` body a Structured Streaming sink uses for
exactly-once effect given deterministic ids (SURVEY §4 "exactly-once").
The CDC watermarks are not a table: one small JSON file per store
(:func:`read_watermarks` / :func:`commit_watermark`), the shape
Structured Streaming gives its offset and commit logs.

A keyed bucketed table keeps everything that is not row data in one
``<table>/_table.json`` (:func:`read_table_state` /
:func:`write_table_state`): bucket count, committed rows, canonical
schema, the store's version stamp, and the IVF centroids with their
rebuild-pending flag. Each write replaces the whole file by an atomic
rename, so every reader sees one committed state of all six fields.

At 100 TB the same call sites would target Delta/Iceberg MERGE — the
operator contract (keyed last-writer-wins) is format-independent.

Durability primitives (atomic file write, rename-aside swap, restore,
writer lock) live in :mod:`._commit`; its module docstring states the
SINGLE-WRITER and POSIX-rename-atomicity contract every function here
inherits. The merge functions themselves do not take the lock — the
caller owning the table (e.g. :class:`..sources.vector_store.
VectorStore`) serializes writers, because one logical commit often
spans several calls (version reservation + merge) that must be atomic
together.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._commit import atomic_write_file, restore_or_clean, swap_in


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
) -> None:
    """MERGE ``updates`` into the keyed parquet table at ``path``:
    highest ``version_col`` per key wins; replay-idempotent. O(table)
    per call — for small keyed tables only."""
    if os.path.exists(path):
        current = spark.read.parquet(path)
        merged = current.unionByName(updates)
    else:
        merged = updates
    # last-writer-wins via max_by: a partial-aggregating hash aggregate
    # (each key collapses map-side per partition, nothing sorts) instead
    # of a row_number window, which shuffles and sorts every row
    deduped = (
        merged.groupBy(*key_cols)
        .agg(F.max_by(F.struct(*merged.columns), F.col(version_col)).alias("__s"))
        .select("__s.*")
    )
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    deduped.write.mode("overwrite").parquet(tmp)
    swap_in(path, tmp)


def recover_table(path: str) -> str:
    """Repair a keyed table after a crash mid-swap. ``swap_in`` has
    one non-atomic window: after the live dir is renamed aside and
    before the new dir is renamed in. A crash there leaves the target
    missing with an ``_old-{name}-*`` aside holding the previous
    committed state. Handles both whole-table swaps (upsert_parquet)
    and per-partition swaps inside a bucketed table
    (upsert_parquet_partitioned). Returns the strongest action taken:
    'ok' (nothing to do), 'cleaned' (stale aside/tmp removed),
    'restored' (a committed state promoted back).

    Run at sink open (idempotent). The restored state is exactly the
    pre-upsert commit; the interrupted upsert replays from its source,
    and deterministic ids + last-writer-wins make the replay a no-op
    on already-written data.
    """
    parent, base = os.path.split(path.rstrip("/"))
    status = restore_or_clean(parent or ".", base)
    if os.path.isdir(path):
        # partitioned layout: recover each bucket partition, sweep
        # leftover hidden tmp dirs from interrupted partitioned writes
        rank = {"ok": 0, "cleaned": 1, "restored": 2}
        for d in os.listdir(path):
            if d.startswith("_old-"):
                part = d[len("_old-"):].rsplit("-", 1)[0]
                status = max(status, restore_or_clean(path, part), key=rank.get)
            elif d.startswith("_tmp-"):
                shutil.rmtree(os.path.join(path, d), ignore_errors=True)
                status = max(status, "cleaned", key=rank.get)
    return status


#: The CDC watermark file, beside a store's ``vectors`` table (not
#: inside it: a bucket regrow swaps that whole directory).
WATERMARKS = "watermarks.json"


def read_watermarks(store_dir: str) -> dict[str, dict]:
    """``{table: {"last_updated": text, "batch_rows": n}}`` from the
    store's watermark file ({} before the first commit). ``text`` is
    Spark's own string cast of ``max(change_col)`` in the session time
    zone, so it round-trips exactly as a scan literal. Lock-free: the
    file is only ever replaced by an atomic rename."""
    path = os.path.join(store_dir, WATERMARKS)
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def commit_watermark(store_dir: str, table: str, last_updated: str, batch_rows: int) -> None:
    """Record ``table``'s watermark unless a later one is stored — the
    max-wins rule out-of-order streaming micro-batches depend on
    (values compare as ISO dates/timestamps). Read-modify-write of the
    whole file: the caller holds the store's writer lock."""
    wms = read_watermarks(store_dir)
    held = wms.get(table)
    if held and datetime.fromisoformat(held["last_updated"]) > datetime.fromisoformat(last_updated):
        return
    wms[table] = {"last_updated": last_updated, "batch_rows": batch_rows}
    atomic_write_file(os.path.join(store_dir, WATERMARKS), json.dumps(wms, sort_keys=True))


#: Auto-sizing target: keys per bucket before the table doubles its
#: bucket count. ~1M rows/bucket keeps a 384-dim float vector bucket
#: around 1.5 GB — one comfortably-rewritable MERGE unit.
DEFAULT_BUCKET_ROWS = 1_000_000

#: The hive partition column of every keyed bucketed table.
BUCKET = "kbucket"

#: A keyed table's state file (underscore prefix: invisible to Spark's
#: file listing). Only :func:`read_table_state` and
#: :func:`write_table_state` know its format.
TABLE_STATE = "_table.json"

_EMPTY_STATE = {
    "buckets": 0, "rows": 0, "schema": None,
    "version": 0, "centroids": None, "pending": False,
}


def read_table_state(path: str) -> dict:
    """The keyed table's state: ``buckets`` (the key mapping's bucket
    count), ``rows`` (committed row count), ``schema`` (canonical row
    schema as JSON), ``version`` (the last reserved version stamp),
    ``centroids`` (the IVF quantizer, or None) and ``pending`` (a
    ``build_ivf`` re-stamp has not committed yet). An absent table
    reads as the empty state.

    ``buckets`` is load-bearing for the key mapping and ``schema`` once
    the schema has EVOLVED: buckets written before a column was added
    lack it in their footers, and a plain ``spark.read.parquet`` infers
    from one arbitrary footer. ``rows`` is advisory — it drives only
    the regrow decision and ``stats()``; a crash between a merge's
    bucket swaps and its final state write leaves it stale by one
    batch until the regrow's footer walk re-syncs it.

    A directory holding ``kbucket=*`` buckets but no state file was
    written before the state file existed: it raises, and replaying
    the source into a fresh store rebuilds it (no migration)."""
    try:
        with open(os.path.join(path, TABLE_STATE)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        if _bucket_ids(path):
            raise ValueError(
                f"{path} holds {BUCKET}=* buckets but no {TABLE_STATE}: it was "
                "written by an older layout; rebuild it by replaying its source "
                "into a fresh store"
            ) from None
        return dict(_EMPTY_STATE)


def write_table_state(path: str, state: dict) -> None:
    """Replace the whole state file atomically. Read-modify-write: the
    caller holds the table's writer lock."""
    atomic_write_file(os.path.join(path, TABLE_STATE), json.dumps(state))


def _pow2_at_least(n: int) -> int:
    p = 1
    while p < n:
        p *= 2
    return p


def _bucket_ids(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    return [
        int(d.split("=", 1)[1]) for d in os.listdir(path) if d.startswith(f"{BUCKET}=")
    ]


def read_keyed_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a keyed bucketed table under its canonical (possibly
    evolved) schema. The single sanctioned read path for tables
    maintained by upsert_parquet_partitioned/delete_keys."""
    schema = read_table_state(path)["schema"]
    if schema is not None:
        from pyspark.sql.types import StructType

        return spark.read.schema(StructType.fromJson(schema)).parquet(path)
    return spark.read.parquet(path)


def _footer_rows(path: str) -> int:
    """Total committed rows from parquet footers — pure metadata, no
    Spark job. O(files under path): per merge only the touched bucket
    directories are read; the whole table only at a regrow decision."""
    import pyarrow.parquet as pq

    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return total


def _write_buckets(
    rows: DataFrame, out: str, key_cols: list[str], cluster_cols: list[str] | None
) -> None:
    """ONE job writes ``rows`` (carrying ``kbucket``) as hive
    ``kbucket=N`` directories under ``out``, each bucket's files sorted
    by ``cluster_cols`` — the one write upsert, delete and regrow
    share, so all three keep the read-key clustering."""
    rows = rows.repartition(*[F.col(c) for c in key_cols])
    if cluster_cols:
        rows = rows.sortWithinPartitions(BUCKET, *cluster_cols)
    rows.write.mode("overwrite").partitionBy(BUCKET).parquet(out)


def _rewrite_buckets(
    path: str,
    rows: DataFrame,
    touched: list[int],
    key_cols: list[str],
    cluster_cols: list[str] | None,
) -> int:
    """Replace the ``touched`` buckets of the table at ``path`` with
    ``rows``, one rename swap per bucket; a touched bucket ``rows`` no
    longer fills is renamed aside and removed (never a bare rmtree on
    live data — a crash mid-rmtree would leave a half-deleted bucket
    recover_table cannot attribute). Returns the net row change, read
    from the touched buckets' footers only — O(batch), never O(table)."""
    tmp = os.path.join(path, f"_tmp-{uuid.uuid4().hex[:8]}")
    _write_buckets(rows, tmp, key_cols, cluster_cols)
    delta = 0
    for b in touched:
        live = os.path.join(path, f"{BUCKET}={b}")
        src = os.path.join(tmp, f"{BUCKET}={b}")
        if os.path.exists(live):
            delta -= _footer_rows(live)
        if os.path.exists(src):
            delta += _footer_rows(src)
            swap_in(live, src)
        elif os.path.exists(live):
            aside = os.path.join(path, f"_old-{BUCKET}={b}-{uuid.uuid4().hex[:8]}")
            os.rename(live, aside)
            shutil.rmtree(aside)
    shutil.rmtree(tmp, ignore_errors=True)
    return delta


def upsert_parquet_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
    num_buckets: int | None = None,
    target_bucket_rows: int = DEFAULT_BUCKET_ROWS,
    cluster_cols: list[str] | None = None,
) -> int:
    """MERGE ``updates`` into a hash-bucketed keyed parquet table,
    rewriting ONLY the bucket partitions the updates touch. Returns the
    number of partitions rewritten.

    NOTE for callers: ``updates`` is executed TWICE — once to discover
    the touched buckets, once for the partitioned write. A caller
    whose updates frame is an expensive DAG (e.g. the CDC sweep's
    scan -> serialize -> chunk pipeline) should persist it across the
    call (streaming.pipeline.sweep does; measured 2x there). Not done
    here unconditionally because for table-sized inputs (build_ivf's
    re-stamp) spilling a full copy can cost more than the recompute.

    ``cluster_cols``: secondary sort within each rewritten bucket
    (``sortWithinPartitions(bucket, *cluster_cols)`` before the write).
    Rows land cell-/key-clustered inside each bucket's files, so
    parquet row-group min/max stats on those columns are TIGHT and a
    pushed predicate (e.g. the IVF probe's ``_cell IN (...)``) skips
    row groups instead of decoding the whole bucket — the standard
    two-level layout (hash-partition by merge key, cluster by read
    key) a 100 TB table needs for both O(batch) writes and pruned
    reads. Costs one per-task sort of batch-sized data on the write
    path; no effect on results. A regrow this merge triggers keeps the
    same clustering.

    The plain ``upsert_parquet`` is O(table) per merge — fine for a
    small keyed table, wrong for a growing vectors table (the
    reference's Pinecone index, service_layer/service.py:151-166, is
    upsert-by-id: cost proportional to the batch, not the index). Here
    the table lives as ``path/kbucket=N/``; each key hashes to one
    bucket, so a micro-batch touching k buckets rewrites k partitions
    and leaves the rest byte-identical. At 100 TB the same call site
    targets Delta/Iceberg MERGE; the layout (hash-partitioned by key)
    is what makes that MERGE file-skipping-friendly too.

    Bucket sizing: the count is a property of the TABLE, not the call —
    it is recorded in the table state (:func:`read_table_state`) before
    the first bucket lands, and every later merge uses it (a
    conflicting explicit ``num_buckets`` raises: mixing counts would
    scatter keys across mismatched buckets). The state also carries the
    committed row count, maintained incrementally per merge so the
    regrow decision never lists the whole table. On creation the count
    is derived from the first batch (``rows / target_bucket_rows``,
    power of two, min 16) unless given explicitly; when the table
    outgrows ~2x ``target_bucket_rows`` per bucket, the merge finishes
    with a one-off re-bucketing rewrite that doubles the count —
    O(table), but only log2(growth) times over the table's life, the
    same amortization LSM/consistent-hash stores use. A fixed count
    would mean ~6 TB buckets at 100 TB, and every widely-spread
    micro-batch rewriting the whole table.
    """
    st = read_table_state(path)
    n = st["buckets"]
    if n and num_buckets is not None and num_buckets != n:
        raise ValueError(
            f"table at {path} is bucketed {n}-way; "
            f"num_buckets={num_buckets} would corrupt the key mapping"
        )
    if not n:
        n = num_buckets or max(16, _pow2_at_least(-(-updates.count() // target_bucket_rows)))
    keyed = updates.withColumn(BUCKET, F.pmod(F.hash(*key_cols), F.lit(n)).cast("int"))
    touched = sorted(r[0] for r in keyed.select(BUCKET).distinct().collect())
    if not touched:
        return 0
    if st["schema"] is not None:
        # partition pruning: only the touched bucket directories are
        # read — under the stored canonical schema, so buckets written
        # before a prior schema evolution surface their missing
        # columns as NULL instead of poisoning inference
        current = read_keyed_table(spark, path).filter(F.col(BUCKET).isin(touched))
        # SCHEMA EVOLUTION (the CDC reality the reference breaks on —
        # its cursor.description mapping dies on ALTER TABLE): columns
        # new in this batch append to the table schema (old rows read
        # NULL); columns absent from the batch stay (new rows hold
        # NULL — last-writer-wins is row-granular). Same-name
        # type conflicts fail loudly in unionByName.
        merged = current.unionByName(keyed, allowMissingColumns=True)
    else:
        merged = keyed
    # last-writer-wins via max_by: a partial-aggregating hash aggregate
    # (each key collapses map-side per partition, nothing sorts) instead
    # of a row_number window, which shuffles and sorts every row
    deduped = (
        merged.groupBy(*key_cols)
        .agg(F.max_by(F.struct(*merged.columns), F.col(version_col)).alias("__s"))
        .select("__s.*")
    )
    schema = deduped.schema.jsonValue()
    if (n, schema) != (st["buckets"], st["schema"]):
        # the bucket count and schema the new buckets are written under
        # are durable before the first swap: a merge that crashes
        # mid-swap leaves its successor hashing keys the same way
        st.update(buckets=n, schema=schema)
        write_table_state(path, st)
    st["rows"] += _rewrite_buckets(path, deduped, touched, key_cols, cluster_cols)
    write_table_state(path, st)
    _maybe_grow_buckets(spark, path, st, key_cols, target_bucket_rows, cluster_cols)
    return len(touched)


def _maybe_grow_buckets(
    spark: SparkSession,
    path: str,
    st: dict,
    key_cols: list[str],
    target_bucket_rows: int,
    cluster_cols: list[str] | None,
) -> None:
    """Double (or more) the bucket count once the table averages past
    2x ``target_bucket_rows`` per bucket. One O(table) re-bucketing
    rewrite, amortized log2(growth) times over the table's life; the
    decision itself reads the row count the merge just committed to
    the state — no listing, no Spark job on the steady path."""
    n = st["buckets"]
    if st["rows"] <= 2 * target_bucket_rows * n:
        return
    # The state's count is advisory. Before paying an O(table) rewrite,
    # confirm with the authoritative footer walk — rare (only at
    # threshold crossings) and cheap relative to the rewrite it gates;
    # also re-syncs any accumulated drift.
    st["rows"] = _footer_rows(path)
    write_table_state(path, st)
    if st["rows"] <= 2 * target_bucket_rows * n:
        return
    n2 = max(n * 2, _pow2_at_least(-(-st["rows"] // target_bucket_rows)))
    rebucketed = (
        read_keyed_table(spark, path)
        .drop(BUCKET)
        .withColumn(BUCKET, F.pmod(F.hash(*key_cols), F.lit(n2)).cast("int"))
    )
    tmp = f"{path}.regrow-{uuid.uuid4().hex[:8]}"
    _write_buckets(rebucketed, tmp, key_cols, cluster_cols)
    for name in os.listdir(tmp):
        if os.path.isfile(os.path.join(tmp, name)):
            os.remove(os.path.join(tmp, name))  # the job's _SUCCESS marker
    write_table_state(tmp, {**st, "buckets": n2})
    # the swap replaces the whole directory: hard-link the namespace
    # tables and their lockfiles into the replacement first — no data
    # copied, live table untouched
    for name in os.listdir(path):
        if name.startswith("_ns-"):
            src, dst = os.path.join(path, name), os.path.join(tmp, name)
            if os.path.isdir(src):
                shutil.copytree(src, dst, copy_function=os.link)
            else:
                os.link(src, dst)
    swap_in(path, tmp)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned parquet layout (``path/col=value/...``):
    the directory structure IS the coarsest index — any filter on a
    partition column becomes partition *pruning* at plan time (the scan
    never opens excluded directories), which at 100 TB is the
    difference between touching one day and touching three years.

    Partition columns should be low-cardinality derivations (date,
    region, source table); high-cardinality keys belong in bucketing
    (``write_bucketed``) instead, or the layout degenerates into the
    small-files problem (see ``compact_parquet``).
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compact a parquet directory's small files into ~target-size
    files and atomically swap the result in. Returns the output file
    count.

    Streaming sinks and per-batch upserts accrete many small files
    (every micro-batch ≥1 file per partition); scans then pay per-file
    open/footer costs and lose row-group locality. Periodic compaction
    is how long-running ingest (the reference's 300 s poll loop,
    controller.py:35, run for months) stays scannable. Sizing uses the
    directory's actual bytes, not a guessed partition count.
    """
    size = 0
    for root, _dirs, files in os.walk(path):
        size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    n_out = max(1, -(-size // target_file_bytes))  # ceil
    df = spark.read.parquet(path)
    part_cols = _hive_partition_cols(path)
    tmp = f"{path}__compact_{uuid.uuid4().hex[:8]}"
    writer = df.repartition(n_out, *part_cols) if part_cols else df.repartition(n_out)
    w = writer.write.mode("overwrite")
    if part_cols:
        # Re-apply the hive layout: a flat rewrite would fold partition
        # columns into data columns and destroy plan-time pruning.
        w = w.partitionBy(*part_cols)
    w.parquet(tmp)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_out


def _hive_partition_cols(path: str) -> list[str]:
    """Detect hive-style ``col=value`` partition directories under
    ``path`` and return the partition column chain (outermost first)."""
    cols: list[str] = []
    cur = path
    while True:
        subs = [
            d
            for d in os.listdir(cur)
            if os.path.isdir(os.path.join(cur, d)) and "=" in d
        ]
        if not subs:
            return cols
        cols.append(subs[0].split("=", 1)[0])
        cur = os.path.join(cur, subs[0])


def delete_keys(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_cols: list[str],
    cluster_cols: list[str] | None = None,
) -> int:
    """DELETE keys from a hash-bucketed keyed table — the missing verb
    of upsert-by-id stores (the reference's index never deletes;
    SURVEY §2.9): same touched-buckets discipline as
    upsert_parquet_partitioned — only the bucket partitions holding
    deleted keys are read (partition pruning), anti-joined, and
    atomically swapped; untouched buckets stay byte-identical and the
    state's committed row count is maintained incrementally. Returns
    the number of bucket partitions rewritten. No-op on an absent
    table or empty key set.

    Keys hash under the state's bucket count. A fully-emptied bucket is
    renamed aside before removal: a crash in the window leaves the
    aside for recover_table, which restores the pre-delete state —
    re-running the delete then converges (idempotent). The row count
    is written AFTER all bucket swaps, so a crash mid-sequence leaves
    it stale (over-reporting) until the delete is re-run — advisory by
    contract, see :func:`read_table_state`."""
    recover_table(path)
    st = read_table_state(path)
    present = set(_bucket_ids(path))
    if not present:
        return 0
    keyed = keys.select(*key_cols).distinct().withColumn(
        BUCKET, F.pmod(F.hash(*key_cols), F.lit(st["buckets"])).cast("int")
    )
    touched = sorted(
        r[0] for r in keyed.select(BUCKET).distinct().collect() if r[0] in present
    )
    if not touched:
        return 0
    current = read_keyed_table(spark, path).filter(F.col(BUCKET).isin(touched))
    remaining = current.join(
        F.broadcast(keyed.select(*key_cols)), key_cols, "left_anti"
    )
    st["rows"] += _rewrite_buckets(path, remaining, touched, key_cols, cluster_cols)
    write_table_state(path, st)
    return len(touched)
