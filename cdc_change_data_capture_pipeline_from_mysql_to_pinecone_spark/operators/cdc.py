"""CDC operators — the reference's core dataflow as DataFrame ops.

Reference behavior re-expressed (file:line into /root/reference):

- incremental scan with watermark predicate  service_layer/service.py:52-57
- watermark read / last-writer-wins upsert   service.py:21-46
- new-watermark computation (max change ts)  service.py:73-74
- row -> JSON serialization                  service.py:115-117,176-182
- fixed-size chunk assembly (100 rows/doc)   service.py:109-145
- upsert-by-id current-snapshot semantics    service.py:41,166

Scale notes: the incremental scan is a pushed-down range predicate on
the change column (partition/row-group pruning at the source); the
chunking window partitions by source table so each table's row_number
sort is independent; snapshot/upsert are windowed dedups that shuffle
once on the key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.serialize import canonical_json

CHUNK_SIZE = 100  # rows per document, ≙ service.py:109


def incremental_scan(df: DataFrame, change_col: str, watermark) -> DataFrame:
    """Rows changed since ``watermark`` (strict ``>``, ≙ service.py:53).

    The predicate is declared on the DataFrame; Catalyst pushes it into
    the source (parquet min/max row-group skipping; JDBC WHERE-clause
    pushdown) — the hand-inlined SQL of the reference, for free.
    """
    return df.filter(F.col(change_col) > F.lit(watermark))


def rescan_with_tolerance(df: DataFrame, change_col: str, watermark, tolerance_minutes: int) -> DataFrame:
    """Late-data-tolerant incremental scan: rows past ``watermark``
    minus a tolerance window. The reference's strict ``>`` predicate
    (service.py:53) silently drops rows whose change timestamp lands
    at-or-before the stored watermark (clock skew, late upserts —
    SURVEY §2.9 T4); re-scanning a bounded tail plus idempotent sink
    ids makes late data safe without reprocessing history."""
    adjusted = F.lit(watermark).cast("timestamp") - F.expr(f"INTERVAL {tolerance_minutes} MINUTES")
    return df.filter(F.col(change_col) > adjusted)


def next_watermark(df: DataFrame, change_col: str) -> DataFrame:
    """New high-watermark = max(change_col) of the processed batch
    (≙ service.py:73), plus the batch size for commit bookkeeping.
    ``last_updated_text`` is the same max as Spark's own string cast
    (session time zone): the form a commit persists, because a scan
    literal parses it back exactly, while a collected datetime is
    rendered in the Python host's local time zone."""
    return df.agg(
        F.max(change_col).alias("last_updated"),
        F.count(F.lit(1)).alias("batch_rows"),
        F.max(change_col).cast("string").alias("last_updated_text"),
    )


def watermark_lookup(wm_df: DataFrame, table_name: str) -> DataFrame:
    """Point lookup of a table's stored offset (≙ service.py:21-33)."""
    return wm_df.filter(F.col("table_name") == table_name).select("last_updated")


def watermark_upsert(wm_df: DataFrame, updates: DataFrame) -> DataFrame:
    """Keyed last-writer-wins upsert of (table_name, last_updated,
    version) rows — MERGE semantics of the reference's ``INSERT ... ON
    DUPLICATE KEY UPDATE`` (service.py:38-42) without requiring Delta:
    union old+new, keep the highest-version row per key via one window.
    """
    unioned = wm_df.unionByName(updates)
    w = Window.partitionBy("table_name").orderBy(F.col("version").desc())
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def serialize_rows(df: DataFrame, columns: list[str] | None = None, out_col: str = "data_string") -> DataFrame:
    """Append the canonical JSON rendering of each row
    (≙ service.py:115-117 with coercions :176-182)."""
    return df.withColumn(out_col, canonical_json(df, columns))


def chunk_documents(
    df: DataFrame,
    order_col: str,
    text_col: str,
    source: str,
    chunk_size: int = CHUNK_SIZE,
    bucket_col: str | None = None,
    bucket_width: int | None = None,
) -> DataFrame:
    """Assemble fixed-size documents: every ``chunk_size`` consecutive
    rows (ordered by ``order_col``) concatenated with a single space
    (≙ service.py:109-145: boundary :124, concat :127,141, tail flush
    :138-145).

    Refinements over the reference, documented in SURVEY §7:
    - deterministic order (the reference inherits unspecified cursor
      order) — rows are sorted by ``order_col`` inside the chunk;
    - deterministic chunk id ``source#first_key`` (min order key in
      the chunk) instead of uuid4 (service.py:126,140): replays are
      idempotent (the reference's replays duplicate vectors, SURVEY
      §2.9 T3) and ids never collide across incremental ticks.

    Scale form: pass ``bucket_col`` (a coarse deterministic derivation
    of the order key — date bucket, key range, source partition) and
    the row_number window partitions by it, so no executor ever sorts
    more than one bucket (chunks then never span buckets; chunk id
    becomes ``source#bucket#first_key``). ``bucket_width`` derives the
    bucket internally as ``floor(order_col / width)`` for numeric order
    keys. Without either, the window is global — exact reference
    parity, but a single-partition sort: only for bounded micro-batch
    deltas, never a full 100 TB table.

    Ordering ties on ``order_col`` are broken by ``text_col`` so chunk
    membership and ids are deterministic even under duplicate order
    keys (replay-idempotency requires it).
    """
    if bucket_width is not None and bucket_col is None:
        df = df.withColumn("_kb", F.floor(F.col(order_col) / bucket_width).cast("long"))
        bucket_col = "_kb"
    order = [F.col(order_col).asc(), F.col(text_col).asc()]
    if bucket_col is not None:
        w = Window.partitionBy(bucket_col).orderBy(*order)
        group_cols = [bucket_col, "chunk_no"]
        id_parts = [F.lit(source), F.col(bucket_col).cast("string"), F.col("first_key").cast("string")]
    else:
        w = Window.orderBy(*order)
        group_cols = ["chunk_no"]
        id_parts = [F.lit(source), F.col("first_key").cast("string")]
    chunked = (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("chunk_no", F.floor((F.col("_rn") - 1) / chunk_size))
    )
    return (
        chunked.groupBy(*group_cols)
        .agg(
            F.concat_ws(
                " ",
                F.array_sort(
                    F.collect_list(F.struct(F.col("_rn").alias("k"), F.col(text_col).alias("v")))
                ).getField("v"),
            ).alias("document"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min(order_col).alias("first_key"),
            F.max(order_col).alias("last_key"),
        )
        .withColumn("chunk_id", F.concat_ws("#", *id_parts))
        .drop("_kb")  # internal bucket derivation, no-op otherwise
    )


def snapshot_latest(df: DataFrame, key_cols: list[str], change_col: str, tiebreak: str | None = None) -> DataFrame:
    """Current-snapshot / as-of view: latest row per key by change time
    (the upsert-by-id semantics of service.py:41,166; SURVEY §2.3 J7 /
    §2.5 W2). One shuffle on the key.

    Implemented as ``max_by(struct(*), struct(change_col[, tiebreak]))``
    — a partial-aggregating hash aggregate, not a row_number window:
    each key's history collapses map-side to one candidate per input
    partition, and nothing sorts. Struct comparison is lexicographic,
    so the (change, tiebreak) max is exactly the first row of the
    desc/desc window ordering (measured -38% at sf0.1, r5 interleaved
    A/B, value-identical). ``change_col`` is assumed non-null — the
    engine's CDC convention (SURVEY §1.3)."""
    order = F.struct(change_col, tiebreak) if tiebreak else F.struct(change_col)
    return (
        df.groupBy(*key_cols)
        .agg(F.max_by(F.struct(*df.columns), order).alias("__s"))
        .select("__s.*")
    )


def persist_snapshot_bucketed(
    snapshot: DataFrame,
    table_name: str,
    key_cols: list[str],
    n_buckets: int,
) -> None:
    """Persist a per-cycle snapshot as a catalog table hash-BUCKETED on
    the CDC key — the storage layout for the reference's repeated
    snapshot-vs-snapshot cycle (service_layer/service.py:52-57 re-reads
    and re-matches full tables every 300 s poll, controller.py:35).

    Every downstream key operation between co-bucketed snapshots —
    :func:`snapshot_diff`'s full outer join, a changelog apply, the
    store-vs-store audit — then satisfies its required distribution
    straight off the scan: NO Exchange on either side (plan-pinned in
    tests/test_bucketing.py). The shuffle is paid once at snapshot
    write, where the cycle writes anyway, instead of once per
    downstream join per cycle: at 100 TB with a poll-loop cadence that
    is the difference between re-shuffling the table every 5 minutes
    and never. Buckets are also sorted by the key inside each file, so
    the diff's sort-merge join can skip its Sort when each bucket is
    one file. Both snapshots MUST use the same ``n_buckets`` and key
    order — size so a bucket is one healthy task (hundreds of MB)."""
    from ..sources.tables import write_bucketed

    write_bucketed(
        snapshot.repartition(n_buckets, *[F.col(c) for c in key_cols]),
        table_name,
        key_cols,
        n_buckets,
        sort_cols=key_cols,
    )


def bucketed_snapshot_diff(
    spark,
    old_table: str,
    new_table: str,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """:func:`snapshot_diff` over two catalog snapshots written by
    :func:`persist_snapshot_bucketed`: the bucket spec rides in the
    catalog entry, so the full outer join is co-located (zero
    Exchange). Reading the same files with ``spark.read.parquet``
    would LOSE the layout — bucketing only exists through the
    catalog."""
    return snapshot_diff(
        spark.table(old_table), spark.table(new_table), key_cols, compare_cols
    )


def as_of(history: DataFrame, ts, valid_from: str = "valid_from", valid_to: str = "valid_to") -> DataFrame:
    """Point-in-time (time-travel) view over an SCD2 history: the rows
    whose validity interval covers ``ts`` — exactly one per key that
    existed then. A partition-pruned filter when the history is stored
    partitioned by a coarse derivation of ``valid_from``; no join, no
    window at read time (the windowing was paid once at history build).
    """
    t = F.lit(ts).cast("timestamp")
    return history.filter(
        (F.col(valid_from) <= t) & (F.col(valid_to).isNull() | (F.col(valid_to) > t))
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Change-feed generation between two snapshots of a keyed table:
    one row per changed key with ``change_type`` insert/update/delete
    and both value payloads — the inverse of applying a CDC feed, and
    the operator that turns periodic full snapshots into the
    incremental feed the reference assumes exists upstream
    (``change_datetime`` maintained by the source, service.py:53).

    Full outer join on the key, change classified by null-side and
    value inequality; unchanged keys are dropped before anything wide
    is carried. One shuffle on the key for each side; at scale both
    snapshots should be bucketed/partitioned on the key so the join is
    co-located.
    """
    o = old.select(
        *key_cols,
        F.lit(True).alias("_old_present"),
        *[F.col(c).alias(f"_old_{c}") for c in compare_cols],
    )
    n = new.select(
        *key_cols,
        F.lit(True).alias("_new_present"),
        *[F.col(c).alias(f"_new_{c}") for c in compare_cols],
    )
    j = o.join(n, key_cols, "full_outer")
    # presence markers survive the outer join as true/null — robust even
    # when compare columns are legitimately NULL in the data
    old_exists = F.col("_old_present").isNotNull()
    new_exists = F.col("_new_present").isNotNull()
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"_old_{c}").eqNullSafe(F.col(f"_new_{c}"))
    change_type = (
        F.when(~old_exists & new_exists, F.lit("insert"))
        .when(old_exists & ~new_exists, F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    return (
        j.withColumn("change_type", change_type)
        .filter(F.col("change_type").isNotNull())
        .drop("_old_present", "_new_present")
    )


def metadata_struct(source: str, id_col: Column, text_col: Column) -> Column:
    """Per-vector metadata payload (≙ service.py:133,145
    ``{"source", "id", "text"}``) as a flat struct (prunable)."""
    return F.struct(
        F.lit(source).alias("source"),
        id_col.cast("string").alias("id"),
        text_col.alias("text"),
    )


def scd2_history(
    df: DataFrame,
    key_cols: list[str],
    change_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2: turn a change stream (each row
    one version of a key, ≙ the reference's per-``change_datetime``
    CDC rows, service.py:52-54) into interval-versioned history —
    ``valid_from`` = the row's change time, ``valid_to`` = the next
    version's change time (null while current), ``is_current`` on the
    open interval. The complement of :func:`snapshot_latest`: that
    keeps only the newest version, this keeps them all, queryable
    as-of any instant.

    One window over the same (key, change) ordering the snapshot uses —
    a single shuffle on the key columns, scale-safe because state per
    key is just its version list.
    """
    order = [F.col(change_col).asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("valid_from", F.col(change_col))
        .withColumn("valid_to", F.lead(change_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull().cast("int"))
    )


def store_diff(
    src: DataFrame,
    dst: DataFrame,
    key_cols: list[str],
    num_buckets: int = 1024,
) -> DataFrame:
    """Anti-entropy consistency check between two keyed stores (source
    table vs CDC-maintained sink) — the audit an at-least-once
    pipeline needs to PROVE its sink converged. Two-level
    merkle-style plan:

    level 1: each side aggregates to ``num_buckets`` rows — bucket =
    hash(key) mod B, digest = (count, bit_xor of the 64-bit row hash,
    sum of its unsigned upper 32 bits) — all order-free, so partial
    aggregation combines map-side and the shuffle carries B rows per
    side, not the table. The additive component is 32-bit so an ANSI
    BIGINT sum cannot overflow below ~2^31 rows per bucket — size
    ``num_buckets`` so buckets stay under that (any sane B does);
    level 2: ONLY rows hashing into unequal buckets re-enter a
    full-width comparison (null-safe anti-joins both ways + an inner
    value compare), so the expensive row-level pass touches the
    divergent fraction, not 100 TB.

    Output: one row per differing key with status 'missing' (in src
    only), 'extra' (in dst only), or 'changed' (both, different
    payload). Equal stores cost level 1 only. Row hashes are
    xxhash64 over every column — internal to the comparison, so no
    portability constraint."""
    all_cols = src.columns
    assert set(all_cols) == set(dst.columns), "schemas must agree"
    key_expr = [F.col(c) for c in key_cols]
    row_hash = F.xxhash64(*[F.col(c) for c in all_cols])
    bucket = F.pmod(F.xxhash64(*key_expr), F.lit(num_buckets))

    def digests(df):
        return (
            df.groupBy(bucket.alias("_b"))
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum(F.shiftrightunsigned(row_hash, 32)).alias("_sum"),
                F.bit_xor(row_hash).alias("_xor"),
            )
        )

    a, b = digests(src), digests(dst)
    unequal = (
        a.alias("a")
        .join(b.alias("b"), F.col("a._b") == F.col("b._b"), "full")
        .filter(
            ~(
                F.col("a._n").eqNullSafe(F.col("b._n"))
                & F.col("a._sum").eqNullSafe(F.col("b._sum"))
                & F.col("a._xor").eqNullSafe(F.col("b._xor"))
            )
        )
        .select(F.coalesce(F.col("a._b"), F.col("b._b")).alias("_b"))
    )

    s = src.withColumn("_b", bucket).join(F.broadcast(unequal), "_b")
    d = dst.withColumn("_b", bucket).join(F.broadcast(unequal), "_b")
    s_k = s.select(*key_cols, row_hash.alias("_h"))
    d_k = d.select(*key_cols, row_hash.alias("_h"))
    missing = s_k.join(d_k.select(*key_cols), key_cols, "left_anti").select(
        *key_cols, F.lit("missing").alias("status")
    )
    extra = d_k.join(s_k.select(*key_cols), key_cols, "left_anti").select(
        *key_cols, F.lit("extra").alias("status")
    )
    changed = (
        s_k.alias("s")
        .join(d_k.alias("d"), key_cols)
        .filter(F.col("s._h") != F.col("d._h"))
        .select(*key_cols, F.lit("changed").alias("status"))
    )
    return missing.unionByName(extra).unionByName(changed)
