"""Keyed upsert sink tests (S6/S8 semantics: last-writer-wins MERGE,
replay idempotent — the exactly-once fix over the reference's
at-least-once duplicate-producing replays, SURVEY §2.9 T3)."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import upsert_parquet  # noqa: E402
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.sinks import (  # noqa: E402
    read_table_state,
    write_table_state,
)


def test_upsert_last_writer_wins(spark, tmp_path):
    path = str(tmp_path / "watermark")
    v1 = spark.createDataFrame(
        [("events", "2024-01-10", 1), ("orders", "2024-01-05", 1)],
        "table_name string, last_updated string, version int",
    )
    upsert_parquet(spark, path, v1, ["table_name"], "version")
    v2 = spark.createDataFrame(
        [("events", "2024-01-20", 2)],
        "table_name string, last_updated string, version int",
    )
    upsert_parquet(spark, path, v2, ["table_name"], "version")

    got = {r["table_name"]: (r["last_updated"], r["version"]) for r in spark.read.parquet(path).collect()}
    assert got == {"events": ("2024-01-20", 2), "orders": ("2024-01-05", 1)}


def test_watermark_lookup(spark):
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.cdc import (
        watermark_lookup,
    )

    wm = spark.createDataFrame(
        [("events", "2024-01-10"), ("orders", "2024-01-05")],
        "table_name string, last_updated string",
    )
    got = watermark_lookup(wm, "events").collect()
    assert len(got) == 1 and got[0]["last_updated"] == "2024-01-10"
    assert watermark_lookup(wm, "missing").count() == 0  # -> full-scan branch


def test_upsert_replay_idempotent(spark, tmp_path):
    path = str(tmp_path / "vectors")
    batch = spark.createDataFrame(
        [("events#0", 1.0, 7), ("events#100", 2.0, 7)],
        "id string, score double, version int",
    )
    upsert_parquet(spark, path, batch, ["id"], "version")
    upsert_parquet(spark, path, batch, ["id"], "version")  # replay
    df = spark.read.parquet(path)
    assert df.count() == 2
    assert df.groupBy("id").count().agg(F.max("count")).collect()[0][0] == 1


def test_write_partitioned_prunes_partitions(spark, sf_dir, tmp_path):
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import load_table
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.sinks import (
        write_partitioned,
    )

    o = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_part")
    write_partitioned(o, path, ["o_orderstatus"])
    # hive layout on disk
    assert any(d.startswith("o_orderstatus=") for d in os.listdir(path))
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the status filter must be a partition filter (plan-time pruning),
    # not a row-level data filter
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters", 1)[1][:200]
    assert back.count() == o.filter(F.col("o_orderstatus") == "F").count()


def test_compact_parquet_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import load_table
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.sinks import (
        compact_parquet,
    )

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    path = str(tmp_path / "events_small")
    e.repartition(64).write.parquet(path)  # simulate micro-batch accretion
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_before >= 32
    before = e.count()
    n_out = compact_parquet(spark, path, target_file_bytes=8 * 1024 * 1024)
    n_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_after == n_out < n_before
    back = spark.read.parquet(path)
    assert back.count() == before
    assert back.agg(F.sum("event_id")).first()[0] == e.agg(F.sum("event_id")).first()[0]


def test_dynamic_partition_pruning_on_join(spark, sf_dir, tmp_path):
    """DPP: joining a hive-partitioned fact to a filtered dim must plug
    the dim's surviving keys into the fact scan as a runtime partition
    filter (dynamicpruning subquery) — at 100 TB this skips whole
    directories based on the dim filter, before any fact rows move."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import load_table
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.sinks import (
        write_partitioned,
    )

    o = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_by_cust_band")
    fact = o.withColumn("cust_band", (F.col("o_custkey") % 8).cast("int"))
    write_partitioned(fact, path, ["cust_band"])
    fact_back = spark.read.parquet(path)
    dim = (
        load_table(spark, sf_dir, "customer")
        .select((F.col("c_custkey") % 8).cast("int").alias("cust_band"), "c_mktsegment")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .distinct()
    )
    joined = fact_back.join(dim, "cust_band")
    plan = joined._jdf.queryExecution().executedPlan().toString().lower()
    assert "dynamicpruning" in plan, plan[:2000]
    # and the answer matches the unpartitioned equivalent
    want = (
        o.withColumn("cust_band", (F.col("o_custkey") % 8).cast("int"))
        .join(dim, "cust_band")
        .count()
    )
    assert joined.count() == want


def _partition_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def test_partitioned_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """upsert_parquet_partitioned must leave partitions its batch does
    not touch byte-identical (O(batch) merge, not O(table))."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        upsert_parquet_partitioned,
    )

    path = str(tmp_path / "vectors")
    base = spark.createDataFrame(
        [(f"id{i}", float(i), 1) for i in range(64)],
        "id string, score double, version int",
    )
    upsert_parquet_partitioned(spark, path, base, ["id"], "version", num_buckets=8)

    before = _partition_bytes(path)
    one = spark.createDataFrame([("id3", 99.0, 2)], "id string, score double, version int")
    n_touched = upsert_parquet_partitioned(spark, path, one, ["id"], "version", num_buckets=8)
    assert n_touched == 1

    after = _partition_bytes(path)
    touched_dirs = {
        os.path.dirname(k) for k in set(before) ^ set(after)
    } | {os.path.dirname(k) for k in before if before[k] != after.get(k)}
    assert len({d for d in touched_dirs if d}) <= 1  # only one kbucket=N dir changed

    got = {r["id"]: r["score"] for r in spark.read.parquet(path).collect()}
    assert got["id3"] == 99.0 and len(got) == 64


def test_partitioned_upsert_replay_idempotent(spark, tmp_path):
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        upsert_parquet_partitioned,
    )

    path = str(tmp_path / "vectors")
    batch = spark.createDataFrame(
        [("a", 1.0, 7), ("b", 2.0, 7)], "id string, score double, version int"
    )
    upsert_parquet_partitioned(spark, path, batch, ["id"], "version")
    upsert_parquet_partitioned(spark, path, batch, ["id"], "version")  # replay
    df = spark.read.parquet(path)
    assert df.count() == 2
    assert df.groupBy("id").count().agg(F.max("count")).collect()[0][0] == 1


def test_partitioned_upsert_bucket_sizing(spark, tmp_path):
    """Bucket count is a table property derived from size: created from
    the first batch (rows/target, pow2, min 16), persisted in the
    table state, enforced against conflicting explicit counts, and
    doubled by a re-bucketing rewrite when the table outgrows
    2x target rows/bucket — a fixed count would mean ~6 TB buckets at
    100 TB (VERDICT r3)."""
    import pytest

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        upsert_parquet_partitioned,
    )

    path = str(tmp_path / "vectors")
    mk = lambda lo, hi, v: spark.createDataFrame(  # noqa: E731
        [(f"id{i}", float(i), v) for i in range(lo, hi)],
        "id string, score double, version int",
    )
    # creation: 100 rows / 2 per bucket = 50 -> pow2 = 64 buckets
    upsert_parquet_partitioned(
        spark, path, mk(0, 100, 1), ["id"], "version", target_bucket_rows=2
    )
    assert read_table_state(path)["buckets"] == 64
    # conflicting explicit count must refuse, not corrupt the mapping
    with pytest.raises(ValueError):
        upsert_parquet_partitioned(
            spark, path, mk(0, 1, 2), ["id"], "version", num_buckets=8
        )
    # growth: push the table past 2 x target x n = 2*2*64 = 256 rows
    upsert_parquet_partitioned(
        spark, path, mk(100, 300, 1), ["id"], "version", target_bucket_rows=2
    )
    n2 = read_table_state(path)["buckets"]
    assert n2 >= 128, n2  # grew
    df = spark.read.parquet(path)
    # ids from both merges survive the rewrite, and the state's row
    # count with them
    assert {r["id"] for r in df.select("id").collect()} == {f"id{i}" for i in range(300)}
    assert read_table_state(path)["rows"] == 300
    assert df.filter(F.col("id") == "id250").first()["score"] == 250.0
    # the re-bucketed layout is consistent: every row's partition
    # matches the hash of its key under the new count
    assert df.filter(F.col("kbucket") != F.pmod(F.hash("id"), F.lit(n2))).count() == 0
    # post-growth merges keep working against the new layout
    upsert_parquet_partitioned(spark, path, mk(0, 1, 9), ["id"], "version")
    assert spark.read.parquet(path).filter(F.col("id") == "id0").first()["version"] == 9


def test_compact_preserves_hive_partitions(spark, tmp_path):
    """Regression (ADVICE r1): compacting a hive-partitioned layout must
    re-apply partitionBy, not flatten partition columns into data."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        compact_parquet,
        write_partitioned,
    )

    path = str(tmp_path / "events_by_type")
    df = spark.createDataFrame(
        [(i, "click" if i % 2 else "view", float(i)) for i in range(100)],
        "event_id long, event_type string, amount double",
    )
    write_partitioned(df, path, ["event_type"])
    # accrete extra small files, as a streaming sink would
    write_partitioned(df, path, ["event_type"], mode="append")

    compact_parquet(spark, path, target_file_bytes=10**9)

    subdirs = {d for d in os.listdir(path) if os.path.isdir(os.path.join(path, d))}
    assert subdirs == {"event_type=click", "event_type=view"}
    back = spark.read.parquet(path)
    assert back.count() == 200
    assert set(back.columns) == {"event_id", "event_type", "amount"}


def test_recover_table_restores_after_crash_mid_swap(spark, tmp_path):
    """Simulated crash in _swap_in's window (live dir renamed aside,
    new dir not yet renamed in): recover_table must promote the aside
    back to the committed pre-upsert state."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        recover_table,
    )

    path = str(tmp_path / "watermark")
    v1 = spark.createDataFrame(
        [("events", "2024-01-10", 1)], "table_name string, last_updated string, version int"
    )
    upsert_parquet(spark, path, v1, ["table_name"], "version")
    # crash: the table dir is aside, nothing swapped in
    os.rename(path, str(tmp_path / "_old-watermark-deadbeef"))
    assert recover_table(path) == "restored"
    got = spark.read.parquet(path).collect()
    assert len(got) == 1 and got[0]["last_updated"] == "2024-01-10"
    assert recover_table(path) == "ok"  # idempotent


def test_recover_table_restores_missing_partition(spark, tmp_path):
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        recover_table,
        upsert_parquet_partitioned,
    )

    path = str(tmp_path / "vectors")
    base = spark.createDataFrame(
        [(f"id{i}", float(i), 1) for i in range(64)],
        "id string, score double, version int",
    )
    upsert_parquet_partitioned(spark, path, base, ["id"], "version", num_buckets=8)
    parts = sorted(d for d in os.listdir(path) if d.startswith("kbucket="))
    victim = parts[0]
    os.rename(os.path.join(path, victim), os.path.join(path, f"_old-{victim}-cafe1234"))
    assert recover_table(path) == "restored"
    assert spark.read.parquet(path).count() == 64


def test_recover_table_cleans_stale_tmp(spark, tmp_path):
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        recover_table,
        upsert_parquet_partitioned,
    )

    path = str(tmp_path / "vectors")
    base = spark.createDataFrame(
        [("a", 1.0, 1), ("b", 2.0, 1)], "id string, score double, version int"
    )
    upsert_parquet_partitioned(spark, path, base, ["id"], "version")
    os.makedirs(os.path.join(path, "_tmp-5555abcd"))
    assert recover_table(path) == "cleaned"
    assert not any(d.startswith("_tmp-") for d in os.listdir(path))
    assert spark.read.parquet(path).count() == 2


def test_recover_table_after_crash_mid_regrow(spark, tmp_path):
    """Crash during the bucket-growth rewrite has two windows:
    (a) regrow tmp written but swap not started — the stale
    ``{base}.regrow-*`` dir must be swept, committed table untouched;
    (b) inside _swap_in (table aside, regrow dir not yet renamed in) —
    the aside must be promoted back to the pre-growth state."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        recover_table,
        upsert_parquet_partitioned,
    )

    path = str(tmp_path / "vectors")
    base = spark.createDataFrame(
        [(f"id{i}", float(i), 1) for i in range(32)],
        "id string, score double, version int",
    )
    upsert_parquet_partitioned(spark, path, base, ["id"], "version", num_buckets=8)

    # (a) stale regrow tmp next to the live table
    os.makedirs(str(tmp_path / "vectors.regrow-deadbeef"))
    assert recover_table(path) == "cleaned"
    assert not os.path.exists(str(tmp_path / "vectors.regrow-deadbeef"))
    assert spark.read.parquet(path).count() == 32

    # (b) crash inside the regrow swap: table renamed aside
    os.rename(path, str(tmp_path / "_old-vectors-12345678"))
    assert recover_table(path) == "restored"
    df = spark.read.parquet(path)
    assert df.count() == 32
    # committed bucket count survives the recovery
    assert read_table_state(path)["buckets"] == 8


def test_partitioned_upsert_sequence_equivalence(spark, tmp_path):
    """Property: applying N random upsert batches one at a time must
    produce exactly the state of a single last-writer-wins pass over
    the concatenation — the MERGE is associative over batches."""
    import random

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        upsert_parquet_partitioned,
    )

    rng = random.Random(11)
    path = str(tmp_path / "vectors")
    all_rows = []
    version = 0
    for _batch in range(6):
        batch = []
        for _ in range(rng.randint(1, 30)):
            version += 1
            batch.append((f"id{rng.randint(0, 40)}", float(version), version))
        all_rows.extend(batch)
        df = spark.createDataFrame(batch, "id string, score double, version int")
        upsert_parquet_partitioned(spark, path, df, ["id"], "version", num_buckets=4)

    got = {r["id"]: (r["score"], r["version"]) for r in spark.read.parquet(path).collect()}
    expect = {}
    for rid, score, ver in all_rows:
        if rid not in expect or ver > expect[rid][1]:
            expect[rid] = (score, ver)
    assert got == expect


def test_partitioned_upsert_rows_maintained_incrementally(spark, tmp_path, monkeypatch):
    """Regression (VERDICT r4 defect 1): on the steady path the merge
    must not walk the whole table for the regrow decision — footer
    reads touch ONLY the touched bucket directories, and the committed
    row count is carried in the table state."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        upsert_parquet_partitioned,
    )
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import sinks

    path = str(tmp_path / "vectors")
    mk = lambda lo, hi, v: spark.createDataFrame(  # noqa: E731
        [(f"id{i}", float(i), v) for i in range(lo, hi)],
        "id string, score double, version int",
    )
    upsert_parquet_partitioned(spark, path, mk(0, 50, 1), ["id"], "version", num_buckets=8)
    st = read_table_state(path)
    assert (st["buckets"], st["rows"]) == (8, 50)

    walked = []
    real = sinks._footer_rows

    def spy(p):
        walked.append(p)
        return real(p)

    monkeypatch.setattr(sinks, "_footer_rows", spy)
    upsert_parquet_partitioned(spark, path, mk(40, 70, 2), ["id"], "version")
    assert walked, "row accounting should footer-read the touched buckets"
    assert all(os.path.basename(p).startswith("kbucket=") for p in walked), walked
    st = read_table_state(path)
    assert (st["buckets"], st["rows"]) == (8, 70)
    assert spark.read.parquet(path).count() == 70


def test_partitioned_upsert_marker_drift_self_heals(spark, tmp_path):
    """The state's row count is advisory: a crash between bucket swaps
    and the final state write leaves it stale. An overcount that
    crosses the regrow threshold must be corrected by the
    authoritative footer walk (and re-synced) WITHOUT triggering a
    spurious O(table) rewrite."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        upsert_parquet_partitioned,
    )

    path = str(tmp_path / "vectors")
    mk = lambda lo, hi, v: spark.createDataFrame(  # noqa: E731
        [(f"id{i}", float(i), v) for i in range(lo, hi)],
        "id string, score double, version int",
    )
    upsert_parquet_partitioned(
        spark, path, mk(0, 40, 1), ["id"], "version", num_buckets=8, target_bucket_rows=100
    )
    st = read_table_state(path)
    assert (st["buckets"], st["rows"]) == (8, 40)
    # simulate stale overcount far past the threshold (2*100*8 = 1600)
    write_table_state(path, {**st, "rows": 5000})
    upsert_parquet_partitioned(
        spark, path, mk(0, 5, 2), ["id"], "version", target_bucket_rows=100
    )
    st = read_table_state(path)
    assert st["buckets"] == 8, "spurious regrow from a drifted row count"
    assert st["rows"] == 40, "walk should re-sync the drifted count"


def test_upsert_schema_evolution_new_column(spark, tmp_path):
    """CDC schema drift (the reference's ALTER TABLE blind spot): a
    batch carrying a NEW column merges cleanly — old rows read NULL
    for it even from untouched buckets (canonical state schema), a
    batch MISSING a column leaves NULLs for its new rows, and the
    evolved schema survives a delete's state rewrite."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources.sinks import (
        delete_keys,
        read_keyed_table,
        upsert_parquet_partitioned,
    )

    path = str(tmp_path / "evo")
    base = spark.createDataFrame(
        [(i, f"v{i}", 1) for i in range(40)], ["id", "val", "ver"]
    )
    upsert_parquet_partitioned(spark, path, base, ["id"], "ver", num_buckets=4)

    # evolve: new column arrives for a handful of keys (touches SOME buckets)
    evolved = spark.createDataFrame(
        [(1, "v1b", 2, "en"), (2, "v2b", 2, "de")], ["id", "val", "ver", "lang"]
    )
    upsert_parquet_partitioned(spark, path, evolved, ["id"], "ver")
    t = read_keyed_table(spark, path)
    assert "lang" in t.columns
    rows = {r["id"]: (r["val"], r["lang"]) for r in t.collect()}
    assert len(rows) == 40
    assert rows[1] == ("v1b", "en") and rows[2] == ("v2b", "de")
    assert rows[3] == ("v3", None)          # untouched bucket, NULL column

    # a later batch WITHOUT the evolved column: its rows hold NULL lang
    upsert_parquet_partitioned(
        spark, path, spark.createDataFrame([(3, "v3c", 3)], ["id", "val", "ver"]),
        ["id"], "ver",
    )
    t2 = {r["id"]: (r["val"], r["lang"]) for r in read_keyed_table(spark, path).collect()}
    assert t2[3] == ("v3c", None) and t2[1] == ("v1b", "en")

    # schema survives a delete's state rewrite
    delete_keys(spark, path, spark.createDataFrame([(5,)], ["id"]), ["id"])
    t3 = read_keyed_table(spark, path)
    assert "lang" in t3.columns and t3.count() == 39
