"""Accuracy contracts for the sketch-based aggregates (A5): the
rows-only queries still carry testable error bounds."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import load_table  # noqa: E402


def test_approx_count_distinct_error_bound(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx"),
            F.countDistinct("l_orderkey").alias("exact"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r["approx"] - r["exact"]) / r["exact"] < 0.05, r


def test_registry_sketch_query_within_bounds(spark, sf_dir):
    """agg_approx_sketches now carries its sketch error contracts
    IN-QUERY (r10: exact values hash-checked, bound booleans asserted
    by the oracle): verify the emitted exact_nd equals an independent
    exact computation and every bound boolean is true."""
    import __spark_entry__ as entry

    got = {
        r["l_returnflag"]: r
        for r in entry.queries()["agg_approx_sketches"](spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    assert set(got) == set(exact) and got
    for flag, r in got.items():
        assert r["exact_nd"] == exact[flag], (flag, r)
        assert r["nd_ok"] and r["p50_ok"], (flag, r)


def test_percentile_approx_brackets_exact(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    r = li.agg(
        F.percentile_approx("l_extendedprice", 0.5).alias("approx"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    ).collect()[0]
    spread = r["hi"] - r["lo"]
    assert abs(r["approx"] - r["exact"]) / spread < 0.05


def test_registry_sketch_query_keeps_all_null_price_group(spark, sf_dir, tmp_path):
    """A return flag whose prices are all NULL is still a group of
    agg_approx_sketches: it has no exact-percentile corridor, so its
    p50_ok is NULL, but its row (and exact_nd) must not be dropped."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    price = li["l_extendedprice"]
    nulled = pc.if_else(
        pc.equal(li["l_returnflag"], "N"), pa.scalar(None, price.type), price
    )
    li = li.set_column(
        li.schema.get_field_index("l_extendedprice"), "l_extendedprice", nulled
    )
    pq.write_table(li, str(tmp_path / "lineitem.parquet"))

    got = {
        r["l_returnflag"]: r
        for r in entry.queries()["agg_approx_sketches"](spark, str(tmp_path)).collect()
    }
    assert sorted(got) == ["A", "N", "R"], got
    assert got["N"]["p50_ok"] is None and got["N"]["exact_nd"] > 0
    assert got["A"]["p50_ok"] and got["R"]["p50_ok"]
