"""Driver contract for the PySpark-native engine.

``entry(spark)``     — flagship CDC-sweep dataflow on sf0.001.
``queries()``        — one callable per implemented operator from SURVEY.md §2
                       (plus the north-star dedup/similarity/text/multimodal ops).
``oracle_sql()``     — DuckDB-equivalent ANSI SQL per query.

Conventions shared by every query/oracle pair (hash-stable outputs):
- computed integers -> BIGINT on both sides; floats rounded and kept DOUBLE;
- timestamps in outputs -> epoch microseconds (``unix_micros`` / ``epoch_us``)
  or an explicit identical format string;
- every computed column aliased identically on both sides;
- intra-group orderings (collect_list/string_agg) made explicit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.hashing import (
    word_shingles,
)
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.vector import (
    cosine_sim,
    l2_norm,
)
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators import (
    cdc,
    dedup,
    incremental,
    multimodal,
    relational,
    vectors as vec_ops,
)
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators import (
    text as text_ops,
)
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.plans.partitioning import (
    ensure_parallelism,
)
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
    bucketed_fact_name,
    load_fact,
    load_table,
)
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.streaming.pipeline import (
    cdc_tick,
)

# CDC watermark literal used by the incremental-scan queries (mid-range of
# the events fixture, 2024-01-01 .. 2024-01-30).
WM = "2024-01-15 00:00:00"

_REG: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


#: Analyzed-plan memo per (session, sf_dir, query). The fixture
#: inputs are immutable parquet (load_table already memoizes the
#: analyzed relations the same way), so rebuilding the identical
#: DataFrame on every call only re-pays driver-side py4j/analysis
#: chatter — measured 0.05-0.26 s per query at sf0.1, pure constant
#: overhead with no scale analogue. Execution is NOT cached, and each
#: call returns ``base.select("*")`` — a fresh QueryExecution over the
#: memoized analyzed subtree — because a Dataset memoizes its PHYSICAL
#: plan on first use: handing back the same object would freeze the
#: session conf (broadcast thresholds, shuffle partitions) as of the
#: first call, which the plan regression tests rightly reject.
#: Held ON the session object via session_cache (r9 — ADVICE r8: the
#: r8 WeakKeyDictionary never freed entries because cached DataFrames
#: strongly reference their session, pinning the weak key; a dict in
#: the session wrapper's __dict__ dies exactly when the session does).
#: ``spark.newSession()`` shares the applicationId but not session
#: state, and a DataFrame must never cross sessions — hence keying on
#: the session itself, never the app id.
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark import (
    session_cache as _session_cache,
)


def _q(name: str, sql: str | None):
    def wrap(fn):
        import functools

        @functools.wraps(fn)
        def cached(spark: SparkSession, sf_dir: str) -> DataFrame:
            per_session = _session_cache(spark, "entry_plans")
            key = (sf_dir, name)
            df = per_session.get(key)
            if df is None:
                df = per_session[key] = fn(spark, sf_dir)
            return df.select("*")

        _REG[name] = (cached, sql)
        return fn

    return wrap


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _table_rows(sf_dir: str, name: str) -> int:
    """Row count from the parquet footer (no Spark job) — used to size
    corpus-dependent parameters like the LSH plane count."""
    import os

    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(sf_dir, f"{name}.parquet")).metadata.num_rows


_EMB_CACHE: dict[str, object] = {}


def _emb_table(sf_dir: str):
    """The embeddings fixture read once per sf_dir via pyarrow and
    memoized. Query vectors and quantizer seeds are query INPUT
    (driver-side constants of the fixture), not part of the measured
    plan — deriving them with a Spark job per plan build was the single
    largest fixed cost in the vec family (~0.5 s each)."""
    if sf_dir not in _EMB_CACHE:
        import os

        import pyarrow.parquet as pq

        _EMB_CACHE[sf_dir] = pq.read_table(
            os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
        )
    return _EMB_CACHE[sf_dir]


def _query_vector(sf_dir: str, vec_id: int = 1) -> list[float]:
    """The deterministic query vector (embeddings row ``vec_id``)."""
    import pyarrow.compute as pc

    t = _emb_table(sf_dir)
    row = t.filter(pc.equal(t["vec_id"], vec_id))
    return [float(x) for x in row["embedding"][0].as_py()]


# Per-session dim-chain cache: held on the session object via
# session_cache (see _PLAN_CACHE note above — ADVICE r8), so a
# recycled CPython id() can never hand a dead session's DataFrame to a
# new session, and the cache dies exactly when its session does.
# supplier is unbounded at scale (SF*10k rows) — above this footer
# stat the chain must stay a Spark-side join; below it the whole
# chain is a driver-held constant like any dimension cache
_LOCAL_CHAIN_MAX_SUPPLIERS = 100_000


def _supplier_chain(spark, sf_dir: str, region: str | None = None):
    """The supplier⋈nation(⋈region) dimension chain shared by the
    TPC-H join family (q5/q9-shape), broadcast-ready (VERDICT r6
    task 2b).

    Below ``_LOCAL_CHAIN_MAX_SUPPLIERS`` supplier rows (parquet footer
    stat, no job) the chain is composed driver-side from pyarrow
    fixture reads, memoized, and returned as a LocalRelation: its
    BroadcastExchange collects on the DRIVER with zero scan jobs,
    removing three broadcast-build jobs from every consumer's critical
    path (measured -38% on q5 at sf0.1, interleaved). Above the gate
    it falls back to the ordinary Spark-side join — the conf-sized
    scale path a 100 TB supplier table needs. Both paths produce the
    identical (s_suppkey, s_nationkey, n_name) relation (inner joins
    on the same keys), so consumers and oracles are path-agnostic.

    Region joins into the chain ONLY when a region filter is
    requested (review catch r7): the no-filter chain is exactly
    supplier⋈nation — a dangling/NULL n_regionkey must not silently
    drop suppliers from consumers that never asked about regions.

    Cached per SESSION (session_cache — a dict held on the session
    object itself: ``spark.newSession()`` shares the app id but not
    session state, and a DataFrame must never cross sessions; the
    cache dies exactly when its session does, ADVICE r7/r8)."""
    per_session = _session_cache(spark, "dim_chain")
    key = (sf_dir, region)
    if key in per_session:
        return per_session[key]
    if _table_rows(sf_dir, "supplier") <= _LOCAL_CHAIN_MAX_SUPPLIERS:
        import os

        import pyarrow.parquet as pq

        sp = pq.read_table(
            os.path.join(sf_dir, "supplier.parquet"),
            columns=["s_suppkey", "s_nationkey"],
        ).to_pandas()
        np_ = pq.read_table(os.path.join(sf_dir, "nation.parquet")).to_pandas()
        chain = sp.merge(np_, left_on="s_nationkey", right_on="n_nationkey")
        if region is not None:
            rp = pq.read_table(os.path.join(sf_dir, "region.parquet")).to_pandas()
            chain = chain.merge(
                rp[rp["r_name"] == region],
                left_on="n_regionkey",
                right_on="r_regionkey",
            )
        chain = chain[["s_suppkey", "s_nationkey", "n_name"]].sort_values(
            "s_suppkey", kind="stable"
        )
        out = spark.createDataFrame(chain)
    else:
        s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        n = _t(spark, sf_dir, "nation")
        out = s.join(n, s.s_nationkey == n.n_nationkey)
        if region is not None:
            r = _t(spark, sf_dir, "region").filter(F.col("r_name") == region)
            out = out.join(r, n.n_regionkey == F.col("r_regionkey"))
        out = out.select("s_suppkey", "s_nationkey", "n_name")
    per_session[key] = out
    return out


# ---------------------------------------------------------------------------
# Relational core (SURVEY §2.2-2.8 [EXT] surface)
# ---------------------------------------------------------------------------


@_q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0, 2)
               AS sum_qty,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2)
               AS sum_base_price,
           round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                          AS BIGINT)) / 10000.0, 2)
               AS sum_disc_price,
           round(avg(l_quantity), 4)                              AS avg_qty,
           round(avg(l_extendedprice), 4)                         AS avg_price,
           count(*)                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan -> pushed filter -> hash agg (A4/P3).
    Money/quantity SUMS aggregate as exact integer CENTS (fixed-point
    longs): the 2dp/4dp values scale to near-integers, recover to
    exact longs per row, and the LONG sum is order-independent — so
    since r11 q1 hash-checks clean at sf10 instead of being the
    documented float_only exception (its 2.8e11 double sum crossed
    the harness render boundary by summation order every sweep).
    Longs, not DECIMAL: Spark's decimal aggregation measured 3.3x the
    double form at sf10 while the cents form below is ~0.52 s vs the
    double form's 0.47-0.54 — exactness now costs ~nothing. AVGs stay
    double: their magnitudes sit ~15 digits above the rounding grid.

    Cents recovery is `floor(x*100 + 0.5)` (r12), NOT
    `round(x*100)::long`: Spark's round() on double routes through
    BigDecimal per row, measured as HALF of the whole query (1.02 ->
    0.52 s at sf10, two interleaved windows, value-identical), while
    floor is plain codegen arithmetic returning LONG directly. It is
    exact for this data class: every true value is a POSITIVE ≤2dp
    quantity, so x*100 is an exact integer n plus representation
    error |ε| << 0.5, and floor(n + ε + 0.5) == n with no rounding-
    mode semantics involved. (Do NOT reuse for signed values — floor
    biases negatives — or for true half-cent inputs.)

    The 4dp discounted sum is INTEGER arithmetic on the two cents
    columns — ext_c * (100 - disc_c), exact for the same reason
    (r12 task 5, first -15% via dropping the third per-row round,
    then the floor rewrite above).

    Headroom bound (ADVICE r11, GUARDED r13): per-row disc4 units
    reach ~1e9, so the int64 group sum wraps around ~9e18 ≈ sf1000
    (≈100 TB of lineitem in ONE group). The guard makes the 100 TB
    framing literal: past _Q1_DECIMAL_ROW_GATE footer rows (2e9 — a
    4.6x margin below the wrap even if every row landed in one
    group), the three cents sums switch to DECIMAL(38,0), which is
    exact at any feasible scale; decided from plan-time parquet
    footer stats, so tested scales pay nothing. Values are identical
    on both branches wherever both are exact (pinned in
    tests/test_entry.py, DRIVER-checked via q1_decimal_branch)."""
    return _q1_compose(
        spark,
        sf_dir,
        force_decimal=_table_rows(sf_dir, "lineitem") > _Q1_DECIMAL_ROW_GATE,
    )


def _q1_compose(spark, sf_dir, force_decimal: bool):
    """Q1 dataflow with the cents-sum type as a parameter — shared by
    the gated contract entry (q1_pricing_summary) and the
    forced-DECIMAL arm (q1_decimal_branch) so the two can never
    drift."""
    li = _t(spark, sf_dir, "lineitem")
    qty_c = F.floor(F.col("l_quantity") * 100 + 0.5)
    ext_c = F.floor(F.col("l_extendedprice") * 100 + 0.5)
    disc4 = ext_c * (F.lit(100) - F.floor(F.col("l_discount") * 100 + 0.5))
    if force_decimal:
        qty_c = qty_c.cast("decimal(38,0)")
        ext_c = ext_c.cast("decimal(38,0)")
        disc4 = disc4.cast("decimal(38,0)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty_c) / 100.0, 2).alias("sum_qty"),
            F.round(F.sum(ext_c) / 100.0, 2).alias("sum_base_price"),
            F.round(F.sum(disc4) / 10000.0, 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


#: Row gate for q1's DECIMAL(38,0) fallback — see q1's docstring.
#: int64 wraps at ~9.2e18 / ~1e9-per-row disc4 units = ~9.2e9 rows in
#: ONE group; 2e9 total rows keeps a >4x margin below that worst case.
_Q1_DECIMAL_ROW_GATE = 2_000_000_000


@_q(
    "q1_decimal_branch",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0, 2)
               AS sum_qty,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2)
               AS sum_base_price,
           round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                          AS BIGINT)) / 10000.0, 2)
               AS sum_disc_price,
           round(avg(l_quantity), 4)                              AS avg_qty,
           round(avg(l_extendedprice), 4)                         AS avg_price,
           count(*)                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_decimal_branch(spark, sf_dir):
    """Q1's DECIMAL(38,0) wrap-guard branch FORCED at gate scale
    (VERDICT r13 task 7, the vec_knn_explode_kernel forced-kernel
    pattern): the >2e9-footer-row fallback in q1_pricing_summary never
    executes on any fixture, so before this entry the DuckDB oracle
    had only ever checked the int64-cents branch. Same dataflow
    (_q1_compose) and same oracle SQL as q1 — the driver now
    hash-checks the DECIMAL aggregation path itself at every sweep
    scale. Values are identical on both branches wherever both are
    exact; the branch exists because per-row disc4 units (~1e9) wrap
    int64 around sf1000 in a single group, where DECIMAL(38,0) stays
    exact."""
    return _q1_compose(spark, sf_dir, force_decimal=True)


@_q(
    "agg_decimal_exact_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2)))            AS sum_base_price_exact,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(13,2))))         AS sum_disc_price_exact,
           COUNT(*)                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_decimal_exact_pricing(spark, sf_dir):
    """Exact-decimal pricing rollup (A4 on the money columns, ref
    utils/config.py price fields): DECIMAL sums are associative —
    order- and partition-independent — so the result is bit-identical
    across engines and partitionings at ANY scale. Motivated by the
    sf10 finding that DOUBLE sums over 5M+ rows diverge by summation
    order (rel ~1e-14, enough to cross a rounding boundary at 2.8e11
    magnitude; PERFORMANCE.md r9). At 100 TB this is the only correct
    way to aggregate money: float totals are nondeterministic under
    AQE re-planning and retries, decimals are reproducible."""
    li = _t(spark, sf_dir, "lineitem")
    ext = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(13,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(ext).alias("sum_base_price_exact"),
            F.sum(ext * (F.lit(1) - disc)).alias("sum_disc_price_exact"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_q(
    "q3_shipping_priority",
    """
    SELECT o_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY o_orderkey
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join + top-k (J3/O3). No broadcast hints:
    customer and orders grow with the scale factor, so a forced
    broadcast OOMs executors at 100 TB — AQE picks broadcast at runtime
    when the filtered side is genuinely small."""
    return _q3_compose(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
    )


def _q3_compose(li, o, c, preagg: bool = False):
    """Q3 dataflow over caller-supplied fact/dim frames — shared by the
    plain and bucketed-layout variants so the two registry entries can
    never drift.

    ``preagg=True`` (the bucketed arm) aggregates revenue per
    (o_orderkey, o_custkey) BELOW the customer join. Each order has
    exactly one customer, so the groups are identical to the final
    per-order groups and the result is unchanged — but the rows
    crossing the post-join exchanges shrink from every surviving
    lineitem to one skinny row per order. Under the orderkey bucket
    layout the pre-aggregate itself needs no exchange (a bucket
    distribution on o_orderkey satisfies clustering by any superset
    key). On the plain layout the same rewrite was measured WORSE at
    sf10 (r11: the pre-agg forces the full li⋈o exchange anyway and
    adds a pass), which is why it is arm-gated rather than default."""
    c = c.filter(F.col("c_mktsegment") == "BUILDING")
    o = o.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = li.filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    if preagg:
        per_order = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderkey", "o_custkey")
            .agg(F.sum(rev).alias("_rev"))
        )
        return (
            per_order.join(c, per_order.o_custkey == c.c_custkey)
            .groupBy("o_orderkey")
            .agg(F.round(F.sum("_rev"), 2).alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
            .limit(10)
        )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@_q(
    "q5_region_revenue",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape (J3): the region-filtered dim chain
    (supplier ⋈ nation ⋈ region) is pre-composed before touching the
    fact table — the ASIA filter prunes suppliers first. The chain
    comes from _supplier_chain (r7): LocalRelation below the footer
    gate (zero broadcast-build scan jobs), conf-sized Spark join
    above it. No forced broadcast hints on fact tables (r3): AQE
    broadcasts them at runtime whenever actually small. Forced hints
    are reserved for constant-cardinality frames (nation=25,
    region=5, 1-row scalars) throughout the TPC-H family."""
    return _q5_compose(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _supplier_chain(spark, sf_dir, region="ASIA"),
    )


_BKT_FACT_BUCKETS = 128


def _bucketed_fact(spark, sf_dir, table: str, key: str, n_buckets: int = _BKT_FACT_BUCKETS):
    """The fact table as an orderkey-hash-BUCKETED managed table,
    ingested once per (sf_dir, table) and reused across sessions via
    the catalog (VERDICT r11 task 3): pay the partitioning shuffle at
    ingest, not once per query — the storage-layout answer to the
    fact-fact exchange that the r11 sf10 decomposition pinned as
    ~95% of q3's cost. Reuse guard is a row-count match against the
    parquet footer (fixtures are immutable; a regenerated fixture with
    the same row count is byte-identical by construction — gen_sf.py
    is deterministic). If the environment cannot write a managed
    table (read-only warehouse), falls back to the plain frame: the
    query result is identical either way — the layout is a
    performance property, plan-pinned in tests/test_bucketing.py."""
    per_session = _session_cache(spark, "bucketed_facts")
    ck = (sf_dir, table, n_buckets)
    got = per_session.get(ck)
    if got is not None:
        return got
    base = _t(spark, sf_dir, table)
    try:
        import os as _os
        import shutil as _shutil
        from urllib.parse import urlparse as _urlparse

        from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
            read_bucketed,
            write_bucketed,
        )

        # naming convention shared with sources.tables.load_fact (the
        # layout='auto' read gate) so ingest and gate can never drift
        name = bucketed_fact_name(sf_dir, table, n_buckets)
        expected = _table_rows(sf_dir, table)
        spark.sql("CREATE DATABASE IF NOT EXISTS bktfact")
        if not (
            spark.catalog.tableExists(name)
            and spark.table(name).count() == expected
        ):
            # The default in-memory catalog dies with the process but
            # the written files don't: a prior process's table lives on
            # as a directory that (a) blocks saveAsTable with
            # LOCATION_ALREADY_EXISTS and (b) is a finished, correct
            # bucketed layout. Re-attach it as an EXTERNAL table with
            # the declared bucket spec (bucketing is a catalog
            # property; the files carry Spark's own bucket hashing from
            # write_bucketed) — cross-process reuse without re-paying
            # the ingest shuffle. Only if re-attach fails (missing,
            # truncated, foreign files) is the location cleared and
            # rewritten.
            loc = _os.path.join(
                _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
                or spark.conf.get("spark.sql.warehouse.dir"),
                "bktfact.db",
                name.split(".", 1)[1],
            )
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            attached = False
            if _os.path.isdir(loc):
                try:
                    ddl = spark.createDataFrame([], base.schema)._jdf.schema().toDDL()
                    spark.sql(
                        f"CREATE TABLE {name} ({ddl}) USING PARQUET "
                        f"CLUSTERED BY ({key}) INTO {int(n_buckets)} BUCKETS "
                        f"LOCATION '{loc}'"
                    )
                    attached = spark.table(name).count() == expected
                except Exception:
                    attached = False
                if not attached:
                    spark.sql(f"DROP TABLE IF EXISTS {name}")
                    _shutil.rmtree(loc, ignore_errors=True)
            if not attached:
                # repartition on the bucket hash first so each write
                # task holds exactly one bucket -> ONE file per bucket.
                # Without it every task emits a file per bucket it
                # touches (measured: 1,889 sub-MB files for sf10
                # lineitem at 32 buckets — the scan paid 0.89 s vs
                # 0.32 s plain just opening footers).
                write_bucketed(
                    base.repartition(int(n_buckets), F.col(key)),
                    name,
                    [key],
                    n_buckets,
                )
        df = read_bucketed(spark, name)
    except Exception:
        df = base
    per_session[ck] = df
    return df


@_q(
    "q3_bucketed_layout",
    """
    SELECT o_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY o_orderkey
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_bucketed_layout(spark, sf_dir):
    """Q3 over orderkey-CO-BUCKETED lineitem/orders (ingest-once
    managed tables, _bucketed_fact): the lineitem⋈orders exchange —
    measured as 2.18 of plain q3's 2.28 s at sf10 (PERFORMANCE.md
    r11) — disappears; both scans arrive hash-distributed on the join
    key, the join degenerates to a per-bucket zip, and the
    o_orderkey aggregation reuses the same distribution. Zero-Exchange
    plan pinned in tests/test_bucketing.py; identical dataflow and
    oracle as q3_shipping_priority (shared _q3_compose), so the
    driver hash-checks that the layout changes nothing but the
    plan. The plain entry remains the contract number — this entry is
    the tracked bucketed arm (bench.py 'bucketed_facts' block)."""
    return _q3_compose(
        _bucketed_fact(spark, sf_dir, "lineitem", "l_orderkey"),
        _bucketed_fact(spark, sf_dir, "orders", "o_orderkey"),
        _t(spark, sf_dir, "customer"),
        preagg=True,
    )


@_q(
    "q5_bucketed_layout",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_bucketed_layout(spark, sf_dir):
    """Q5 over orderkey-co-bucketed facts (see q3_bucketed_layout):
    the broadcast dim join preserves the bucket distribution, the
    li⋈o join runs exchange-free, and the only shuffle left is the
    ≤25-row final n_name aggregate. Same composition and oracle as
    q5_region_revenue."""
    return _q5_compose(
        _bucketed_fact(spark, sf_dir, "lineitem", "l_orderkey"),
        _bucketed_fact(spark, sf_dir, "orders", "o_orderkey"),
        _t(spark, sf_dir, "customer"),
        _supplier_chain(spark, sf_dir, region="ASIA"),
    )


def _q5_compose(li, o, c, dim):
    """Q5 dataflow over caller-supplied frames — shared by the plain
    and bucketed-layout variants (see _q3_compose)."""
    c = c.select("c_custkey", "c_nationkey")
    o = o.select("o_orderkey", "o_custkey")
    li = li.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    # join order: the selective (region-pruned, ~1/5) dim chain first —
    # it shrinks lineitem BEFORE the big li⋈o shuffle, cutting that
    # shuffle's probe side ~5x (measured -19% at sf0.1; the win grows
    # with SF since li⋈o is the only fact-fact shuffle in the plan)
    # no broadcast hint: the LocalRelation's known size makes the
    # planner broadcast it statically; on the scale path the chain is
    # unbounded and must keep shuffle-join degradability (plan-tested)
    return (
        li.join(dim, li.l_suppkey == F.col("s_suppkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(
            c,
            (F.col("o_custkey") == c.c_custkey) & (c.c_nationkey == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@_q(
    "join_outer_customer_orders",
    """
    SELECT c_custkey,
           CAST(count(o_orderkey) AS BIGINT)        AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_outer_customer_orders(spark, sf_dir):
    """Left-outer join preserving order-less customers (J4).

    The aggregate is pushed BELOW the join (r8): orders collapses to
    one row per o_custkey first (partial+final hash agg), then the
    left join runs customer-rows x customer-rows instead of
    customer-rows x order-rows and needs no post-join aggregate. At
    scale this shrinks the join's probe side by the orders-per-customer
    factor and removes a whole shuffle of full order rows; the
    aggregated side arrives at the join already hash-partitioned on
    the join key, so only the customer side exchanges."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    per_cust = o.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("_n"),
        F.sum("o_totalprice").alias("_spent"),
    )
    return c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left").select(
        "c_custkey",
        F.coalesce(F.col("_n"), F.lit(0).cast("long")).alias("n_orders"),
        F.round(F.coalesce(F.col("_spent"), F.lit(0.0)), 2).alias("total_spent"),
    )


@_q(
    "join_semi_customers_with_open_orders",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    """,
)
def join_semi_customers_with_open_orders(spark, sf_dir):
    """Left-semi join = EXISTS (J5)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_mktsegment")


@_q(
    "join_anti_customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti_customers_without_orders(spark, sf_dir):
    """Left-anti join = NOT EXISTS (J5/J2)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@_q(
    "join_full_outer_keys",
    """
    WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         p AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'P')
    SELECT coalesce(f.o_custkey, p.o_custkey) AS custkey,
           f.o_custkey IS NOT NULL AS has_f,
           p.o_custkey IS NOT NULL AS has_p
    FROM f FULL OUTER JOIN p ON f.o_custkey = p.o_custkey
    """,
)
def join_full_outer_keys(spark, sf_dir):
    """Full-outer join (J4): customers with F-status, P-status, or
    both orders — no side dropped."""
    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("fk")).distinct()
    p = o.filter(F.col("o_orderstatus") == "P").select(F.col("o_custkey").alias("pk")).distinct()
    return f.join(p, f.fk == p.pk, "full").select(
        F.coalesce("fk", "pk").alias("custkey"),
        F.col("fk").isNotNull().alias("has_f"),
        F.col("pk").isNotNull().alias("has_p"),
    )


@_q(
    "join_theta_acctbal_band",
    """
    SELECT s_suppkey, CAST(count(c_custkey) AS BIGINT) AS n_close
    FROM supplier LEFT JOIN customer
      ON c_acctbal BETWEEN s_acctbal - 100 AND s_acctbal + 100
    GROUP BY s_suppkey
    """,
)
def join_theta_acctbal_band(spark, sf_dir):
    """Theta/range join with a count rollup (J6). Until r10 this ran
    the band BNL join Catalyst picks (fine at sf0.1's 1k x 15k), but
    the sf10 parity sweep exposed it as the round's scale-killer: the
    ±100 band MATCHES ~2.7B supplier-customer pairs at 100k x 1.5M,
    and any join strategy — BNL or the binned equi-join — must
    materialize every pair just to count it (>30 min at sf10). Since
    the query only needs the count, it now pushes the aggregate below
    the join entirely: band_count_join evaluates the cumulative
    distribution of customer balances at each supplier's band
    endpoints via a two-level binned prefix sum (count = F(hi) -
    F(lo⁻)), linear in both inputs — sf10 runs in seconds and the
    pairs never exist. Value-identical to the BNL form
    (tests/test_scale_ops.py pins parity), oracle unchanged."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.relational import (
        band_count_join,
    )

    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    return band_count_join(
        s, c, ["s_suppkey"], "s_acctbal", "c_acctbal",
        delta=100.0, bin_width=2.0, count_alias="n_close",
    )


@_q(
    "agg_distinct_by_status",
    """
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           count(*)                                  AS n_orders,
           round(avg(o_totalprice), 2)               AS avg_price,
           round(min(o_totalprice), 2)               AS min_price,
           round(max(o_totalprice), 2)               AS max_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_distinct_by_status(spark, sf_dir):
    """COUNT DISTINCT + min/max/avg in one hash agg (A4)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@_q(
    "agg_rollup_region_nation",
    """
    SELECT r_name, n_name, round(sum(c_acctbal), 2) AS acctbal, count(*) AS n
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup_region_nation(spark, sf_dir):
    """ROLLUP grouping sets (A6) over a broadcast dim chain."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.round(F.sum("c_acctbal"), 2).alias("acctbal"), F.count(F.lit(1)).alias("n")
    )


@_q(
    "window_rank_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, CAST(rk AS BIGINT) AS rk FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders) t
    WHERE rk <= 3
    """,
)
def window_rank_orders_per_customer(spark, sf_dir):
    """Top-k per group via ranking window (W3). The window input rides
    the generalized footer-stat narrowing (plans.partitioning
    .narrow_shuffle, r7): at fixture scale the partition-by exchange
    is data-sized (3 tasks for 150k rows, -32% interleaved) instead of
    conf-sized; at scale the helper no-ops and the conf sizes it."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.plans.partitioning import (
        narrow_shuffle,
    )

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    o = narrow_shuffle(o, _table_rows(sf_dir, "orders"), "o_custkey")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    )


@_q(
    "window_lag_event_gaps",
    """
    SELECT event_id, user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id) AS gap_us
    FROM events
    """,
)
def window_lag_event_gaps(spark, sf_dir):
    """lag analytic (W4): inter-event gap per user in microseconds."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    return e.select(
        "event_id",
        "user_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
    )


@_q(
    "window_running_revenue",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_spent
    FROM orders
    """,
)
def window_running_revenue(spark, sf_dir):
    """Running aggregate with explicit frame (W5)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spent"),
    )


@_q(
    "window_first_last_value",
    """
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS cheapest_ok,
           last_value(o_orderkey) OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice, o_orderkey
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND UNBOUNDED FOLLOWING) AS priciest_ok
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_first_last_value(spark, sf_dir):
    """first_value/last_value with explicit full frame (W4) — the
    default running frame makes last_value a footgun; the full frame
    is the analytic people mean."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("cheapest_ok"),
        F.last("o_orderkey").over(full).alias("priciest_ok"),
    )


@_q(
    "window_share_of_total",
    """
    SELECT n_name,
           round(nation_rev, 2) AS nation_rev,
           round(nation_rev / sum(nation_rev) OVER (PARTITION BY r_name), 6) AS region_share
    FROM (SELECT n_name, r_name, sum(c_acctbal) AS nation_rev
          FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY n_name, r_name) t
    """,
)
def window_share_of_total(spark, sf_dir):
    """Percent-of-group-total: aggregate then a partition-window ratio
    (W5) — grouped agg and window composed without a second scan."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    base = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.sum("c_acctbal").alias("nation_rev"))
    )
    w = Window.partitionBy("r_name")
    return base.select(
        "n_name",
        F.round("nation_rev", 2).alias("nation_rev"),
        F.round(F.col("nation_rev") / F.sum("nation_rev").over(w), 6).alias("region_share"),
    )


@_q(
    "sort_topk_lineitem",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 20
    """,
)
def sort_topk_lineitem(spark, sf_dir):
    """ORDER BY + LIMIT -> TakeOrderedAndProject, no global sort (O2/O3)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(20)
    )


@_q(
    "sort_nulls_ordering",
    """
    SELECT event_id, user_id, gap_us FROM (
      SELECT event_id, user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                    ORDER BY ts, event_id) AS gap_us
      FROM events) t
    ORDER BY gap_us ASC NULLS FIRST, event_id
    LIMIT 30
    """,
)
def sort_nulls_ordering(spark, sf_dir):
    """Explicit null ordering (O2): NULLS FIRST ascending sort over a
    nullable analytic column."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = e.select("event_id", "user_id", (us - F.lag(us).over(w)).alias("gap_us"))
    return gaps.orderBy(F.col("gap_us").asc_nulls_first(), "event_id").limit(30)


@_q(
    "set_ops_customer_years",
    """
    WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
         y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
    SELECT 'intersect' AS op, count(*) AS n FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
    UNION ALL
    SELECT 'except'    AS op, count(*) AS n FROM (SELECT * FROM y95 EXCEPT    SELECT * FROM y96)
    UNION ALL
    SELECT 'union'     AS op, count(*) AS n FROM (SELECT * FROM y95 UNION     SELECT * FROM y96)
    """,
)
def set_ops_customer_years(spark, sf_dir):
    """INTERSECT / EXCEPT / UNION (§2.7)."""
    o = _t(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    rows = [
        ("intersect", y95.intersect(y96)),
        ("except", y95.subtract(y96)),
        ("union", y95.union(y96).distinct()),
    ]
    out = None
    for op, df in rows:
        one = df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")
        out = one if out is None else out.unionByName(one)
    return out


@_q(
    "scalar_string_part",
    """
    SELECT p_partkey,
           lower(p_name)                          AS name_lc,
           upper(p_brand)                         AS brand_uc,
           CAST(length(p_name) AS BIGINT)         AS name_len,
           substr(p_type, 1, 3)                   AS type3,
           concat_ws('-', p_brand, p_type)        AS brand_type,
           split_part(p_name, ' ', 2)             AS second_word,
           regexp_extract(p_name, '(\\w+)$', 1)   AS last_word,
           replace(p_name, ' ', '_')              AS snake
    FROM part
    """,
)
def scalar_string_part(spark, sf_dir):
    """String function surface (F7)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lc"),
        F.upper("p_brand").alias("brand_uc"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 3).alias("type3"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("second_word"),
        F.regexp_extract("p_name", r"(\w+)$", 1).alias("last_word"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake"),
    )


@_q(
    "scalar_string_extended",
    """
    SELECT p_partkey,
           lpad(p_brand, 12, '*')                       AS brand_pad,
           rpad(substr(p_name, 1, 4), 8, '.')           AS name_pad,
           repeat(p_type, 2)                            AS type_twice,
           reverse(p_name)                              AS name_rev,
           CAST(position(' ' IN p_name) AS BIGINT)      AS space_at,
           translate(p_brand, '#', '-')                 AS brand_dash,
           left(p_name, 3)                              AS name_l3,
           right(p_type, 3)                             AS type_r3
    FROM part
    """,
)
def scalar_string_extended(spark, sf_dir):
    """Extended string surface (F7): pad/repeat/reverse/position/
    translate/left/right."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("brand_pad"),
        F.rpad(F.substring("p_name", 1, 4), 8, ".").alias("name_pad"),
        F.repeat(F.col("p_type"), 2).alias("type_twice"),
        F.reverse("p_name").alias("name_rev"),
        F.instr(F.col("p_name"), " ").cast("long").alias("space_at"),
        F.translate("p_brand", "#", "-").alias("brand_dash"),
        F.substring("p_name", 1, 3).alias("name_l3"),
        F.substring(F.col("p_type"), -3, 3).alias("type_r3"),
    )


@_q(
    "scalar_datetime_orders",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate)    AS BIGINT) AS yr,
           CAST(month(o_orderdate)   AS BIGINT) AS mo,
           CAST(day(o_orderdate)     AS BIGINT) AS dom,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
    FROM orders
    """,
)
def scalar_datetime_orders(spark, sf_dir):
    """Date/time function surface (F8)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.dayofmonth("o_orderdate").cast("long").alias("dom"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).cast("long").alias("days_since"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias("month_start"),
    )


@_q(
    "scalar_encoding_misc",
    """
    SELECT p_partkey,
           to_base64(encode(p_name))                  AS name_b64,
           upper(hex(encode(p_brand)))                AS brand_hex,
           greatest(p_size, 25)                       AS size_floor25,
           least(p_size, 25)                          AS size_cap25,
           CAST(sign(p_size - 25) AS BIGINT)          AS size_sign
    FROM part
    """,
)
def scalar_encoding_misc(spark, sf_dir):
    """Encoding + comparison scalars (F7/F9): base64/hex round-trips,
    greatest/least/sign."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.base64(F.encode(F.col("p_name"), "UTF-8")).alias("name_b64"),
        F.upper(F.hex(F.encode(F.col("p_brand"), "UTF-8"))).alias("brand_hex"),
        F.greatest(F.col("p_size"), F.lit(25)).alias("size_floor25"),
        F.least(F.col("p_size"), F.lit(25)).alias("size_cap25"),
        F.signum(F.col("p_size") - 25).cast("long").alias("size_sign"),
    )


@_q(
    "scalar_json_events",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def scalar_json_events(spark, sf_dir):
    """JSON extraction from the semi-structured props column (F12)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


@_q(
    "case_pred_orders",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS bucket
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_totalprice BETWEEN 5000 AND 450000
      AND o_orderstatus LIKE 'O%'
    """,
)
def case_pred_orders(spark, sf_dir):
    """CASE WHEN + IN/BETWEEN/LIKE predicate surface (P8/P9)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & F.col("o_totalprice").between(5000, 450000)
            & F.col("o_orderstatus").like("O%")
        )
        .select(
            "o_orderkey",
            F.when(F.col("o_totalprice") > 300000, "big")
            .when(F.col("o_totalprice") > 100000, "mid")
            .otherwise("small")
            .alias("bucket"),
        )
    )


@_q(
    "agg_price_histogram",
    """
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders GROUP BY 1
    """,
)
def agg_price_histogram(spark, sf_dir):
    """Equi-width histogram: bucket arithmetic + grouped count — the
    building block of NDV/selectivity statistics."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@_q(
    "scalar_conditional_lineitem",
    """
    SELECT l_orderkey, l_linenumber,
           nullif(l_discount, 0.0)                       AS disc_or_null,
           ifnull(nullif(l_discount, 0.0), -1.0)         AS disc_or_neg,
           coalesce(nullif(l_tax, 0.0), l_discount, 0.5) AS first_nonzero,
           CASE WHEN l_quantity IS NULL THEN 'missing' ELSE 'present' END AS qty_state
    FROM lineitem WHERE l_linenumber = 2
    """,
)
def scalar_conditional_lineitem(spark, sf_dir):
    """Conditional/null-handling expressions: nullif / ifnull /
    coalesce chains (P8)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 2)
    disc_null = F.nullif(F.col("l_discount"), F.lit(0.0))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        disc_null.alias("disc_or_null"),
        F.ifnull(disc_null, F.lit(-1.0)).alias("disc_or_neg"),
        F.coalesce(F.nullif(F.col("l_tax"), F.lit(0.0)), F.col("l_discount"), F.lit(0.5)).alias(
            "first_nonzero"
        ),
        F.when(F.col("l_quantity").isNull(), "missing").otherwise("present").alias("qty_state"),
    )


@_q(
    "pivot_priority_status",
    """
    SELECT o_orderpriority,
           round(sum(CASE WHEN o_orderstatus = 'O'
                          THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2)::DOUBLE AS O,
           round(sum(CASE WHEN o_orderstatus = 'F'
                          THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2)::DOUBLE AS F,
           round(sum(CASE WHEN o_orderstatus = 'P'
                          THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2)::DOUBLE AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_priority_status(spark, sf_dir):
    """Pivot (wide aggregation). Money pivots sum as DECIMAL so the
    hash check is summation-order-independent at every scale (the
    sf11 sf10 sweep caught the double sum crossing the harness's
    int/float render boundary at 2.5e11 magnitude — the q1 class)."""
    o = _t(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2).cast(
                "double"
            )
        )
    )
    return piv


# ---------------------------------------------------------------------------
# CDC operators (SURVEY §2 [REF] core)
# ---------------------------------------------------------------------------


@_q(
    "cdc_incremental_scan",
    f"""
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, round(value, 3) AS value_r
    FROM events WHERE ts > TIMESTAMP '{WM}'
    """,
)
def cdc_incremental_scan(spark, sf_dir):
    """Watermark-predicate scan (S4/P3, ≙ service.py:52-54); the filter
    is pushed into the parquet scan."""
    e = _t(spark, sf_dir, "events")
    return cdc.incremental_scan(e, "ts", WM).select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        F.round("value", 3).alias("value_r"),
    )


@_q(
    "cdc_watermark_next",
    f"""
    SELECT epoch_us(max(ts)) AS last_updated_us, count(*) AS batch_rows
    FROM events WHERE ts > TIMESTAMP '{WM}'
    """,
)
def cdc_watermark_next(spark, sf_dir):
    """New high-watermark of a delta batch (A1, ≙ service.py:73)."""
    e = _t(spark, sf_dir, "events")
    delta = cdc.incremental_scan(e, "ts", WM)
    return cdc.next_watermark(delta, "ts").select(
        F.unix_micros("last_updated").alias("last_updated_us"), "batch_rows"
    )


@_q(
    "cdc_watermark_upsert",
    """
    WITH v1 AS (SELECT event_type AS table_name, max(ts) AS last_updated, 1 AS version
                FROM events WHERE ts < TIMESTAMP '2024-01-10' GROUP BY 1),
         v2 AS (SELECT event_type AS table_name, max(ts) AS last_updated, 2 AS version
                FROM events WHERE ts < TIMESTAMP '2024-01-20'
                  AND event_type IN ('click', 'view') GROUP BY 1),
         u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
         r AS (SELECT *, row_number() OVER (PARTITION BY table_name
                                            ORDER BY version DESC) AS rn FROM u)
    SELECT table_name, epoch_us(last_updated) AS last_updated_us, version
    FROM r WHERE rn = 1
    """,
)
def cdc_watermark_upsert(spark, sf_dir):
    """Last-writer-wins keyed upsert (S6/W2, ≙ ON DUPLICATE KEY UPDATE
    service.py:38-42) without Delta: union + one window."""
    e = _t(spark, sf_dir, "events")
    v1 = (
        e.filter(F.col("ts") < F.lit("2024-01-10").cast("timestamp"))
        .groupBy(F.col("event_type").alias("table_name"))
        .agg(F.max("ts").alias("last_updated"))
        .withColumn("version", F.lit(1))
    )
    v2 = (
        e.filter(
            (F.col("ts") < F.lit("2024-01-20").cast("timestamp"))
            & F.col("event_type").isin("click", "view")
        )
        .groupBy(F.col("event_type").alias("table_name"))
        .agg(F.max("ts").alias("last_updated"))
        .withColumn("version", F.lit(2))
    )
    merged = cdc.watermark_upsert(v1, v2)
    return merged.select(
        "table_name", F.unix_micros("last_updated").alias("last_updated_us"), "version"
    )


@_q(
    "cdc_serialize_rows",
    """
    SELECT event_id,
           '{"event_id":' || event_id::VARCHAR ||
           ',"ts":"' || strftime(ts, '%Y-%m-%dT%H:%M:%S') ||
           '","user_id":' || user_id::VARCHAR ||
           ',"event_type":"' || event_type || '"}' AS data_string
    FROM events
    """,
)
def cdc_serialize_rows(spark, sf_dir):
    """Canonical row->JSON with the reference's coercions (P6/F1-F3,
    ≙ service.py:115-117,176-182): ISO timestamps, stable key order."""
    e = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    return cdc.serialize_rows(e).select("event_id", "data_string")


@_q(
    "cdc_chunk_documents",
    """
    WITH numbered AS (
      SELECT doc_id, text, doc_id // 200 AS bucket,
             row_number() OVER (PARTITION BY doc_id // 200 ORDER BY doc_id, text) AS rn
      FROM documents
    ), chunks AS (
      SELECT bucket, (rn - 1) // 100 AS chunk_no,
             string_agg(text, ' ' ORDER BY rn) AS document,
             count(*) AS n_rows, min(doc_id) AS first_key, max(doc_id) AS last_key
      FROM numbered GROUP BY 1, 2
    )
    SELECT 'documents#' || bucket::VARCHAR || '#' || first_key::VARCHAR AS chunk_id,
           CAST(n_rows AS BIGINT) AS n_rows, first_key, last_key,
           md5(document) AS doc_md5
    FROM chunks
    """,
)
def cdc_chunk_documents(spark, sf_dir):
    """Fixed-size 100-row chunk assembly (W1/A2/A3, ≙ service.py:109-145)
    with deterministic order + deterministic chunk ids (SURVEY §7).

    Scale-safe form: the row_number window partitions by a coarse
    key-range bucket (200 key values per bucket), so no single task
    ever sorts the whole table — chunks never span buckets and the
    chunk id carries the bucket. The unpartitioned variant remains in
    ``cdc.chunk_documents`` for bounded micro-batch deltas only."""
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("bucket", F.floor(F.col("doc_id") / 200))
    )
    chunks = cdc.chunk_documents(d, "doc_id", "text", "documents", bucket_col="bucket")
    return chunks.select(
        "chunk_id", "n_rows", "first_key", "last_key", F.md5("document").alias("doc_md5")
    )


@_q(
    "cdc_snapshot_latest",
    """
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, round(value, 3) AS value_r
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
    WHERE rn = 1
    """,
)
def cdc_snapshot_latest(spark, sf_dir):
    """Current-snapshot as-of view: latest row per key (J7/W2,
    the upsert-by-id semantics of service.py:41,166)."""
    e = _t(spark, sf_dir, "events")
    snap = cdc.snapshot_latest(e, ["user_id"], "ts", tiebreak="event_id")
    return snap.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        F.round("value", 3).alias("value_r"),
    )


@_q(
    "asof_join_purchase_click",
    """
    SELECT p.event_id, p.user_id, epoch_us(p.ts) AS p_ts_us,
           epoch_us(c.ts) AS click_ts_us, round(c.value, 3) AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_purchase_click(spark, sf_dir):
    """As-of join (J6/J7): for each purchase, the latest prior click of
    the same user. Union + one window pass — a single shuffle on the
    key, no range-join BNL (operators/relational.py::asof_join)."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = relational.asof_join(
        purchases,
        clicks.withColumnRenamed("ts", "c_ts"),
        on="user_id",
        left_ts="ts",
        right_ts="c_ts",
        right_cols=["value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("p_ts_us"),
        F.unix_micros("c_ts").alias("click_ts_us"),
        F.round("value", 3).alias("click_value"),
    )


@_q(
    "cdc_catalog_watermark_join",
    """
    WITH catalog AS (SELECT DISTINCT event_type AS table_name FROM events
                     UNION ALL SELECT 'watermark'),
         wm AS (SELECT event_type AS table_name, max(ts) AS last_updated
                FROM events WHERE event_type IN ('click', 'view') GROUP BY 1)
    SELECT c.table_name,
           epoch_us(w.last_updated) AS last_updated_us,
           w.last_updated IS NULL AS needs_full_scan
    FROM catalog c LEFT JOIN wm w ON c.table_name = w.table_name
    WHERE c.table_name <> 'watermark'
    """,
)
def cdc_catalog_watermark_join(spark, sf_dir):
    """The reference's control loop as relational algebra (J1/J2):
    catalog ⋈ watermark left-outer (missing watermark -> NULL -> full
    scan branch, ≙ service.py:27-30,52-57) with the bookkeeping table
    excluded (≙ controller.py:24). Watermark side broadcast — it is
    always tiny."""
    e = _t(spark, sf_dir, "events")
    catalog = (
        e.select(F.col("event_type").alias("table_name"))
        .distinct()
        .unionByName(spark.createDataFrame([("watermark",)], "table_name string"))
    )
    wm = (
        e.filter(F.col("event_type").isin("click", "view"))
        .groupBy(F.col("event_type").alias("table_name"))
        .agg(F.max("ts").alias("last_updated"))
    )
    return (
        catalog.filter(F.col("table_name") != "watermark")
        .join(F.broadcast(wm), "table_name", "left")
        .select(
            "table_name",
            F.unix_micros("last_updated").alias("last_updated_us"),
            F.col("last_updated").isNull().alias("needs_full_scan"),
        )
    )


@_q(
    "window_ranking_suite",
    """
    SELECT o_custkey, o_orderkey,
           CAST(rank()       OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4)     OVER w AS BIGINT) AS quartile,
           round(percent_rank() OVER w, 6)     AS prnk,
           lead(o_orderkey) OVER w             AS next_ok,
           lag(o_orderkey)  OVER w             AS prev_ok
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_ranking_suite(spark, sf_dir):
    """Full ranking-function surface (W3/W4): rank, dense_rank, ntile,
    percent_rank, lead, lag over one window definition."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.lead("o_orderkey").over(w).alias("next_ok"),
        F.lag("o_orderkey").over(w).alias("prev_ok"),
    )


@_q(
    "string_similarity_parts",
    """
    WITH pairs AS (SELECT p_partkey, p_name,
                          lead(p_name) OVER (ORDER BY p_partkey) AS next_name
                   FROM part)
    SELECT p_partkey,
           CAST(levenshtein(p_name, next_name) AS BIGINT) AS lev
    FROM pairs WHERE next_name IS NOT NULL
    """,
)
def string_similarity_parts(spark, sf_dir):
    """Edit-distance similarity (F7): levenshtein over candidate pairs
    (consecutive keys here; blocking is the candidate generator's job).
    Pairing via consecutive_pairs — bucketed lead, no global window."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    pairs = relational.consecutive_pairs(p, "p_partkey", "p_name", 250, "next_name")
    return pairs.filter(F.col("next_name").isNotNull()).select(
        "p_partkey",
        F.levenshtein("p_name", "next_name").cast("long").alias("lev"),
    )


# ---------------------------------------------------------------------------
# Dedup (north star)
# ---------------------------------------------------------------------------


@_q(
    "dedup_exact",
    """
    WITH u AS (SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 1000000, text FROM documents),
         r AS (SELECT doc_id, md5(text) AS fp,
                      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
               FROM u)
    SELECT doc_id, fp FROM r WHERE rn = 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact-content dedup, lowest-id winner (A9). Input is the corpus
    unioned with a shifted copy of itself so every text has exactly one
    duplicate — the op must keep the original ids only.

    Narrow-shuffle form (r15 optimization, guide §2.3 "shuffle keys
    and metadata instead of payloads"): this query's output is only
    (doc_id, fp) and fp IS the dedup group key, so the general
    ``dedup.exact_dedup`` composition — whose min_by(struct(*cols))
    ships the full TEXT through the exchange inside the survivor
    struct, then re-derives md5 from the surviving text — does
    strictly unnecessary byte movement here. Grouping by md5(text)
    and aggregating min(doc_id) is value-identical (every member of
    a group shares the text, hence the md5; the oracle is literally
    min-doc_id-per-md5) and the exchange carries one (32-char fp,
    long) pair per distinct text per map partition instead of one
    full-text struct. Interleaved min-of-3 with BOTH plans rebuilt
    per repetition (OPTIMIZATION_r15.md "Measurement trap" — rebuilt per rep because
    under AQE a re-executed action on one DataFrame object reuses its
    materialized stages and times only the tail): sf10 0.605→0.400 s
    (0.66x), sf1 0.084→0.048 s (0.57x), sf0.1 1.04x (floor-dominated)
    — the removed bytes are the payload, and the plan drops from
    SortAggregate + two Sorts (struct min_by is not hash-aggregable)
    to a codegen HashAggregate pair (plans/r15/dedup_exact_*.txt).
    ``dedup.exact_dedup`` keeps its general keep-all-columns contract
    for consumers that need the surviving rows themselves."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 1000000))
    return (
        doubled.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fp")
    )


def _duck_shingles(n: int = 3) -> str:
    """DuckDB expression for word n-gram shingles of column ``text``
    (mirror of functions.hashing.word_shingles)."""
    return f"""
      list_distinct(CASE WHEN len(t) < {n} THEN [array_to_string(t, ' ')]
           ELSE list_transform(generate_series(1, len(t) - {n - 1}),
                               i -> array_to_string(t[i:i+{n - 1}], ' ')) END)
    """


def _duck_token_poly_base(key: str) -> str:
    """CTE pair (``th``, ``bh``) computing the token-polynomial word
    3-gram shingle hashes per ``key`` — the DuckDB mirror of
    functions.hashing.token_hashes + poly_shingle_expr (one md5 per
    token, shingles combined as (acc*P + h) % M31 folds; sub-3-token
    docs fold their whole array). ``bh.base`` is the distinct shingle
    hash list the minhash family mins over. Expects a ``toks`` CTE
    with (key, t) already defined."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.hashing import (
        MERSENNE31 as M,
        SHINGLE_P as P,
    )

    tri = f"((((th[i] * {P} + th[i+1]) % {M}) * {P} + th[i+2]) % {M})"
    return f"""
    th AS (SELECT {key}, list_transform(t,
             tk -> ('0x' || substr(md5(tk), 1, 15))::BIGINT % {M}) AS th FROM toks),
    bh AS (SELECT {key}, list_distinct(CASE
             WHEN len(th) = 1 THEN [th[1]]
             WHEN len(th) = 2 THEN [(th[1] * {P} + th[2]) % {M}]
             ELSE list_transform(generate_series(1, len(th) - 2), i -> {tri})
           END) AS base FROM th)"""


def _duck_minhash_sql(num_hashes: int) -> str:
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.hashing import (
        MERSENNE31,
        universal_coeffs,
    )

    coeffs = universal_coeffs(num_hashes)
    hash_cols = ",\n           ".join(
        f"list_min(list_transform(base, h -> ({a} * h + {b}) % {MERSENNE31})) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    return f"""
    WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
         {_duck_token_poly_base('doc_id')}
    SELECT doc_id,
           {hash_cols}
    FROM bh
    """


@_q("dedup_minhash_signatures", _duck_minhash_sql(4))
def dedup_minhash_signatures(spark, sf_dir):
    """MinHash signatures over word 3-gram shingles (A9 scale path):
    k independent portable min-hashes, all codegen'd array exprs."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sig = dedup.minhash_signatures(d, "text", "doc_id", num_hashes=4)
    return sig.select("doc_id", *[F.col("minhash")[i].alias(f"h{i}") for i in range(4)])


def _duck_lsh_sql(
    num_hashes: int = 16,
    num_bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> str:
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.hashing import (
        MERSENNE31,
        universal_coeffs,
    )

    coeffs = universal_coeffs(num_hashes)
    hash_cols = ",\n           ".join(
        f"list_min(list_transform(base, h -> ({a} * h + {b}) % {MERSENNE31})) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_rows = "\n      UNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(f"h{b * rows_per_band + j}::VARCHAR" for j in range(rows_per_band))
        + ")) AS bucket FROM sig"
        for b in range(num_bands)
    )
    # The cap predicate is over the bucket's MEMBER COUNT — a property
    # of the doc partition, identical across engines even though the
    # bucket keys differ (Spark: xxhash64 of the slice; here: md5 of
    # the joined text) since key equality <=> slice equality both ways.
    cap = (
        f",\n         sized AS (SELECT band, bucket, count(*) AS n"
        f" FROM bands GROUP BY 1, 2),\n"
        f"         keep AS (SELECT band, bucket FROM sized"
        f" WHERE n <= {max_bucket_size})"
        if max_bucket_size is not None
        else ""
    )
    keep_join = (
        "JOIN keep k ON k.band = l.band AND k.bucket = l.bucket"
        if max_bucket_size is not None
        else ""
    )
    return f"""
    WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
         {_duck_token_poly_base('doc_id')},
         sig AS (SELECT doc_id, {hash_cols} FROM bh),
         bands AS ({band_rows}){cap}
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
    {keep_join}
    """


@_q("dedup_lsh_candidates", _duck_lsh_sql())
def dedup_lsh_candidates(spark, sf_dir):
    """MinHash-LSH banding: near-dup candidate pairs via per-bucket
    self-join — no global cross join (A9 scale path).

    Stage sizing (r6, VERDICT r5 task 4): below 20k docs (parquet
    footer stat, no job) the signature aggregate is narrowed to one
    hash partition and coalesce(1)'d, whose SinglePartition output
    satisfies the banding groupBy AND the pair distinct — both their
    exchanges vanish, leaving md5/banding work on the parallel map
    side of ONE shuffle (measured -28% steady, sf0.1, interleaved).
    Above the gate the operators keep their conf-sized partial-
    aggregating shape."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # gate measured at both fixture scales: 5k docs (250k exploded
    # hashes) runs best single-partition; 50k docs (2.5M exploded)
    # already wants the conf-sized partial-combining shape — the
    # cutover sits between, and the safe side is the scale shape
    small = _table_rows(sf_dir, "documents") < 20_000
    sig = dedup.minhash_signatures(
        d, "text", "doc_id", num_hashes=16, agg_partitions=1 if small else None
    )
    if small:
        sig = sig.coalesce(1)
    # NOTE (VERDICT r6 task 5): this entry runs UNCAPPED so the oracle
    # enumerates all pairs; at production scale always pass
    # max_bucket_size (boilerplate megabuckets emit B^2/2 pairs) — the
    # driver-checked capped variant is dedup_lsh_candidates_capped.
    return dedup.lsh_candidate_pairs(sig, "doc_id", num_bands=4, rows_per_band=4)


@_q("dedup_lsh_candidates_capped", _duck_lsh_sql(max_bucket_size=2))
def dedup_lsh_candidates_capped(spark, sf_dir):
    """LSH banding WITH the production bucket-size cap exercised
    (VERDICT r6 task 5): buckets larger than ``max_bucket_size`` are
    dropped before pair expansion — the 100 TB guard against
    boilerplate megabuckets (one million-doc bucket is 5*10^11 pairs;
    its members belong in exact-hash dedup, not pair enumeration).
    The oracle mirrors the cap as a HAVING over the bucket member
    count, which is engine-independent even though bucket keys differ.
    The cap is set to 2 — BELOW the fixture's max observed bucket (3
    at sf0.01) — precisely so the gate proves pairs get dropped, not
    just that the predicate parses; production values are ~10^3."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    small = _table_rows(sf_dir, "documents") < 20_000
    sig = dedup.minhash_signatures(
        d, "text", "doc_id", num_hashes=16, agg_partitions=1 if small else None
    )
    if small:
        sig = sig.coalesce(1)
    return dedup.lsh_candidate_pairs(
        sig, "doc_id", num_bands=4, rows_per_band=4, max_bucket_size=2
    )


def _duck_winnow_cte(k: int = 4, w: int = 8) -> str:
    """CTE prefix computing winnowing fingerprints (doc_id, fp rows in
    ``fpx``) — mirror of dedup.winnow_fingerprints. Shingles keep
    positional order (NO list_distinct — winnowing is positional,
    unlike the minhash shingle *set*)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.hashing import (
        MERSENNE31,
    )

    return f"""
    toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
    sh AS (SELECT doc_id, CASE WHEN len(t) < {k} THEN [array_to_string(t, ' ')]
             ELSE list_transform(generate_series(1, len(t) - {k - 1}),
                                 i -> array_to_string(t[i:i+{k - 1}], ' ')) END AS shingles
           FROM toks),
    h AS (SELECT doc_id, list_transform(shingles,
             s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {MERSENNE31}) AS hs FROM sh),
    fps AS (SELECT doc_id, list_distinct(list_transform(
               generate_series(1, greatest(len(hs) - {w - 1}, 1)),
               i -> list_min(hs[i:i+{w - 1}]))) AS f FROM h),
    fpx AS (SELECT doc_id, unnest(f) AS fingerprint FROM fps)
    """


@_q(
    "dedup_winnow_fingerprints",
    f"WITH {_duck_winnow_cte()} SELECT doc_id, fingerprint FROM fpx",
)
def dedup_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) rolling-hash fingerprints: window minima over
    word 4-gram hashes, window 8 — any shared token run >= 11 long
    between two docs shares a fingerprint. The partial-overlap
    detector exact fingerprints can't express (A9 family)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.winnow_fingerprints(d, "text", "doc_id", k=4, window=8)


@_q(
    "dedup_winnow_candidates",
    f"""
    WITH {_duck_winnow_cte()},
    sized AS (SELECT fingerprint, count(*) AS n FROM fpx GROUP BY fingerprint),
    keep AS (SELECT fingerprint FROM sized WHERE n BETWEEN 2 AND 50),
    pairs AS (SELECT l.doc_id AS id_a, r.doc_id AS id_b
              FROM fpx l JOIN fpx r USING (fingerprint) JOIN keep USING (fingerprint)
              WHERE l.doc_id < r.doc_id)
    SELECT id_a, id_b, count(*) AS shared_fps
    FROM pairs GROUP BY id_a, id_b HAVING count(*) >= 2
    """,
)
def dedup_winnow_candidates(spark, sf_dir):
    """Partial-overlap candidate pairs: docs sharing >= 2 winnowing
    fingerprints, scored by the shared count. Bucketed per-fingerprint
    pair expansion with a ubiquitous-k-gram cap (50) — never a global
    self-join."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fps = dedup.winnow_fingerprints(d, "text", "doc_id", k=4, window=8)
    return dedup.winnow_candidate_pairs(fps, "doc_id", min_shared=2, max_bucket_size=50)


@_q(
    "dedup_setsim_exact",
    r"""
    WITH s AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS tk
               FROM documents WHERE doc_id % 11 = 0),
    tok AS (SELECT doc_id, unnest(tk) AS t FROM s),
    df AS (SELECT t, count(*) AS dfc FROM tok GROUP BY t),
    rk AS (SELECT tok.doc_id, tok.t,
                  row_number() OVER (PARTITION BY tok.doc_id
                                     ORDER BY df.dfc, tok.t) AS rn
           FROM tok JOIN df USING (t)),
    sz AS (SELECT doc_id, len(tk) AS n FROM s),
    pre AS (SELECT rk.doc_id, rk.t
            FROM rk JOIN sz USING (doc_id)
            WHERE rk.rn <= sz.n - (9 * sz.n + 9) // 10 + 1),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM pre a JOIN pre b ON a.t = b.t AND a.doc_id < b.doc_id),
    p AS (SELECT id_a, id_b,
                 len(list_intersect(sa.tk, sb.tk)) * 1.0 /
                 (len(sa.tk) + len(sb.tk) - len(list_intersect(sa.tk, sb.tk))) AS jac
          FROM cand JOIN s sa ON sa.doc_id = cand.id_a
                    JOIN s sb ON sb.doc_id = cand.id_b)
    SELECT id_a, id_b, round(jac, 6) AS jaccard FROM p WHERE jac >= 0.9
    """,
)
def dedup_setsim_exact(spark, sf_dir):
    """EXACT Jaccard >= 0.9 self-join via prefix filtering (PPJoin
    family) — the exact counterpart of the approximate LSH candidate
    pass.

    Oracle lineage (r13, VERDICT r12 task 1): through r12 the oracle
    was the brute-force all-pairs join over the same sample — maximally
    independent, but O(n^2) list_intersect calls made it the sweep's
    second-slowest oracle at sf10 (1,496 s for ~45k sampled docs). It
    matched the engine at EVERY scale including one full sf10 pass, so
    the brute-force anchor is on record. From r13 the oracle generates
    candidates with the exact prefix-filtering principle (Chaudhuri et
    al. 2006: if |A∩B| >= a then the first |A|-a+1 tokens of A and
    |B|-a+1 of B under ANY global token order intersect; J >= 0.9
    implies |A∩B| >= ceil(0.9*max(|A|,|B|)), so per-set prefix length
    n - ceil(0.9n) + 1 is lossless) and verifies each candidate with
    the same brute-force list_intersect arithmetic as before. The
    prefix lengths use pure-integer ceil ((9n+9)//10) so no FP
    boundary can differ cross-engine, and the token order (ascending
    document frequency, token) is a total order. Independence note:
    the DuckDB formulation shares the THEOREM with the engine's
    set_similarity_join but nothing else — window-ranked list
    functions vs Spark's exploded token join — and the verify
    arithmetic is unchanged from the brute-force oracle."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 0).select(
        "doc_id", "text"
    )
    out = dedup.set_similarity_join(d, "text", "doc_id", threshold=0.9)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _duck_simhash_sql(bits: int = 16) -> str:
    bit_sums = ",\n           ".join(
        f"sum(CASE WHEN ((hh >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(bits)
    )
    sig = " + ".join(f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits))
    return f"""
    WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                  FROM documents),
         h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hh FROM toks),
         bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bits
    """


@_q("dedup_simhash", _duck_simhash_sql())
def dedup_simhash(spark, sf_dir):
    """SimHash signatures (A9): per-token hash, ±1 per bit position,
    sign -> bit. One explode + one grouped agg."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.simhash(d, "text", "doc_id", bits=16)


#: Signature width for the near-dup candidate query. The r10 sf10
#: sweep caught the 16-bit form as unusable at scale TWICE over: (a)
#: 2^16 signature values cannot separate 500k templated docs — the
#: CANDIDATE SET itself explodes (555k pairs from 5k docs at sf0.1,
#: >1 GiB of result at sf10); (b) its fixed ``>> 8`` bucketing held
#: bucket count constant while data grew, so within-bucket joins grew
#: quadratically (10^9 pairs, 24g heap OOM). 48 bits is the portable
#: md5-prefix hash's full usable width (functions.hashing: 60-bit hh,
#: bits must stay below it); hamming ≤ 6 of 48 is selective (random
#: pairs center at 24) while exact/near dups stay at 0-6.
_SIMHASH_NEARDUP_BITS = 48


def _simhash_bucket_shift(n_docs: int, bits: int = _SIMHASH_NEARDUP_BITS) -> int:
    """Corpus-adaptive bucket width for simhash near-dup candidate
    generation: keep ~16 docs per bucket (bucket_bits =
    max(8, ceil(log2(n/16))), pure-integer bit_length so both engines
    derive the identical value). A fixed bucket count is the same bug
    class as a fixed LSH plane count — candidate-generation
    granularity must scale with the corpus (planes_for_corpus is the
    vec-family analogue). Recall trade is explicit: tighter buckets
    confine candidates to pairs agreeing on more high bits; the
    guaranteed-recall path for hamming radius r is banded multi-table
    hashing (the LSH/winnowing family)."""
    m = max(1, -(-n_docs // 16))
    bucket_bits = max(8, (m - 1).bit_length())
    return max(0, bits - bucket_bits)


@_q(
    "dedup_simhash_neardup",
    f"""
    WITH sig AS ({_duck_simhash_sql(bits=_SIMHASH_NEARDUP_BITS)}),
         nc AS (SELECT GREATEST(1, CAST(ceil(count(*) / 16.0) AS BIGINT)) AS m
                FROM documents),
         sh AS (SELECT GREATEST(0, {_SIMHASH_NEARDUP_BITS} - GREATEST(8,
                    length(ltrim(bin(m - 1), '0')))) AS s FROM nc),
         b0 AS (SELECT doc_id, simhash,
                       simhash >> (SELECT s FROM sh) AS bkt FROM sig),
         ok AS (SELECT bkt FROM b0 GROUP BY bkt
                HAVING count(*) BETWEEN 2 AND 256),
         b AS (SELECT b0.* FROM b0 JOIN ok USING (bkt))
    SELECT a.doc_id AS id_a, bb.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, bb.simhash)) AS BIGINT) AS hamming
    FROM b a JOIN b bb ON a.bkt = bb.bkt AND a.doc_id < bb.doc_id
    WHERE bit_count(xor(a.simhash, bb.simhash)) <= 6
    """,
)
def dedup_simhash_neardup(spark, sf_dir):
    """SimHash near-dup candidates: bucket on the signature's high
    bits, pair within buckets, keep pairs within hamming ≤ 6. 48-bit
    signatures and corpus-adaptive bucket width (see
    _SIMHASH_NEARDUP_BITS / _simhash_bucket_shift — the r10 fixes for
    the two quadratic blowups the sf10 sweep caught); the oracle
    derives the identical shift from count(*) with the same integer
    bit-length formula, so the bucketing replays exactly cross-engine
    at every scale. Degenerate buckets (>256 members — a shared
    template collapsing many docs onto one high-bit prefix) are
    DROPPED before pairing, the same non-discriminative-bucket policy
    as lsh_candidate_pairs(max_bucket_size=...): a hot bucket's pair
    expansion is quadratic in its size regardless of how buckets are
    keyed, and its members are better recovered by the banded
    families."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    shift = _simhash_bucket_shift(_table_rows(sf_dir, "documents"))
    sig = dedup.simhash(d, "text", "doc_id", bits=_SIMHASH_NEARDUP_BITS)
    b = sig.withColumn("bkt", F.shiftright("simhash", shift))
    ok = (
        b.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter((F.col("_n") >= 2) & (F.col("_n") <= 256))
        .select("bkt")
    )
    b = b.join(ok, "bkt")
    left = b.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sig_a"), "bkt")
    right = b.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sig_b"), "bkt")
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        left.join(right, ["bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(hamming <= 6)
        .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
    )


def _duck_minlabel_rounds_ctes(
    rounds: int = 12,
    jumps: int = 8,
    node_src: str = "SELECT doc_id AS node, doc_id AS label FROM u",
    id_out: str = "doc_id",
) -> str:
    """CTE chain computing min-label connected components over a
    ``u`` node source and an ``edges(src, dst)`` CTE — Boruvka-style
    CONTRACTION, not plain neighbor relaxation. Per round: (1) build
    the contracted edge set between current labels (supernodes);
    (2) every supernode points at its smallest neighbor supernode;
    (3) `jumps` pointer-doubling steps collapse supernode chains to
    their roots (full path compression — chains are strictly
    decreasing so this is acyclic); (4) nodes re-label through the
    compressed map. With full compression, every round merges each
    supernode chain into one, so supernode count per component at
    least halves — coverage is exponential in `rounds`, unlike plain
    relaxation whose min label travels O(1) EDGES per round (measured:
    one-jump rounds left a shuffled 64-node path unconverged after 16
    rounds; this form converges a 262,144-node path at rounds=12,
    jumps=8 in 9 s). Adversarial convergence is pinned in
    tests/test_dedup_clusters.py on path/random graphs, independent
    of the LSH pipeline. One row per node throughout; the supernode
    tables shrink geometrically. AS MATERIALIZED is load-bearing:
    several CTEs here are referenced twice, and DuckDB 1.0 INLINES
    multiply-referenced CTEs — without it the plan (and the source
    scan count) doubles per reference, i.e. 2^rounds re-scans."""
    steps = [f"l0 AS MATERIALIZED ({node_src})"]
    prev = "l0"
    for k in range(1, rounds + 1):
        steps.append(
            f"""e{k} AS MATERIALIZED (
        SELECT la.label AS src, lb.label AS dst
        FROM edges e JOIN {prev} la ON la.node = e.src
                     JOIN {prev} lb ON lb.node = e.dst
        WHERE la.label <> lb.label)"""
        )
        steps.append(
            f"""s{k}_0 AS MATERIALIZED (
        SELECT l.label AS node,
               least(l.label, coalesce(min(e.dst), l.label)) AS ptr
        FROM (SELECT DISTINCT label FROM {prev}) l
        LEFT JOIN e{k} e ON e.src = l.label AND e.dst < l.label
        GROUP BY l.label)"""
        )
        sp = f"s{k}_0"
        for j in range(1, jumps + 1):
            steps.append(
                f"s{k}_{j} AS MATERIALIZED "
                f"(SELECT a.node, p.ptr FROM {sp} a JOIN {sp} p ON p.node = a.ptr)"
            )
            sp = f"s{k}_{j}"
        steps.append(
            f"""l{k} AS MATERIALIZED (
        SELECT l.node, coalesce(s.ptr, l.label) AS label
        FROM {prev} l LEFT JOIN {sp} s ON s.node = l.label)"""
        )
        prev = f"l{k}"
    # Convergence guard (ADVICE r11): a fixed unrolled round count
    # would surface an under-converged pathological component as a
    # confusing parity MISMATCH; instead compare the last two label
    # rounds and raise an explicit oracle error if anything still
    # moved. Idempotence past convergence makes "l{r-1} == l{r}" the
    # exact fixed-point test; the check is one linear node-sized join.
    steps.append(
        f"""conv_check AS (
        SELECT count(*) AS n FROM l{rounds} a
        JOIN l{rounds - 1} b ON b.node = a.node AND b.label <> a.label)"""
    )
    steps.append(
        f"labels AS (SELECT node AS {id_out}, "
        f"CASE WHEN (SELECT n FROM conv_check) > 0 "
        f"THEN error('minlabel oracle did not converge in {rounds} rounds') "
        f"ELSE label END AS label FROM {prev})"
    )
    return ",\n    ".join(steps)


def _duck_cluster_labels_cte(rounds: int = 12) -> str:
    """Shared CTE prefix: doubled corpus -> minhash -> LSH bands ->
    candidate pairs -> min-label connected components, the DuckDB
    mirror of dedup.connected_components.

    The component step is the UNROLLED Boruvka-contraction chain
    (_duck_minlabel_rounds_ctes), not a transitive-closure recursive
    CTE (VERDICT r10 task 3): closure materializes O(Σ cluster_size²)
    reach pairs — the sf10 template clusters made that effectively
    unbounded (>27 min, the sweep's only oracle_unscalable entries) —
    while the contraction rounds are linear joins whose supernode
    tables shrink geometrically, with EXPONENTIAL diameter coverage
    (adversarial-path convergence pinned in tests/test_dedup_clusters;
    near-dup cluster graphs themselves are shallow band-bucket clique
    unions). Extra rounds past convergence are idempotent."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.hashing import (
        MERSENNE31,
        universal_coeffs,
    )

    num_hashes, num_bands, rows_per_band = 16, 4, 4
    coeffs = universal_coeffs(num_hashes)
    hash_cols = ",\n           ".join(
        f"list_min(list_transform(base, h -> ({a} * h + {b}) % {MERSENNE31})) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_rows = "\n      UNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(f"h{b * rows_per_band + j}::VARCHAR" for j in range(rows_per_band))
        + ")) AS bucket FROM sig"
        for b in range(num_bands)
    )
    label_ctes = _duck_minlabel_rounds_ctes(rounds)
    return f"""
    WITH
    u AS MATERIALIZED (SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + 1000000, text FROM documents),
    toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM u),
    {_duck_token_poly_base('doc_id')},
    sig AS MATERIALIZED (SELECT doc_id, {hash_cols} FROM bh),
    bands AS ({band_rows}),
    pairs AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
              FROM bands l JOIN bands r
                ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
    edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    {label_ctes}
    """


def _duck_cluster_survivors_sql(
    tail: str = """SELECT u.doc_id, md5(u.text) AS fp
    FROM u JOIN labels l ON u.doc_id = l.doc_id
    WHERE u.doc_id = l.label""",
) -> str:
    """DuckDB oracle for the full dedup tail: the shared cluster-label
    prefix -> lowest-id (or ranked, via ``tail``) survivor per
    cluster."""
    return _duck_cluster_labels_cte() + tail


def _duck_leakage_split_sql() -> str:
    return (
        _duck_cluster_labels_cte()
        + """
    SELECT doc_id, label AS cluster_label,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, label,
                 ('0x' || substr(md5(label::VARCHAR || '#seed42'), 1, 15))::BIGINT
                   % 10000 AS b
          FROM labels) t
    """
    )


@_q("ml_split_leakage_safe", _duck_leakage_split_sql())
def ml_split_leakage_safe(spark, sf_dir):
    """Leakage-safe train/val/test split
    (operators.sampling.leakage_safe_split): rows split by their
    near-dup CLUSTER label (LSH pairs -> connected components), so a
    test document can never be a near-copy of a training document. The
    corpus is doubled so every row provably has a near-dup that must
    co-locate; the oracle recomputes clusters with a recursive CTE and
    hashes the same label."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.sampling import (
        leakage_safe_split,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    sig = dedup.minhash_signatures(doubled, "text", "doc_id", num_hashes=16)
    pairs = dedup.lsh_candidate_pairs(sig, "doc_id", num_bands=4, rows_per_band=4)
    comp = dedup.connected_components(pairs)
    out = leakage_safe_split(
        doubled, "doc_id", comp, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42
    )
    return out.select("doc_id", "cluster_label", "split")


@_q("dedup_cluster_survivors", _duck_cluster_survivors_sql())
def dedup_cluster_survivors(spark, sf_dir):
    """Full dedup pipeline tail: LSH candidate pairs -> connected
    components (iterative min-label propagation) -> lowest-id survivor
    per cluster. Input is the corpus doubled, so every document has an
    exact near-dup; output must keep only original ids."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    sig = dedup.minhash_signatures(doubled, "text", "doc_id", num_hashes=16)
    pairs = dedup.lsh_candidate_pairs(sig, "doc_id", num_bands=4, rows_per_band=4)
    comp = dedup.connected_components(pairs)
    kept = dedup.cluster_survivors(doubled, comp, "doc_id")
    return kept.select("doc_id", F.md5("text").alias("fp"))


_BEST_SURVIVOR_TAIL = """, 
    ranked AS (SELECT u.doc_id, l.label,
                      row_number() OVER (PARTITION BY l.label
                                         ORDER BY (u.doc_id % 7) DESC, u.doc_id) AS rn
               FROM u JOIN labels l ON u.doc_id = l.doc_id)
    SELECT doc_id, CAST(doc_id % 7 AS BIGINT) AS quality
    FROM ranked WHERE rn = 1"""


@_q(
    "dedup_cluster_best_survivors",
    _duck_cluster_survivors_sql(tail=_BEST_SURVIVOR_TAIL),
)
def dedup_cluster_best_survivors(spark, sf_dir):
    """Quality-weighted survivor pick (dedup.cluster_survivors_by):
    keep the BEST-scoring member of each near-dup cluster (synthetic
    quality = doc_id % 7; ties -> lowest id) instead of the accidental
    lowest id — the keep-the-clean-copy policy a real corpus dedup
    wants. Same partial-aggregating max_by shape as exact_dedup; the
    winner set provably mixes original and copy ids here, so the
    oracle checks the scoring rule, not id order."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    sig = dedup.minhash_signatures(doubled, "text", "doc_id", num_hashes=16)
    pairs = dedup.lsh_candidate_pairs(sig, "doc_id", num_bands=4, rows_per_band=4)
    comp = dedup.connected_components(pairs)
    kept = dedup.cluster_survivors_by(
        doubled, comp, "doc_id", score=F.col("doc_id") % 7
    )
    return kept.select("doc_id", (F.col("doc_id") % 7).cast("long").alias("quality"))


@_q(
    "dedup_jaccard_consecutive",
    """
    WITH pairs AS (
      SELECT doc_id, text, lead(text) OVER (ORDER BY doc_id) AS next_text FROM documents
    )
    SELECT doc_id,
           round(CASE WHEN len(list_distinct(list_concat(a, b))) > 0
                 THEN len(list_intersect(a, b))::DOUBLE
                      / len(list_distinct(list_concat(a, b)))::DOUBLE
                 ELSE 0.0 END, 4) AS jaccard
    FROM (SELECT doc_id,
                 list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS a,
                 list_distinct(regexp_split_to_array(trim(next_text), '\\s+')) AS b
          FROM pairs WHERE next_text IS NOT NULL) t
    """,
)
def dedup_jaccard_consecutive(spark, sf_dir):
    """Exact token-set Jaccard over blocked candidate pairs (here:
    consecutive doc ids — candidate generation is LSH's job).
    Pairing via consecutive_pairs — bucketed lead, no global window."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = relational.consecutive_pairs(d, "doc_id", "text", 100, "next_text").filter(
        F.col("next_text").isNotNull()
    )
    out = dedup.ngram_jaccard(pairs, "text", "next_text", n=1)
    return out.select("doc_id", F.round("jaccard", 4).alias("jaccard"))


def _duck_minhash_est_sql(num_hashes: int = 16, num_bands: int = 4, rows_per_band: int = 4) -> str:
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.hashing import (
        MERSENNE31,
        universal_coeffs,
    )

    coeffs = universal_coeffs(num_hashes)
    hash_cols = ",\n           ".join(
        f"list_min(list_transform(base, h -> ({a} * h + {b}) % {MERSENNE31})) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_rows = "\n      UNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(f"h{b * rows_per_band + j}::VARCHAR" for j in range(rows_per_band))
        + ")) AS bucket FROM sig"
        for b in range(num_bands)
    )
    agree = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return f"""
    WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
         {_duck_token_poly_base('doc_id')},
         sig AS (SELECT doc_id, {hash_cols} FROM bh),
         bands AS ({band_rows}),
         pairs AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
                   FROM bands l JOIN bands r
                     ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
    SELECT p.id_a, p.id_b,
           round(({agree})::DOUBLE / {num_hashes}, 4) AS est_jaccard
    FROM pairs p JOIN sig a ON p.id_a = a.doc_id JOIN sig b ON p.id_b = b.doc_id
    """


@_q("dedup_minhash_est_jaccard", _duck_minhash_est_sql())
def dedup_minhash_est_jaccard(spark, sf_dir):
    """Estimated Jaccard for LSH candidate pairs: fraction of agreeing
    minhash components (the filter stage between candidate generation
    and exact verification in a production dedup pipeline)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sig = dedup.minhash_signatures(d, "text", "doc_id", num_hashes=16)
    pairs = dedup.lsh_candidate_pairs(sig, "doc_id", num_bands=4, rows_per_band=4)
    est = dedup.minhash_jaccard_estimate(sig, pairs)
    return est.select("id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard"))


@_q(
    "text_scrub_pii",
    """
    WITH synth AS (
      SELECT doc_id,
             text || ' contact user' || doc_id::VARCHAR || '@example.com via ' ||
             'https://ex.am/p/' || doc_id::VARCHAR || ' call +12 3456 78901' AS raw
      FROM documents)
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw, 'https?://\\S+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\+?\\d[\\d\\- ]{7,}\\d', '<PHONE>', 'g') AS scrubbed
    FROM synth
    """,
)
def text_scrub_pii(spark, sf_dir):
    """PII scrub pass (URL/email/phone redaction) — map-only chained
    regexp_replace, no UDF; synthetic PII appended so the redaction is
    actually exercised, then differential-checked byte-for-byte."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com via https://ex.am/p/"),
        F.col("doc_id").cast("string"),
        F.lit(" call +12 3456 78901"),
    )
    return d.select("doc_id", text_ops.scrub_pii(raw).alias("scrubbed"))


@_q(
    "text_repetition_ratio",
    """
    WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                  FROM documents),
    grams AS (SELECT doc_id,
                     unnest(CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
                            ELSE list_transform(generate_series(1, len(t) - 1),
                                                i -> array_to_string(t[i:i+1], ' ')) END) AS g
              FROM toks),
    per AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2)
    SELECT doc_id,
           round(max(c)::DOUBLE / sum(c)::DOUBLE, 4) AS rep_ratio,
           CAST(max(c) AS BIGINT) AS top_gram_count,
           CAST(sum(c) AS BIGINT) AS total_grams
    FROM per GROUP BY doc_id
    """,
)
def text_repetition_ratio(spark, sf_dir):
    """Degenerate-text signal: share of a doc's bigrams taken by its
    most frequent bigram (boilerplate filter for training corpora)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return text_ops.repetition_ratio(d, "doc_id", "text", n=2)


@_q(
    "text_contamination",
    f"""
    WITH ctoks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                   FROM documents),
    csh AS (SELECT doc_id, {_duck_shingles(3)} AS sh FROM ctoks),
    cg AS (SELECT doc_id, unnest(sh) AS g FROM csh),
    probe AS (SELECT doc_id AS probe_id, text FROM documents WHERE doc_id % 50 = 0),
    ptoks AS (SELECT probe_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM probe),
    psh AS (SELECT probe_id, {_duck_shingles(3)} AS sh FROM ptoks),
    pg AS (SELECT probe_id, unnest(sh) AS g FROM psh)
    SELECT c.doc_id, p.probe_id, CAST(count(*) AS BIGINT) AS shared_ngrams
    FROM cg c JOIN pg p USING (g)
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def text_contamination(spark, sf_dir):
    """Eval-set leakage check: corpus docs sharing >= 2 distinct word
    3-grams with any probe (benchmark) document. Join key is the
    n-gram — probe side broadcasts at scale, no doc body fans out."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    probe = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select(F.col("doc_id").alias("probe_id"), F.col("text").alias("ptext"))
    )
    out = text_ops.ngram_contamination(
        d, probe, "doc_id", "probe_id", "text", "ptext", n=3, min_shared=2
    )
    return out.select("doc_id", "probe_id", "shared_ngrams")


@_q(
    "text_dup_passages",
    f"""
    WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                  FROM documents),
    sh AS (SELECT doc_id, {_duck_shingles(8)} AS s FROM toks),
    g AS (SELECT doc_id, unnest(s) AS passage FROM sh)
    SELECT passage, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM g GROUP BY passage HAVING count(*) >= 2
    """,
)
def text_dup_passages(spark, sf_dir):
    """Cross-document duplicated-passage detection (NEW r14 — the
    exact-substring-dedup blocklist builder, Lee et al. 2022): word
    8-gram passages carried by >= 2 distinct documents, with carrier
    count and the lowest carrying doc id. Doc-level dedup misses
    embedded boilerplate; this is the passage-level complement, and
    the join-free shape (explode distinct grams -> ONE map-side
    combined hash agg) keeps it linear at 100 TB — a billion-copy
    boilerplate line crosses the shuffle once per map partition, not
    once per occurrence."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return text_ops.duplicated_passages(d, "doc_id", "text", n=8, min_docs=2)


@_q(
    "text_dup_apply",
    f"""
    WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                  FROM documents),
    sh AS (SELECT doc_id, {_duck_shingles(8)} AS s FROM toks),
    g AS (SELECT doc_id, unnest(s) AS passage FROM sh),
    bl AS (SELECT passage FROM g GROUP BY passage HAVING count(*) >= 2),
    j AS (SELECT g.doc_id, g.passage, (bl.passage IS NOT NULL) AS dup
          FROM g LEFT JOIN bl USING (passage))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_passages,
           CAST(count(CASE WHEN dup THEN 1 END) AS BIGINT) AS n_dup_passages,
           CAST(count(CASE WHEN dup THEN 1 END) AS DOUBLE) / count(*)
             AS dup_coverage,
           (CAST(count(CASE WHEN dup THEN 1 END) AS DOUBLE) / count(*))
             <= 0.2 AS keep
    FROM j GROUP BY doc_id
    """,
)
def text_dup_apply(spark, sf_dir):
    """APPLY the duplicated-passage blocklist (NEW r15 — the second
    half of exact-substring dedup, Lee et al. 2022; completes the
    text_dup_passages pair per VERDICT r14 task 1): build the
    blocklist in-plan from the corpus, then score every document by
    blocklisted-passage coverage and flag keep/drop at coverage 0.2.
    Served by the FUSED single-scan form (passage_coverage): a COUNT
    window on the gram replaces both the blocklist aggregate and the
    join, because the blocklist derives from the same corpus it is
    applied to — 1 scan / 2 exchanges vs the two-operator
    composition's 2 scans / 3 exchanges (no subtree is reusable
    across its agg and join arms), measured 0.70x at sf10 and
    bit-identical (pinned by test). The join-form operator
    (apply_passage_blocklist) remains the path for EXTERNAL
    blocklists — the incrementally-maintained CDC state — where the
    second scan is inherent."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return text_ops.passage_coverage(
        d, "doc_id", "text", n=8, min_docs=2, max_coverage=0.2
    )


@_q(
    "cdc_time_travel",
    """
    WITH h AS (
      SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate ASC, o_orderkey ASC) AS valid_to
      FROM orders)
    SELECT o_custkey, o_orderkey, epoch_us(valid_from) AS vf_us
    FROM h
    WHERE valid_from <= TIMESTAMP '1995-06-01'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '1995-06-01')
    """,
)
def cdc_time_travel(spark, sf_dir):
    """Point-in-time lookup over SCD2 history (as-of T): each key's
    version whose validity interval covers T — time travel for a CDC
    store without a transactional format. Filter-only at read time;
    the windowing was paid once building the history."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    hist = cdc.scd2_history(o, ["o_custkey"], "o_orderdate", tiebreak="o_orderkey")
    snap = cdc.as_of(hist, "1995-06-01")
    return snap.select(
        "o_custkey",
        "o_orderkey",
        # fixture timestamps are NTZ; UTC session makes the cast exact
        F.unix_micros(F.col("valid_from").cast("timestamp")).alias("vf_us"),
    )


@_q(
    "cdc_snapshot_diff",
    """
    WITH old_snap AS (
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders WHERE o_orderdate < TIMESTAMP '1994-01-01') t WHERE rn = 1),
    new_snap AS (
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01') t WHERE rn = 1),
    d AS (
      SELECT coalesce(o.o_custkey, n.o_custkey) AS o_custkey,
             CASE WHEN o.o_custkey IS NULL THEN 'insert'
                  WHEN n.o_custkey IS NULL THEN 'delete'
                  WHEN (o.o_orderkey IS DISTINCT FROM n.o_orderkey)
                    OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice) THEN 'update'
             END AS change_type,
             o.o_orderkey AS old_orderkey, n.o_orderkey AS new_orderkey,
             round(n.o_totalprice, 2) AS new_total
      FROM old_snap o FULL OUTER JOIN new_snap n ON o.o_custkey = n.o_custkey)
    SELECT * FROM d WHERE change_type IS NOT NULL
    """,
)
def cdc_snapshot_diff(spark, sf_dir):
    """Change-feed generation: diff two point-in-time snapshots of a
    keyed table into insert/update/delete rows — turns periodic full
    snapshots into the incremental feed the reference assumes the
    source maintains (service.py:53's change_datetime)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"
    )
    t1 = F.lit("1994-01-01").cast("timestamp")
    t2 = F.lit("1996-01-01").cast("timestamp")
    old_snap = cdc.snapshot_latest(
        o.filter(F.col("o_orderdate") < t1), ["o_custkey"], "o_orderdate", tiebreak="o_orderkey"
    ).select("o_custkey", "o_orderkey", "o_totalprice")
    new_snap = cdc.snapshot_latest(
        o.filter(F.col("o_orderdate") < t2), ["o_custkey"], "o_orderdate", tiebreak="o_orderkey"
    ).select("o_custkey", "o_orderkey", "o_totalprice")
    d = cdc.snapshot_diff(old_snap, new_snap, ["o_custkey"], ["o_orderkey", "o_totalprice"])
    return d.select(
        "o_custkey",
        "change_type",
        F.col("_old_o_orderkey").alias("old_orderkey"),
        F.col("_new_o_orderkey").alias("new_orderkey"),
        F.round("_new_o_totalprice", 2).alias("new_total"),
    )


_SQL_FRONTEND_HAVING = """
    SELECT year(o_orderdate) AS yr, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY 1, 2
    HAVING count(*) > 100
"""


@_q("sql_frontend_having", _SQL_FRONTEND_HAVING)
def sql_frontend_having(spark, sf_dir):
    """The SQL front-end end-to-end: identical ANSI text runs through
    spark.sql over registered views AND through DuckDB — same rows,
    same hash. Proves the engine's surface isn't DataFrame-only
    (≙ the reference's users writing SQL against the same tables)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        register_views,
    )

    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(_SQL_FRONTEND_HAVING)


_SQL_FRONTEND_CTE = """
    WITH spend AS (
      SELECT o_custkey, sum(o_totalprice) AS s FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey, round(sp.s, 2) AS spend
    FROM customer c JOIN spend sp ON sp.o_custkey = c.c_custkey
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
"""


@_q("sql_frontend_cte_exists", _SQL_FRONTEND_CTE)
def sql_frontend_cte_exists(spark, sf_dir):
    """CTE + correlated EXISTS through the SQL front-end — the
    analyzer's subquery decorrelation exercised from SQL text, same
    string executed by both engines."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        register_views,
    )

    register_views(spark, sf_dir, tables=("orders", "customer"))
    return spark.sql(_SQL_FRONTEND_CTE)


# ---------------------------------------------------------------------------
# Text analysis (north star)
# ---------------------------------------------------------------------------


@_q(
    "text_stats",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           CAST(ceil(length(text) / 4) AS BIGINT) AS bpe_est
    FROM documents
    """,
)
def text_stats(spark, sf_dir):
    """Token/char counting + BPE-estimate (text-analysis surface)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_calc"),
        text_ops.token_count(F.col("text")).cast("long").alias("n_tokens"),
        text_ops.bpe_token_estimate(F.col("text")).alias("bpe_est"),
    )


@_q(
    "text_quality",
    """
    WITH f AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS n_punct,
             length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace,
             (CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %' THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(text) || ' ' LIKE '% and %' THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(text) || ' ' LIKE '% of %'  THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(text) || ' ' LIKE '% to %'  THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(text) || ' ' LIKE '% is %'  THEN 1 ELSE 0 END) AS stop_hits
      FROM documents)
    SELECT doc_id,
           round(n_nonspace / n_tokens, 4)  AS q_mean_word_len,
           round(n_punct / n_chars, 4)      AS q_punct_ratio,
           CAST(stop_hits AS INTEGER)       AS q_stopword_hits,
           round((CASE WHEN n_tokens >= 5 THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END)
               + (CASE WHEN n_nonspace / n_tokens >= 3 AND n_nonspace / n_tokens <= 12
                       THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END)
               + (CASE WHEN n_punct / n_chars <= 0.2 THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END)
               + (CASE WHEN stop_hits > 0 THEN 0.1::DOUBLE ELSE 0.0::DOUBLE END), 2) AS q_score
    FROM f
    """,
)
def text_quality(spark, sf_dir):
    """Quality scoring features + composite score (C4/RefinedWeb-style
    cleaning heuristics). Scattered before the CPU-bound feature
    expressions for the same single-row-group reason as text_lang_id
    (ensure_parallelism no-ops on an already-wide scan)."""
    d = ensure_parallelism(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    feats = text_ops.quality_features(d, "text")
    return feats.select(
        "doc_id",
        "q_mean_word_len",
        "q_punct_ratio",
        "q_stopword_hits",
        "q_score",
    )


@_q(
    "text_gopher_rules",
    """
    WITH f AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS toks,
             regexp_split_to_array(text, '\\n') AS lines,
             length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace,
             length(text) - length(replace(text, '#', '')) AS n_hash,
             (length(text) - length(replace(text, '...', ''))) / 3 AS n_ellipsis,
             (CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %'  THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(text) || ' ' LIKE '% be %'   THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(text) || ' ' LIKE '% to %'   THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(text) || ' ' LIKE '% of %'   THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(text) || ' ' LIKE '% and %'  THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(text) || ' ' LIKE '% that %' THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(text) || ' ' LIKE '% have %' THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(text) || ' ' LIKE '% with %' THEN 1 ELSE 0 END)
               AS stop_hits
      FROM documents),
    g AS (
      SELECT doc_id,
             len(toks) AS n_words,
             CAST(n_nonspace AS DOUBLE) / len(toks) AS mean_wl,
             (n_hash + n_ellipsis) / len(toks) AS symbol_ratio,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                  AS DOUBLE) / len(toks) AS alpha_frac,
             CAST(len(list_filter(lines,
                  l -> regexp_matches(ltrim(l), '^(-|\\*|•)')))
                  AS DOUBLE) / len(lines) AS bullet_frac,
             CAST(len(list_filter(lines,
                  l -> regexp_matches(rtrim(l), '\\.\\.\\.$')))
                  AS DOUBLE) / len(lines) AS ellipsis_frac,
             stop_hits
      FROM f)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(mean_wl, 6) AS mean_word_len,
           (n_words >= 50 AND n_words <= 100000) AS r_word_count,
           (mean_wl >= 3.0 AND mean_wl <= 10.0) AS r_mean_word_len,
           symbol_ratio <= 0.1 AS r_symbol_ratio,
           alpha_frac >= 0.8 AS r_alpha_words,
           bullet_frac <= 0.9 AS r_bullet_lines,
           ellipsis_frac <= 0.3 AS r_ellipsis_lines,
           stop_hits >= 1 AS r_stopwords,
           ((n_words >= 50 AND n_words <= 100000)
            AND (mean_wl >= 3.0 AND mean_wl <= 10.0)
            AND symbol_ratio <= 0.1
            AND alpha_frac >= 0.8
            AND bullet_frac <= 0.9
            AND ellipsis_frac <= 0.3
            AND stop_hits >= 1) AS keep
    FROM g
    """,
)
def text_gopher_rules(spark, sf_dir):
    """The Gopher quality-rule battery (NEW r15 — Rae et al. 2021
    Appendix A1.1, the gate MassiveText popularized and
    Dolma/RedPajama-v2 adopted): word-count bounds, mean-word-length
    bounds, symbol-to-word ratio, alphabetic-word fraction,
    bullet-line and ellipsis-line fractions, >= 2 distinct Gopher
    stopwords — one boolean per rule plus the conjunction, so a
    recipe owner can relax single rules without re-running the pass.
    Complements text_quality (the C4-style composite SCORE): that one
    ranks, this one gates. All rules are single-pass codegen'd string
    expressions — no shuffle, no Python, scan-pipelined at any corpus
    size. On this fixture the word-count and stopword rules
    discriminate (single-line texts exercise the line rules
    degenerately but the expressions are real). min_stopwords is 1
    here, not the paper's 2: the fixture vocabulary is domain
    word-soup where only 'the' occurs, so the published threshold
    zeroes the rule and the conjunction with it — the operator's
    default stays 2."""
    d = ensure_parallelism(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return text_ops.gopher_rules(d, "doc_id", "text", min_stopwords=1)


@_q(
    "text_lang_id",
    """
    WITH hits AS (
      SELECT doc_id,
        (CASE WHEN p LIKE '% the %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% and %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% of %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% to %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% is %' THEN 1 ELSE 0 END) AS h_en,
        (CASE WHEN p LIKE '% der %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% die %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% und %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% ist %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% nicht %' THEN 1 ELSE 0 END) AS h_de,
        (CASE WHEN p LIKE '% le %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% la %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% et %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% est %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% les %' THEN 1 ELSE 0 END) AS h_fr,
        (CASE WHEN p LIKE '% el %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% la %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% que %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% de %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% es %' THEN 1 ELSE 0 END) AS h_es
      FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents) t)
    SELECT doc_id,
           CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
                WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
                WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                ELSE 'de' END AS lang_pred
    FROM hits
    """,
)
def text_lang_id(spark, sf_dir):
    """Heuristic stopword-based language ID (ties -> lexicographically
    greatest code, matching the argmax-over-struct semantics).

    The classification expressions are CPU-bound (a pile of LIKE scans
    per doc) and the fixture is a single row group, so the scan stage
    is one task — scatter first (ensure_parallelism: a no-op whenever
    the scan is already as wide as the session, i.e. at scale)."""
    d = _t(spark, sf_dir, "documents")
    return ensure_parallelism(d.select("doc_id", "text")).select(
        "doc_id", text_ops.lang_id(F.col("text")).alias("lang_pred")
    )


@_q(
    "text_top_terms",
    """
    SELECT tok, count(*) AS n
    FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
          FROM documents) t
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 25
    """,
)
def text_top_terms(spark, sf_dir):
    """Corpus term frequency top-k: explode -> count -> ordered limit.
    Map-side partial counts keep the shuffle at vocabulary size, not
    token count."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(25)
    )


@_q(
    "funnel_three_step_gated",
    """
    WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1
                FROM events WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
             AND epoch_us(e.ts) <= s1.t1 + 604800000000
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3
           FROM events e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
             AND epoch_us(e.ts) <= s2.t2 + 604800000000
           GROUP BY e.user_id)
    SELECT s1.user_id, s1.t1 AS t1_us, s2.t2 AS t2_us, s3.t3 AS t3_us
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
)
def funnel_three_step_gated(spark, sf_dir):
    """Ordered 3-step funnel with a 7-day per-step gate
    (relational.sequence_funnel, MATCH_RECOGNIZE-lite): greedy-first
    signup -> click -> purchase chains, NULLs from the first failed
    step — per-step drop-off read directly. Each step is a
    pre-aggregated user-keyed join, never an event-level self-join."""
    e = _t(spark, sf_dir, "events")
    out = relational.sequence_funnel(
        e, "user_id", "ts", "event_type",
        ["signup", "click", "purchase"], max_gap_seconds=7 * 86400,
    )
    return out.select(
        "user_id",
        F.unix_micros("t1").alias("t1_us"),
        F.unix_micros("t2").alias("t2_us"),
        F.unix_micros("t3").alias("t3_us"),
    )


@_q(
    "funnel_three_step_maximal",
    """
    WITH RECURSIVE feas AS (
      SELECT user_id, 1 AS step, epoch_us(ts) AS t
      FROM events WHERE event_type = 'signup'
      UNION
      SELECT e.user_id, f.step + 1, epoch_us(e.ts)
      FROM feas f JOIN events e USING (user_id)
      WHERE f.step < 3
        AND e.event_type = (CASE f.step WHEN 1 THEN 'click' ELSE 'purchase' END)
        AND epoch_us(e.ts) > f.t AND epoch_us(e.ts) <= f.t + 604800000000
    )
    SELECT user_id,
           min(t) FILTER (WHERE step = 1) AS t1_us,
           min(t) FILTER (WHERE step = 2) AS t2_us,
           min(t) FILTER (WHERE step = 3) AS t3_us
    FROM feas GROUP BY user_id
    """,
)
def funnel_three_step_maximal(spark, sf_dir):
    """EXISTENCE-MAXIMAL 3-step funnel (the variant greedy-first
    concedes, VERDICT r5 task 7): same signup -> click -> purchase
    steps and 7-day gate as funnel_three_step_gated, but step i
    reports min over ALL feasible i-step prefixes — a user completes
    iff ANY satisfying chain exists, where greedy can bind an early
    click and kill a chain a later click keeps alive. Per-user DP over
    time-sorted events via one applyInPandas pass
    (relational.sequence_funnel_maximal); the oracle enumerates the
    full feasible-state space with a recursive CTE — the DP's
    max-witness pruning is checked against exhaustive recursion."""
    e = _t(spark, sf_dir, "events")
    out = relational.sequence_funnel_maximal(
        e, "user_id", "ts", "event_type",
        ["signup", "click", "purchase"], max_gap_seconds=7 * 86400,
    )
    return out.select(
        "user_id",
        F.unix_micros("t1").alias("t1_us"),
        F.unix_micros("t2").alias("t2_us"),
        F.unix_micros("t3").alias("t3_us"),
    )


@_q(
    "funnel_signup_to_purchase",
    """
    WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
         p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT s.user_id,
           epoch_us(s.signup_ts) AS signup_ts_us,
           CAST(count(p.ts) AS BIGINT) AS purchases_after,
           epoch_us(min(p.ts)) AS first_purchase_us
    FROM s LEFT JOIN p ON p.user_id = s.user_id AND p.ts > s.signup_ts
    GROUP BY s.user_id, s.signup_ts
    """,
)
def funnel_signup_to_purchase(spark, sf_dir):
    """Funnel / sequence analysis: per user, purchases after first
    signup — the event-sequence pattern behind conversion metrics.
    Both sides pre-aggregated before the join keys shuffle."""
    e = _t(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
        .alias("s")
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .alias("p")
    )
    return (
        s.join(p, (F.col("p_user") == F.col("user_id")) & (F.col("p_ts") > F.col("signup_ts")), "left")
        .groupBy("user_id", "signup_ts")
        .agg(
            F.count("p_ts").alias("purchases_after"),
            F.unix_micros(F.min("p_ts")).alias("first_purchase_us"),
        )
        .select(
            "user_id",
            F.unix_micros("signup_ts").alias("signup_ts_us"),
            "purchases_after",
            "first_purchase_us",
        )
    )


@_q(
    "cohort_retention_orders",
    """
    WITH firsts AS (
      SELECT o_custkey AS e, min(date_trunc('month', o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey),
    activity AS (
      SELECT DISTINCT o_custkey AS e,
             date_trunc('month', o_orderdate) AS p
      FROM orders)
    SELECT strftime(cohort, '%Y-%m') AS cohort_month,
           CAST(datediff('month', cohort, p) AS INTEGER) AS period_offset,
           count(*) AS n_active
    FROM activity JOIN firsts USING (e)
    GROUP BY 1, 2
    """,
)
def cohort_retention_orders(spark, sf_dir):
    """Cohort retention triangle over orders: customers cohorted by
    first-order month, counted active per month offset — the classic
    retention matrix the funnel family doesn't cover. ONE
    customer-keyed shuffle (min + collect_set of the truncated month
    share a groupBy; the oracle's firsts⋈activity join form costs
    two); the exploded period set is calendar-bounded, so per-entity
    state stays KB-sized at 100 TB (relational.cohort_retention)."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    out = relational.cohort_retention(o, "o_custkey", "o_orderdate", period="month")
    return out.select(
        F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
        "period_offset",
        "n_active",
    )


@_q(
    "text_normalize_stopwords",
    """
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(lower(trim(text)), '[\\.,;:!\\?]', '', 'g'),
                            '\\s+', ' ', 'g') AS clean
      FROM documents),
    t AS (SELECT doc_id, clean, regexp_split_to_array(clean, '\\s+') AS toks FROM norm)
    SELECT doc_id,
           md5(clean) AS clean_md5,
           CAST(len(toks) AS BIGINT) AS n_toks,
           CAST(len(list_filter(toks, x -> NOT list_contains(
             ['and','de','der','die','el','es','est','et','is','ist','la','le','les',
              'nicht','of','que','the','to','und'], x))) AS BIGINT) AS n_content
    FROM t
    """,
)
def text_normalize_stopwords(spark, sf_dir):
    """Text cleaning normal-form + stopword removal (text-analysis
    surface): the canonicalization every dedup/quality stage hangs off."""
    d = _t(spark, sf_dir, "documents")
    clean = text_ops.normalize_text(F.col("text"))
    toks = F.split(clean, r"\s+")
    return d.select(
        "doc_id",
        F.md5(clean).alias("clean_md5"),
        F.size(toks).cast("long").alias("n_toks"),
        F.size(text_ops.remove_stopwords(toks)).cast("long").alias("n_content"),
    )


@_q(
    "text_top_bigram_per_lang",
    """
    WITH t AS (SELECT lang, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
         bg AS (SELECT lang,
                       unnest(list_transform(generate_series(1, len(toks) - 1),
                                             i -> array_to_string(toks[i:i+1], ' '))) AS bigram
                FROM t),
         counted AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY lang, bigram),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY lang
                                                 ORDER BY n DESC, bigram) AS rn
                    FROM counted)
    SELECT lang, bigram, CAST(n AS BIGINT) AS n FROM ranked WHERE rn <= 3
    """,
)
def text_top_bigram_per_lang(spark, sf_dir):
    """Top-3 bigrams per language: shingle explode -> grouped count ->
    per-group ranking — the n-gram frequency profile used by language
    models and contamination checks."""
    d = _t(spark, sf_dir, "documents")
    bigrams = word_shingles(F.col("text"), 2)
    counted = (
        d.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "bigram", F.col("n").cast("long").alias("n"))
    )


@_q(
    "vec_l2_normalize",
    """
    SELECT vec_id,
           round(sqrt(list_aggregate(list_transform(
             list_transform(embedding::DOUBLE[],
               x -> x / sqrt(list_aggregate(list_transform(embedding::DOUBLE[], y -> y*y), 'sum'))),
             x -> x * x), 'sum')), 6) AS unit_norm,
           round(list_aggregate(list_transform(embedding::DOUBLE[], y -> y*y), 'sum'), 4)
             AS sq_norm
    FROM embeddings
    """,
)
def vec_l2_normalize(spark, sf_dir):
    """L2 normalization (vector preprocessing for cosine/IP indexes):
    transform-divide by norm, verified by re-computing the unit norm.

    The norm is materialized ONCE per row through a Generate barrier
    (r15 optimization): referenced inside the transform lambda, the
    full l2_norm subtree was re-evaluated PER ELEMENT — O(dim²) mults
    per row, the same CollapseProject/lambda-inlining trap as r7's
    regex normalization. Same division by the same double, so values
    are identical; interleaved per-rep-rebuilt A/B at sf10:
    7.29 → 0.40 s (0.055x), results asserted identical."""
    e = _t(spark, sf_dir, "embeddings")
    vec = F.col("embedding")
    b = e.select("vec_id", vec, F.explode(F.array(l2_norm(vec))).alias("_norm"))
    unit = F.transform(F.col("embedding"), lambda x: x.cast("double") / F.col("_norm"))
    return b.select(
        "vec_id",
        F.round(l2_norm(unit), 6).alias("unit_norm"),
        F.round(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda a, x: a + x.cast("double") * x.cast("double"),
            ),
            4,
        ).alias("sq_norm"),
    )


@_q(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Normalization-stable document fingerprint (dedup class id)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text_ops.fingerprint(F.col("text")).alias("fingerprint"))


# ---------------------------------------------------------------------------
# Vector similarity (north star)
# ---------------------------------------------------------------------------

_DUCK_COS = (
    "list_cosine_similarity(embedding::DOUBLE[], "
    "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 1))"
)


@_q(
    "vec_knn_bruteforce",
    f"""
    SELECT vec_id, round({_DUCK_COS}, 6) AS score
    FROM embeddings
    ORDER BY round({_DUCK_COS}, 6) DESC, vec_id
    LIMIT 10
    """,
)
def vec_knn_bruteforce(spark, sf_dir):
    """Exact cosine top-k to a query vector (A12): scan + per-partition
    top-k merge (TakeOrderedAndProject), no global sort.

    Rounded ONCE (cosine_topk's round6), oracle mirroring projection
    AND ordering — the r9 double-rounding lesson (see
    vec_knn_arrow_kernel): round4-of-round6 flips on .5 boundaries the
    single-rounded oracle does not."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = _query_vector(sf_dir)
    return vec_ops.cosine_topk(e, "vec_id", "embedding", qvec, k=10)


@_q(
    "vec_label_norms",
    """
    SELECT label,
           round(avg(sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum'))), 4)
             AS avg_norm,
           count(*) AS n
    FROM embeddings GROUP BY label
    """,
)
def vec_label_norms(spark, sf_dir):
    """Vector math as array higher-order fns (F10): per-label L2-norm
    aggregate — no UDF, fully codegen'd."""
    e = _t(spark, sf_dir, "embeddings")
    return e.groupBy("label").agg(
        F.round(F.avg(l2_norm(F.col("embedding"))), 4).alias("avg_norm"),
        F.count(F.lit(1)).alias("n"),
    )


# Plane count adapts to corpus size exactly like operators.vectors.
# planes_for_corpus: 2^planes ≈ count/32, clamped to [1, 24] — at
# sf0.01 (500 vectors) both sides resolve to 4 planes / 16 buckets.
_DUCK_PLANES = """
    nplanes AS (
      SELECT greatest(1, least(24, CAST(ceil(log2(count(*) / 32.0)) AS INT))) AS np
      FROM embeddings),
    planes AS (
      SELECT b,
             list_transform(generate_series(0, 63),
               j -> (('0x' || substr(md5('plane' || b::VARCHAR || ':' || j::VARCHAR), 1, 15))::BIGINT
                     % 2000001) / 1000000.0 - 1.0) AS plane
      FROM generate_series(0, 23) t(b), nplanes WHERE t.b < nplanes.np),
    scored AS (
      SELECT e.vec_id, e.label, p.b,
             list_dot_product(e.embedding::DOUBLE[], p.plane) AS d
      FROM embeddings e CROSS JOIN planes p),
    buckets AS (
      SELECT vec_id, CAST(sum(CASE WHEN d >= 0 THEN (1 << b) ELSE 0 END) AS INTEGER) AS bucket
      FROM scored GROUP BY vec_id)
"""


@_q(
    "vec_lsh_bucket_histogram",
    f"""
    WITH {_DUCK_PLANES}
    SELECT bucket, count(*) AS n FROM buckets GROUP BY bucket
    """,
)
def vec_lsh_bucket_histogram(spark, sf_dir):
    """Random-hyperplane LSH bucketing (ANN scale path): deterministic
    md5-derived planes so the partitioning is oracle-reproducible.
    Plane count auto-sizes to the corpus (planes_for_corpus) — the
    oracle computes the identical formula from count(*)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.plans.partitioning import (
        narrow_shuffle,
    )

    e = _t(spark, sf_dir, "embeddings")
    n_rows = _table_rows(sf_dir, "embeddings")
    planes = vec_ops.planes_for_corpus(n_rows)
    b = vec_ops.hyperplane_buckets(e, "embedding", dim=64, n_planes=planes)
    # footer-stat narrowing (r7): the 1-partition histogram agg beats
    # the conf-sized partial+final at corpus sizes the gate admits
    # (-24% interleaved at sf0.1); no-op at scale
    b = narrow_shuffle(b, n_rows, "bucket")
    return b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))


_DUCK_COS7 = (
    "list_cosine_similarity(embedding::DOUBLE[], "
    "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 7))"
)


@_q(
    "vec_knn_arrow_kernel",
    f"""
    SELECT vec_id, round({_DUCK_COS7}, 6) AS score
    FROM embeddings
    ORDER BY round({_DUCK_COS7}, 6) DESC, vec_id
    LIMIT 15
    """,
)
def vec_knn_arrow_kernel(spark, sf_dir):
    """Exact cosine top-k FORCING the scale kernel (r9; explode since the
    Arrow cosine kernel was deleted). The name predates that deletion
    and is kept because it is registered. The explode kernel tied the
    Arrow kernel at sf10, ran 0.93x at sf1 and degrades half as much
    under contention (PERFORMANCE.md Round-12), so cosine top-k keeps
    only the two kernels its size gate picks. The production default is
    kernel='auto' (plan-stats gate), which resolves to the HOF
    expression at the driver's sf0.01 gate scale — so without this
    entry the scale kernel would never earn a driver oracle row.
    Distinct parameters (query vector = row 7, k=15) keep the result
    set independent of vec_knn_bruteforce's.

    Rounding contract (r9 lesson): the raw cosine doubles are
    BIT-IDENTICAL across engines (sequential-fold order on both
    sides), so the score is rounded ONCE — cosine_topk's round(x, 6) —
    and the oracle mirrors that exact expression in both projection
    and ORDER BY. Re-rounding an already-rounded value (round4 of
    round6) hits .5 boundaries the single-rounded oracle does not:
    observed 0.30625 -> 0.3063 vs raw 0.3062498 -> 0.3062 at
    sf0.001."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = _query_vector(sf_dir, vec_id=7)
    return vec_ops.cosine_topk(e, "vec_id", "embedding", qvec, k=15, kernel="explode")


_DUCK_COS3 = (
    "list_cosine_similarity(embedding::DOUBLE[], "
    "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 3))"
)


@_q(
    "vec_knn_explode_kernel",
    f"""
    SELECT vec_id, round({_DUCK_COS3}, 6) AS score
    FROM embeddings
    ORDER BY round({_DUCK_COS3}, 6) DESC, vec_id
    LIMIT 12
    """,
)
def vec_knn_explode_kernel(spark, sf_dir):
    """Exact cosine top-k FORCING the r12 JVM explode kernel —
    posexplode + literal-lookup products + hash-agg sums, no Python
    worker at all (functions/vector.cosine_scores_explode). This is
    what kernel='auto' resolves to above the size gate since r12
    (steady-state tie with the Arrow kernel at sf10 with ~half the
    contention degradation and no Python worker, bit-identical
    scores — PERFORMANCE.md Round-12 explode kernel), but auto resolves
    to the HOF form at the
    driver's sf0.01 gate scale, so without this entry the scale
    kernel would never earn a driver oracle row. Distinct parameters
    (query vector = row 3, k=12) keep the result set independent of
    the other knn entries. Single-rounded score contract (see
    vec_knn_bruteforce)."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = _query_vector(sf_dir, vec_id=3)
    return vec_ops.cosine_topk(e, "vec_id", "embedding", qvec, k=12, kernel="explode")


@_q(
    "vec_lsh_arrow_kernel",
    f"""
    WITH {_DUCK_PLANES}
    SELECT bucket, count(*) AS n FROM buckets GROUP BY bucket
    """,
)
def vec_lsh_arrow_kernel(spark, sf_dir):
    """LSH bucket histogram FORCING the Arrow matmul kernel (r9) — the
    same oracle as vec_lsh_bucket_histogram on purpose: the kernel
    must reproduce the HOF/SQL plane-sign bucketing bit-for-bit (a
    disagreement would need a plane dot within float64 summation-order
    noise of exactly zero), and this entry makes the driver check
    exactly that equivalence each round."""
    e = _t(spark, sf_dir, "embeddings")
    n_rows = _table_rows(sf_dir, "embeddings")
    planes = vec_ops.planes_for_corpus(n_rows)
    b = vec_ops.hyperplane_buckets(e, "embedding", dim=64, n_planes=planes, kernel="arrow")
    return b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))


@_q(
    "vec_ann_topk",
    f"""
    WITH {_DUCK_PLANES}
    SELECT e.vec_id, round({_DUCK_COS}, 6) AS score
    FROM embeddings e JOIN buckets bk ON e.vec_id = bk.vec_id
    WHERE bk.bucket = (SELECT bucket FROM buckets WHERE vec_id = 1)
    ORDER BY round({_DUCK_COS}, 6) DESC, e.vec_id
    LIMIT 10
    """,
)
def vec_ann_topk(spark, sf_dir):
    """Approximate top-k: probe only the query's LSH bucket — scanned
    fraction drops ~2^n_planes while recall stays high for cosine-close
    vectors. Single-rounded score contract (see vec_knn_bruteforce)."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = _query_vector(sf_dir)
    planes = vec_ops.planes_for_corpus(_table_rows(sf_dir, "embeddings"))
    return vec_ops.ann_topk(e, "vec_id", "embedding", qvec, dim=64, k=10, n_planes=planes)


#: Corpus-adaptive quantizer-seed modulus: every vec_id % m == 0 vector
#: becomes a centroid, with m = max(50, ceil(n/512)) — pure-integer
#: ceiling division so both engines derive the IDENTICAL value. The
#: fixed % 50 rule this replaces (r13) made the centroid count grow
#: LINEARLY with the corpus, so every IVF oracle's n x k assignment
#: cross-join grew quadratically — 4 of the 5 slowest sf10 oracles
#: (incremental_ivf_cells 1599 s, vec_ivf_topk 1352 s, vec_ivfpq_topk
#: 623 s, vec_ivf_cells 474 s) were this one seeding bug. Capping the
#: cell count at ~512 is also the honest index design: nlist grows
#: ~sqrt(n) or saturates in real IVF deployments, never linearly.
#: Unchanged below n = 25,600 (m stays 50), so sf <= 1 results are
#: identical; only sf10+ re-verifies.
_DUCK_SEED_MOD = "GREATEST(50, (count(*) + 511) // 512)"


def _ivf_seed_mod(n: int) -> int:
    """Python mirror of _DUCK_SEED_MOD (same integer arithmetic)."""
    return max(50, -(-n // 512))


_DUCK_IVF = f"""
    seedmod AS (SELECT {_DUCK_SEED_MOD} AS m FROM embeddings),
    centroids AS (SELECT vec_id AS cell, embedding::DOUBLE[] AS cvec
                  FROM embeddings WHERE vec_id % (SELECT m FROM seedmod) = 0),
    scored AS (SELECT e.vec_id, c.cell,
                      list_dot_product(e.embedding::DOUBLE[], c.cvec) AS score
               FROM embeddings e CROSS JOIN centroids c),
    assigned AS (SELECT vec_id, cell FROM (
                   SELECT vec_id, cell,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY score DESC, cell DESC) AS rn
                   FROM scored) t WHERE rn = 1)
"""


_IVF_CACHE: dict[str, list] = {}


def _ivf_centroids(spark, sf_dir):
    """Deterministic quantizer seeds (vec_id % _ivf_seed_mod(n) == 0,
    corpus-capped at ~512 cells — see _DUCK_SEED_MOD), from the
    memoized pyarrow read — same values the collect-based form
    produced, zero Spark jobs."""
    if sf_dir not in _IVF_CACHE:
        t = _emb_table(sf_dir)
        ids = t["vec_id"].to_pylist()
        embs = t["embedding"]
        m = _ivf_seed_mod(len(ids))
        cents = [
            (int(i), [float(x) for x in embs[pos].as_py()])
            for pos, i in enumerate(ids)
            if i % m == 0
        ]
        cents.sort(key=lambda c: c[0])
        _IVF_CACHE[sf_dir] = cents
    return _IVF_CACHE[sf_dir]


@_q(
    "vec_ivf_cells",
    f"""
    WITH {_DUCK_IVF}
    SELECT cell, count(*) AS n FROM assigned GROUP BY cell
    """,
)
def vec_ivf_cells(spark, sf_dir):
    """IVF coarse quantization (ANN scale path #2): assign vectors to
    their max-dot centroid cell — the partitioning an IVF index scans
    selectively. Deterministic quantizer: corpus vectors at
    vec_id % _ivf_seed_mod(n) = 0 (corpus-capped ~512 cells)."""
    e = _t(spark, sf_dir, "embeddings")
    assigned = vec_ops.ivf_assign(e, "vec_id", "embedding", _ivf_centroids(spark, sf_dir))
    return assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))


@_q(
    "vec_ivf_topk",
    f"""
    WITH {_DUCK_IVF},
    qc AS (SELECT cell FROM scored WHERE vec_id = 1 ORDER BY score DESC, cell DESC LIMIT 2)
    SELECT e.vec_id, round({_DUCK_COS}, 6) AS score
    FROM embeddings e
    JOIN assigned a ON e.vec_id = a.vec_id
    WHERE a.cell IN (SELECT cell FROM qc)
    ORDER BY round({_DUCK_COS}, 6) DESC, e.vec_id
    LIMIT 10
    """,
)
def vec_ivf_topk(spark, sf_dir):
    """IVF-flat search: probe the 2 nearest centroid cells, exact
    cosine within — scanned fraction ~ n_probe/n_centroids.
    Single-rounded score contract (see vec_knn_bruteforce)."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = _query_vector(sf_dir)
    return vec_ops.ivf_topk(
        e, "vec_id", "embedding", qvec, _ivf_centroids(spark, sf_dir), k=10, n_probe=2
    )


@_q(
    "vec_ann_recall",
    f"""
    WITH exact AS ({_REG["vec_knn_bruteforce"][1]}),
    lshq AS ({_REG["vec_ann_topk"][1]}),
    ivfq AS ({_REG["vec_ivf_topk"][1]})
    SELECT 'lsh' AS method, CAST(10 AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS hits,
           CAST(count(*) AS DOUBLE) / 10 AS recall
    FROM exact JOIN lshq USING (vec_id)
    UNION ALL
    SELECT 'ivf' AS method, CAST(10 AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS hits,
           CAST(count(*) AS DOUBLE) / 10 AS recall
    FROM exact JOIN ivfq USING (vec_id)
    """,
)
def vec_ann_recall(spark, sf_dir):
    """In-plan ANN quality evaluation (NEW r15): recall@10 of BOTH
    approximate search paths (hyperplane-LSH bucket probe and
    IVF-flat 2-probe) against the exact brute-force top-10 — the
    standard index-quality metric, computed as one job so a recipe
    owner can gate an index rollout on measured recall, not vibes.
    Composes the three EXISTING registered queries (the oracle nests
    their registered SQL verbatim, so the eval can never drift from
    the production paths); each branch is a proven scale shape
    (TakeOrderedAndProject), the semi joins run on <= k-row frames.
    No collect, no new kernels."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = _query_vector(sf_dir)
    planes = vec_ops.planes_for_corpus(_table_rows(sf_dir, "embeddings"))
    exact = vec_ops.cosine_topk(e, "vec_id", "embedding", qvec, k=10).select("vec_id")
    lsh = vec_ops.ann_topk(
        e, "vec_id", "embedding", qvec, dim=64, k=10, n_planes=planes
    ).select("vec_id")
    ivf = vec_ops.ivf_topk(
        e, "vec_id", "embedding", qvec, _ivf_centroids(spark, sf_dir), k=10, n_probe=2
    ).select("vec_id")

    def _recall(approx, method: str):
        hits = exact.join(approx, "vec_id", "left_semi").agg(
            F.count(F.lit(1)).alias("_h")
        )
        return hits.select(
            F.lit(method).alias("method"),
            F.lit(10).cast("bigint").alias("k"),
            F.col("_h").cast("bigint").alias("hits"),
            (F.col("_h") / F.lit(10.0)).alias("recall"),
        )

    return _recall(lsh, "lsh").unionByName(_recall(ivf, "ivf"))


def _duck_ivf_trained_sql(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """DuckDB oracle for deterministic Lloyd's k-means (seeds = first k
    vectors by id, argmax-dot assignment with larger-cell tie-break,
    elementwise-mean update, empty cells keep their previous centroid)
    — unrolled ``iters`` times, then the final cell census."""
    steps = []
    prev = "seeds0"
    for it in range(1, iters + 1):
        steps.append(f"""
    s{it} AS (SELECT e.vec_id, c.cell,
                     list_dot_product(e.embedding::DOUBLE[], c.c) AS score
              FROM embeddings e CROSS JOIN {prev} c),
    b{it} AS (SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY score DESC, cell DESC) AS rn
                FROM s{it}) WHERE rn = 1),
    m{it} AS (SELECT b.cell, g.i AS pos, avg(e.embedding[g.i]::DOUBLE) AS m
              FROM b{it} b JOIN embeddings e USING (vec_id)
              CROSS JOIN generate_series(1, {dim}) g(i)
              GROUP BY b.cell, g.i),
    cm{it} AS (SELECT cell, list(m ORDER BY pos) AS c FROM m{it} GROUP BY cell),
    c{it} AS (SELECT p.cell, coalesce(cm.c, p.c) AS c
              FROM {prev} p LEFT JOIN cm{it} cm USING (cell))""")
        prev = f"c{it}"
    chain = ",".join(steps)
    return f"""
    WITH seeds0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding::DOUBLE[] AS c
      FROM embeddings ORDER BY vec_id LIMIT {k}
    ),{chain},
    sf AS (SELECT e.vec_id, c.cell,
                  list_dot_product(e.embedding::DOUBLE[], c.c) AS score
           FROM embeddings e CROSS JOIN {prev} c),
    bf AS (SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY score DESC, cell DESC) AS rn
             FROM sf) WHERE rn = 1)
    SELECT CAST(cell AS INTEGER) AS cell, CAST(count(*) AS BIGINT) AS n
    FROM bf GROUP BY cell
    """


def _duck_minhash_rollup_sql(num_hashes: int = 16) -> str:
    """Single-shot per-language MinHash sketch + pairwise resemblance.
    The Spark side chain-merges three ticks; component-min is
    order-free, so the single-shot oracle must match EXACTLY — the
    driver cross-checks the mergeability invariant itself."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.hashing import (
        MERSENNE31,
        universal_coeffs,
    )

    coeffs = universal_coeffs(num_hashes)
    hash_cols = ",\n           ".join(
        f"min(({a} * h + {b}) % {MERSENNE31}) AS mh{i}" for i, (a, b) in enumerate(coeffs)
    )
    agree = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return f"""
    WITH toks AS (SELECT lang, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
    {_duck_token_poly_base('lang')},
    hx AS (SELECT lang, unnest(base) AS h FROM bh),
    sk AS (SELECT lang, {hash_cols} FROM hx GROUP BY lang)
    SELECT a.lang AS key_a, b.lang AS key_b,
           ({agree}) / {num_hashes}.0 AS est_jaccard
    FROM sk a JOIN sk b ON a.lang < b.lang
    """


@_q("incremental_minhash_rollup", _duck_minhash_rollup_sql())
def incremental_minhash_rollup(spark, sf_dir):
    """Maintained per-language MinHash sketches — the similarity
    counterpart of the HLL distinct rollup: three CDC ticks sketched
    and chain-merged by component-wise MIN (order-free and idempotent
    like HLL's register max), then pairwise resemblance between
    language groups from the sketch table alone. The oracle computes
    the SINGLE-SHOT sketch: exact equality is the mergeability
    invariant, checked cross-engine."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        delta_minhash_rollup,
        estimate_resemblance,
        merge_minhash_rollups,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    ticks = [d.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    state = delta_minhash_rollup(ticks[0], ["lang"], "text")
    for t in ticks[1:]:
        state = merge_minhash_rollups(
            state, delta_minhash_rollup(t, ["lang"], "text"), ["lang"]
        )
    # max_groups=None: the state is lang-grained (5 groups by
    # construction) and the guard's early-out count would execute the
    # whole 3-tick sketch chain at plan-build time — the fail-fast
    # ceiling is for callers whose key cardinality is unknown.
    return estimate_resemblance(state, "lang", max_groups=None)


def _duck_pca_sql(dim: int = 64, iters: int = 2) -> str:
    """DuckDB oracle for centered power iteration (mirror of
    vectors.train_pca_direction + pca_project): per-dim mean, v0 =
    uniform 1/sqrt(dim) (0.125 — exactly representable for dim 64),
    then ``iters`` unrolled rounds of u = Σ ce·(ce·v), v = u/|u|,
    finishing with the per-vector projection."""
    steps = []
    prev = "v0"
    for it in range(1, iters + 1):
        steps.append(f"""
    s{it} AS (SELECT vec_id, ce, list_dot_product(ce, v) AS s FROM cent, {prev}),
    u{it} AS (SELECT g.i AS pos, sum(ce[g.i] * s) AS u
              FROM s{it} CROSS JOIN generate_series(1, {dim}) g(i) GROUP BY g.i),
    r{it} AS (SELECT list(u ORDER BY pos) AS vr FROM u{it}),
    v{it} AS (SELECT list_transform(vr, x -> x / sqrt(list_dot_product(vr, vr))) AS v
              FROM r{it})""")
        prev = f"v{it}"
    chain = ",".join(steps)
    return f"""
    WITH m AS (SELECT list(a ORDER BY pos) AS mean FROM (
         SELECT g.i AS pos, avg(embedding[g.i]::DOUBLE) AS a
         FROM embeddings CROSS JOIN generate_series(1, {dim}) g(i) GROUP BY g.i)),
    cent AS (SELECT vec_id,
                    list_transform(generate_series(1, {dim}),
                                   i -> embedding[i]::DOUBLE - mean[i]) AS ce
             FROM embeddings, m),
    v0 AS (SELECT list_transform(generate_series(1, {dim}),
                                 i -> 1.0 / sqrt({dim})) AS v),{chain}
    SELECT vec_id, round(list_dot_product(ce, v), 4) AS pc1 FROM cent, {prev}
    """


@_q("vec_pca_projection", _duck_pca_sql())
def vec_pca_projection(spark, sf_dir):
    """Trained dimensionality reduction: dominant centered principal
    direction via distributed power iteration (2 rounds, deterministic
    uniform start — no covariance matrix ever materializes, each round
    is one scan + 64 sums), then the per-vector PC1 projection. The
    oracle unrolls the identical recurrence in SQL, so the TRAINING is
    what's checked, not just the projection."""
    e = _t(spark, sf_dir, "embeddings")
    mean, direction = vec_ops.train_pca_direction(e, "embedding", dim=64, iters=2)
    out = vec_ops.pca_project(e, "vec_id", "embedding", mean, direction)
    return out.select("vec_id", F.round("pc1", 4).alias("pc1"))


@_q("vec_ivf_trained_cells", _duck_ivf_trained_sql())
def vec_ivf_trained_cells(spark, sf_dir):
    """IVF with a TRAINED coarse quantizer: deterministic Lloyd's
    k-means (operators/vectors.py::train_ivf_centroids) then cell
    assignment — the iterative-algorithm path the driver records as
    rows-only."""
    e = _t(spark, sf_dir, "embeddings")
    centroids = vec_ops.train_ivf_centroids(e, "vec_id", "embedding", k=8, iters=2)
    assigned = vec_ops.ivf_assign(e, "vec_id", "embedding", centroids)
    return assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))


@_q(
    "dedup_embedding_neardup",
    f"""
    WITH {_DUCK_PLANES}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
    FROM embeddings a
    JOIN buckets ba ON a.vec_id = ba.vec_id
    JOIN buckets bb ON bb.bucket = ba.bucket
    JOIN embeddings b ON b.vec_id = bb.vec_id AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.6
    """,
)
def dedup_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, candidate set limited to shared
    LSH buckets — linear-ish, never n² (A9 + A12 composed). Bucket
    count auto-sizes to the corpus so per-bucket self-joins stay
    bounded at any scale."""
    e = _t(spark, sf_dir, "embeddings")
    planes = vec_ops.planes_for_corpus(_table_rows(sf_dir, "embeddings"))
    b = vec_ops.hyperplane_buckets(e, "embedding", dim=64, n_planes=planes)
    pairs = dedup.embedding_near_dup(b, "vec_id", "embedding", "bucket", threshold=0.6)
    return pairs.select("id_a", "id_b", F.round("cos", 4).alias("cos"))


@_q(
    "vec_banded_neardup",
    """
    WITH nplanes AS (
      SELECT greatest(1, least(24, CAST(ceil(log2(count(*) / 32.0)) AS INT))) AS np
      FROM embeddings),
    planes AS (
      SELECT i // nplanes.np AS band, i % nplanes.np AS b,
             list_transform(generate_series(0, 63),
               j -> (('0x' || substr(md5('plane' || i::VARCHAR || ':' || j::VARCHAR), 1, 15))::BIGINT
                     % 2000001) / 1000000.0 - 1.0) AS plane
      FROM generate_series(0, 95) t(i), nplanes WHERE t.i < 4 * nplanes.np),
    scored AS (
      SELECT e.vec_id, p.band, p.b,
             list_dot_product(e.embedding::DOUBLE[], p.plane) AS d
      FROM embeddings e CROSS JOIN planes p),
    buckets AS (
      SELECT vec_id, band,
             CAST(sum(CASE WHEN d >= 0 THEN (1 << b) ELSE 0 END) AS INT) AS bucket
      FROM scored GROUP BY vec_id, band),
    pairs AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT p.id_a, p.id_b,
           round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS cos
    FROM pairs p
    JOIN embeddings ea ON ea.vec_id = p.id_a
    JOIN embeddings eb ON eb.vec_id = p.id_b
    WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) > 0.6
    """,
)
def vec_banded_neardup(spark, sf_dir):
    """Banded (multi-table) hyperplane LSH near-dup: candidates collide
    in ANY of 4 independent plane sets — recovers near-neighbors that
    straddle a single hyperplane (the recall dial single-table LSH
    lacks). Same adaptive plane count per band as the single-table
    path; oracle replays all bands."""
    e = _t(spark, sf_dir, "embeddings")
    planes = vec_ops.planes_for_corpus(_table_rows(sf_dir, "embeddings"))
    out = vec_ops.banded_embedding_neardup(
        e, "vec_id", "embedding", dim=64, n_tables=4, n_planes=planes, threshold=0.6
    )
    return out.select("id_a", "id_b", F.round("cos", 4).alias("cos"))


@_q(
    "timeseries_gap_fill",
    """
    WITH bounds AS (
      SELECT event_type,
             epoch_us(min(ts)) - (epoch_us(min(ts)) % 21600000000) AS lo_us,
             epoch_us(max(ts)) - (epoch_us(max(ts)) % 21600000000) AS hi_us
      FROM events GROUP BY event_type),
    grid AS (
      SELECT event_type, unnest(generate_series(lo_us, hi_us, 21600000000)) AS bucket_us
      FROM bounds),
    actual AS (
      SELECT event_type,
             epoch_us(ts) - (epoch_us(ts) % 21600000000) AS bucket_us,
             count(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT g.event_type, g.bucket_us,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n
    FROM grid g LEFT JOIN actual a
      ON a.event_type = g.event_type AND a.bucket_us = g.bucket_us
    """,
)
def timeseries_gap_fill(spark, sf_dir):
    """Time-series gap filling: a dense 6-hour bucket grid per series
    (F.sequence + explode), left-joined to actual counts, empty
    buckets zero-filled — the hypertable-rollup/densification pattern.
    The grid is generated, never scanned; one broadcastable join."""
    e = _t(spark, sf_dir, "events")
    step = 21_600_000_000  # 6h in micros
    us = F.unix_micros(F.col("ts"))
    bucket = us - us % step
    bounds = e.groupBy("event_type").agg(
        (F.min(us) - F.min(us) % step).alias("lo_us"),
        (F.max(us) - F.max(us) % step).alias("hi_us"),
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("lo_us", "hi_us", F.lit(step))).alias("bucket_us"),
    )
    actual = e.groupBy("event_type", bucket.alias("bucket_us")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        grid.join(actual, ["event_type", "bucket_us"], "left")
        .select("event_type", "bucket_us", F.coalesce("n", F.lit(0)).cast("long").alias("n"))
    )


@_q(
    "pipeline_training_data",
    """
    WITH f AS (
      SELECT doc_id, lang, text,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS n_punct,
             length(text) AS n_chars,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents),
    q AS (SELECT * FROM f
          WHERE n_tokens >= 20 AND n_punct / n_chars <= 0.2),
    d AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM q)
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(ceil(sum(n_chars) / 4) AS BIGINT) AS bpe_budget
    FROM d WHERE rn = 1
    GROUP BY lang
    """,
)
def pipeline_training_data(spark, sf_dir):
    """Composite training-data pipeline (the north-star use case end
    to end): quality filter -> fingerprint dedup -> per-language token
    budget. ONE exchange end-to-end at fixture scale (r6, VERDICT r5
    task 2: the residual vs DuckDB was the two aggregation exchanges'
    per-stage floor, not data work).

    Shape: the dedup shuffle is sized from the table's parquet footer
    row count (plan-time stats, no job — the static analogue of AQE
    partition coalescing, which the sub-GiB bench session rightly
    disables); below ~8 post-shuffle partitions the survivor table is
    coalesce(1)'d, whose SinglePartition output satisfies the
    per-language aggregation's clustering requirement, so the second
    exchange VANISHES — survivor pick and language rollup run inside
    one task of one stage. At 100 TB the same code takes the
    conf-sized shuffle and a real partial+final language aggregate
    (the coalesce gate doesn't fire); the survivor pick stays
    min_by — one small struct per fingerprint crosses the shuffle,
    text bodies never do. Measured -15% vs the two-exchange r5 form
    (interleaved, sf0.1)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.plans.partitioning import (
        ensure_parallelism,
    )

    # fan the scan out before the regex stage: a few-MB documents file
    # reads as 1-2 partitions, which serializes the per-row regex work
    # (the sf1 cross-scale run showed it dominating); the raw-text
    # round-robin is cheap relative to 16-31 idle cores (-31% at sf1,
    # neutral at sf0.1 — same rationale as minhash_signatures)
    d = ensure_parallelism(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text"), "doc_id"
    )
    # ONE regex pass end-to-end (r7, VERDICT r6 task 3: sf1 profiling
    # put ~all the residual vs DuckDB in JVM-regex time, three passes
    # over the corpus). The fingerprint's whitespace-collapse
    # normalization is the only pass that must be a regex; both
    # quality features then DERIVE from the normalized string with
    # non-regex ops, value-identical to the original forms:
    #   n_tokens = spaces-in-norm + 1   (runs collapsed to ' ')
    #   n_punct  = length diff under translate (punct chars are
    #              neither whitespace nor case-sensitive, so the
    #              count over norm equals the count over text)
    # The explode(array(norm)) is a Generate BARRIER: without it
    # CollapseProject inlines the normalization into every consumer
    # and re-evaluates the regex per reference (measured 1.5x WORSE —
    # the same k-fold-recompute trap minhash_signatures documents).
    # Measured -36% at sf1, values hash-identical (interleaved A/B).
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    ex = d.select(
        "doc_id", "lang", F.length("text").alias("n_chars"),
        F.explode(F.array(norm)).alias("_norm"),
    )
    nlen = F.length("_norm")
    base = ex.select(
        "doc_id", "lang", "n_chars",
        (nlen - F.length(F.replace(F.col("_norm"), F.lit(" "), F.lit(""))) + 1).alias("n_tokens"),
        (nlen - F.length(F.translate(F.col("_norm"), ".,;:!?", ""))).alias("n_punct"),
        # ≙ text_ops.fingerprint(text): md5 of the same normalization
        F.md5("_norm").alias("_fp"),
    )
    fp = base.filter(
        (F.col("n_tokens") >= 20) & (F.col("n_punct") / F.col("n_chars") <= 0.2)
    )
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    npart = max(1, min(conf_parts, -(-_table_rows(sf_dir, "documents") // 100_000)))
    agg = F.min_by(F.struct("lang", "n_tokens", "n_chars"), "doc_id").alias("s")
    if npart <= 8:
        # small path: explicit narrow repartition + coalesce(1) — the
        # single-phase agg trades the partial combine for erased
        # downstream exchanges (fine at a few MB)
        survivors = fp.repartition(npart, "_fp").groupBy("_fp").agg(agg).coalesce(1)
    else:
        # scale path: NO explicit repartition — the conf-sized shuffle
        # with map-side partial min_by, so one combined struct per
        # fingerprint per input partition crosses the exchange, never
        # one row per document (review fix: an unconditional
        # repartition satisfied the distribution early and hoisted the
        # partial combine above the shuffle)
        survivors = fp.groupBy("_fp").agg(agg)
    return survivors.groupBy(F.col("s.lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("s.n_tokens").cast("long").alias("total_tokens"),
        F.ceil(F.sum("s.n_chars") / F.lit(4)).cast("long").alias("bpe_budget"),
    )


# ---------------------------------------------------------------------------
# Streaming-shaped (batch-expressible) operators
# ---------------------------------------------------------------------------


@_q(
    "stream_tumbling_window",
    """
    SELECT epoch_us(ts) - (epoch_us(ts) % 600000000) AS win_start_us,
           event_type,
           count(*) AS n,
           round(sum(value), 3) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark, sf_dir):
    """Tumbling event-time window aggregation (T5): 10-minute buckets,
    epoch-aligned — the batch twin of the streaming windowed agg."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 3).alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@_q(
    "stream_sliding_window",
    """
    WITH base AS (
      SELECT epoch_us(ts) AS us, event_type, value FROM events
    ), assigned AS (
      SELECT (us - us % 300000000) - k.k * 300000000 AS win_start_us,
             event_type, value
      FROM base, (SELECT 0 AS k UNION ALL SELECT 1) k
      WHERE us >= (us - us % 300000000) - k.k * 300000000
        AND us <  (us - us % 300000000) - k.k * 300000000 + 600000000
    )
    SELECT win_start_us, event_type, count(*) AS n,
           round(sum(value), 3) AS sum_value
    FROM assigned GROUP BY win_start_us, event_type
    """,
)
def stream_sliding_window(spark, sf_dir):
    """Sliding event-time window aggregation (T5): width 10 min, slide
    5 min — every event contributes to width/slide windows. The oracle
    unrolls the window assignment (each event lands in exactly two
    5-min-aligned starts), which is precisely what Spark's window()
    expands to before the aggregate."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 3).alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@_q(
    "stream_session_window_native",
    """
    WITH s AS (
      SELECT event_type, event_id, epoch_us(ts) AS us, value,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id)
    ), g AS (
      SELECT event_type, us, value,
             sum(brk) OVER (PARTITION BY event_type ORDER BY us, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    )
    SELECT event_type,
           min(us) AS sess_start_us,
           max(us) + 1800000000 AS sess_end_us,
           count(*) AS n,
           round(sum(value), 3) AS val_sum
    FROM g GROUP BY event_type, sid
    """,
)
def stream_session_window_native(spark, sf_dir):
    """Native session_window aggregation (T5's third window type, the
    built-in API — stream_sessionize is the same semantics from first
    principles with lag+cumsum): 30-min-gap sessions per event_type;
    start = first event, end = last event + gap. Oracle is the classic
    gap-and-islands construction, proving the built-in against first
    principles. The oracle's two window passes MUST share one
    deterministic total order (us, event_id): the r10 sf10 sweep
    caught the original mixed ordering (lag over raw nano ts, cumsum
    over µs) splitting a session when 100 events tie on the same
    microsecond — the cumsum placed 99 tied rows 'before' the
    session-break row. Spark's single session was correct; the oracle
    was the bug."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 3).alias("val_sum"))
        .select(
            "event_type",
            F.unix_micros(F.col("w.start")).alias("sess_start_us"),
            F.unix_micros(F.col("w.end")).alias("sess_end_us"),
            "n",
            "val_sum",
        )
    )


@_q(
    "timeseries_multigrain_rollup",
    """
    WITH base AS (
      SELECT epoch_us(ts) AS us, event_type, value FROM events
    )
    SELECT grain, bucket_us, event_type,
           count(*) AS n, round(sum(value), 3) AS val_sum
    FROM (
      SELECT 'hour' AS grain, us - us % 3600000000 AS bucket_us,
             event_type, value FROM base
      UNION ALL
      SELECT 'day' AS grain, us - us % 86400000000 AS bucket_us,
             event_type, value FROM base
    ) g
    GROUP BY grain, bucket_us, event_type
    """,
)
def timeseries_multigrain_rollup(spark, sf_dir):
    """Multi-granularity time-bucket rollup (hypertable
    continuous-aggregate shape): hour and day buckets computed in ONE
    pass via grouping sets over pre-derived buckets — the scan is read
    once and the partial aggregate combines map-side for both grains,
    instead of one job per granularity. At 100 TB the single-scan
    property is the whole point (a grain-per-job loop reads the table
    G times).

    The grain label derives from F.grouping() — WHICH set produced the
    row, structurally — not from hour_us NULL-ness: a NULL ts makes
    both grains' buckets NULL, and a NULL-ness test would mislabel the
    hour set's row as 'day' (duplicate output keys; ADVICE r4)."""
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    pre = e.select(
        (us - us % F.lit(3_600_000_000)).alias("hour_us"),
        (us - us % F.lit(86_400_000_000)).alias("day_us"),
        "event_type",
        "value",
    )
    rolled = (
        pre.groupingSets(
            [["hour_us", "event_type"], ["day_us", "event_type"]],
            "hour_us", "day_us", "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 3).alias("val_sum"),
            F.when(F.grouping("hour_us") == 0, F.lit("hour"))
            .otherwise(F.lit("day"))
            .alias("grain"),
        )
    )
    return rolled.select(
        "grain",
        F.coalesce("hour_us", "day_us").alias("bucket_us"),
        "event_type",
        "n",
        "val_sum",
    )


@_q(
    "stream_sessionize",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id,
           CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_id
    FROM g
    """,
)
def stream_sessionize(spark, sf_dir):
    """Sessionization (30-min inactivity gap): lag + conditional cumsum,
    one shuffle on the key (the batch twin of session_window;
    operators/relational.py::sessionize)."""
    e = _t(spark, sf_dir, "events")
    out = relational.sessionize(e, "user_id", "ts", 30, "event_id")
    return out.select("user_id", "event_id", F.col("session_id").cast("long").alias("session_id"))


# ---------------------------------------------------------------------------
# Multimodal plumbing (north star; decode kernels stubbed)
# ---------------------------------------------------------------------------


@_q(
    "mm_binary_features",
    """
    SELECT doc_id AS id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha,
           CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
           CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height
    FROM documents
    """,
)
def mm_binary_features(spark, sf_dir):
    """Opaque-binary media plumbing: payload bytes -> Python-side
    feature extraction over Arrow batches (decode kernel stubbed, the
    Spark-side schema/batching is the real contract). Takes the
    mapInArrow kernel (r13): payload lengths come off the
    BinaryArray offsets buffer with no per-row bytes object — 27%
    faster than the mapInPandas reference at sf10 (0.542 vs 0.743 s,
    interleaved min-of-3; decomposition table in PERFORMANCE.md) and
    value-identical (pinned in tests/test_multimodal.py)."""
    d = _t(spark, sf_dir, "documents")
    media = multimodal.attach_binary(d.select("doc_id", "text"), "text")
    feats = multimodal.extract_features_arrow(media)
    return feats.select(
        "id",
        "n_bytes",
        F.col("sha256").alias("sha"),
        "width",
        "height",
    )


@_q(
    "q6_forecast_revenue",
    """
    SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(l_discount AS DECIMAL(13,2))), 2)::DOUBLE AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan + conjunctive pushed filter + global
    agg — the pattern where pushdown/pruning does all the work. The
    ungrouped full-table money sum aggregates as DECIMAL (exact
    product DECIMAL(18,2)×DECIMAL(13,2), the
    agg_decimal_exact_pricing pattern) so the hash check is
    summation-order-independent at every scale — at sf10 magnitudes a
    double sum crosses the round(,2) boundary with real probability
    (the q1/pivot class)."""
    li = _t(spark, sf_dir, "lineitem")
    ext = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(13,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(ext * disc), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_q(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: 4-way join + grouped top-k."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    cust_dim = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "c_name", "n_name"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust_dim, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@_q(
    "q12_priority_shipmode",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def q12_priority_shipmode(spark, sf_dir):
    """TPC-H Q12 shape: join + conditional CASE aggregation.

    r14: reads both facts through the ``layout='auto'`` gate
    (sources.tables.load_fact — VERDICT r13 task 4): when the
    ingest-once co-bucketed managed tables exist for this sf_dir (built
    by any prior bucketed-arm run), the o⋈li orderkey join runs
    zero-Exchange for free; when they don't, the gate falls back to the
    plain parquet scan. Result is layout-independent (driver
    hash-checks it either way); q3/q5/q18's plain entries stay
    explicitly plain as the tracked contract numbers."""
    o = load_fact(spark, sf_dir, "orders", layout="auto").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_fact(spark, sf_dir, "lineitem", layout="auto").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@_q(
    "q14_promo_share",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-07-01'
    """,
)
def q14_promo_share(spark, sf_dir):
    """TPC-H Q14 shape: conditional share-of-total in one agg."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)) / F.sum(rev),
                4,
            ).alias("promo_share")
        )
    )


@_q(
    "q18_large_orders_having",
    """
    SELECT o_orderkey, round(sum(l_quantity), 2) AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey
    HAVING sum(l_quantity) > 55
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_orders_having(spark, sf_dir):
    """TPC-H Q18 shape: grouped HAVING filter + top-k."""
    return _q18_compose(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
    )


def _q18_compose(li, o):
    """Q18 dataflow over caller-supplied fact frames — shared by the
    plain and bucketed-layout variants so the two registry entries can
    never drift (same pattern as _q3_compose/_q5_compose)."""
    o = o.select("o_orderkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"), F.sum("l_quantity").alias("_raw"))
        .filter(F.col("_raw") > 55)
        .drop("_raw")
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(20)
    )


@_q(
    "q18_bucketed_layout",
    """
    SELECT o_orderkey, round(sum(l_quantity), 2) AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey
    HAVING sum(l_quantity) > 55
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_bucketed_layout(spark, sf_dir):
    """Q18 over orderkey-CO-BUCKETED lineitem/orders (ingest-once
    managed tables, _bucketed_fact — see q3_bucketed_layout): this is
    the purest co-bucketed shape in the registry because BOTH the
    join key and the aggregation key are the bucket key, so the
    li⋈o join AND the per-order sum run exchange-free — the only
    shuffle left is the 20-row TakeOrderedAndProject. Identical
    dataflow and oracle as q18_large_orders_having (shared
    _q18_compose), so the driver hash-checks that the layout changes
    nothing but the plan; the plain entry remains the contract
    number (bench.py 'bucketed_facts' block tracks this arm)."""
    return _q18_compose(
        _bucketed_fact(spark, sf_dir, "lineitem", "l_orderkey"),
        _bucketed_fact(spark, sf_dir, "orders", "o_orderkey"),
    )


@_q(
    "q19_disjunctive_predicates",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 40)
       OR (p_type = 'ECONOMY' AND l_quantity >= 45)
    """,
)
def q19_disjunctive_predicates(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/qty
    bands — the OR-predicate pattern Catalyst must not naively
    cross-join on.

    The lineitem side keeps the derived quantity weakening
    (l_quantity ∈ [1,40] ∨ ≥45 — implied by the full predicate) as a
    pushed parquet filter. The part side is PRE-CLASSED into a
    bitmask (r12): each part evaluates its three brand/size/type
    conjunct-classes ONCE before the broadcast —
    pmask = (brand1∧size1-15) + 2·(brand2∧size10-30) + 4·(ECONOMY) —
    and only pmask>0 parts enter the hash table. This is strictly
    stronger than the r11 brand∈{1,2}∨ECONOMY weakening (a Brand#1
    part with size 20 and non-ECONOMY type never reaches the join at
    all), so non-qualifying lineitems drop AT THE JOIN instead of in
    a post-join filter, and the residual per-probe predicate is three
    int bit-tests + quantity ranges instead of re-running string
    equality and size ranges on every matched row. Measured at sf10:
    2.56 -> 0.88 s / 2.22 -> 0.81 s interleaved (-65%), results
    bit-identical, oracle unchanged (PERFORMANCE.md r12). The same
    precompute-per-build-row trick is what you'd ship to 1000
    executors: the mask costs 200k part-side evaluations instead of
    60M probe-side ones — build-side work is O(dim), probe-side is
    O(fact)."""
    m1 = ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)).cast("int")
    m2 = ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)).cast("int")
    m3 = (F.col("p_type") == "ECONOMY").cast("int")
    p = (
        _t(spark, sf_dir, "part")
        .select("p_partkey", (m1 + m2 * 2 + m3 * 4).alias("pmask"))
        .filter(F.col("pmask") > 0)
    )
    li_weak = F.col("l_quantity").between(1, 40) | (F.col("l_quantity") >= 45)
    li = _t(spark, sf_dir, "lineitem").filter(li_weak)
    qty = F.col("l_quantity")
    cond = (
        ((F.col("pmask").bitwiseAND(1) > 0) & qty.between(1, 20))
        | ((F.col("pmask").bitwiseAND(2) > 0) & qty.between(10, 40))
        | ((F.col("pmask").bitwiseAND(4) > 0) & (qty >= 45))
    )
    return li.join(p, li.l_partkey == p.p_partkey).filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@_q(
    "agg_grouping_sets",
    """
    SELECT r_name, c_mktsegment,
           round(sum(c_acctbal), 2) AS acctbal, count(*) AS n
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
    """,
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (A6) via the SQL surface."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    _t(spark, sf_dir, "region").createOrReplaceTempView("region")
    return spark.sql(
        """
        SELECT r_name, c_mktsegment,
               round(sum(c_acctbal), 2) AS acctbal, count(*) AS n
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
        """
    )


@_q(
    "cdc_late_data_rescan",
    f"""
    SELECT count(*) AS n_with_tolerance,
           (SELECT count(*) FROM events WHERE ts > TIMESTAMP '{WM}') AS n_strict
    FROM events
    WHERE ts > TIMESTAMP '{WM}' - INTERVAL 60 MINUTE
    """,
)
def cdc_late_data_rescan(spark, sf_dir):
    """Late-data-tolerant rescan (T4): the strict watermark predicate
    silently loses late rows (service.py:53); a bounded tolerance tail
    + idempotent ids recovers them."""
    e = _t(spark, sf_dir, "events")
    tolerant = cdc.rescan_with_tolerance(e, "ts", WM, tolerance_minutes=60)
    strict = cdc.incremental_scan(e, "ts", WM)
    return tolerant.agg(F.count(F.lit(1)).alias("n_with_tolerance")).crossJoin(
        strict.agg(F.count(F.lit(1)).alias("n_strict"))
    )


@_q(
    "set_ops_all_variants",
    """
    WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    SELECT 'intersect_all' AS op, count(*) AS n
      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    UNION ALL
    SELECT 'except_all' AS op, count(*) AS n
      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    """,
)
def set_ops_all_variants(spark, sf_dir):
    """INTERSECT ALL / EXCEPT ALL — multiset semantics (§2.7)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    rows = [("intersect_all", a.intersectAll(b)), ("except_all", a.exceptAll(b))]
    out = None
    for op, df in rows:
        one = df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")
        out = one if out is None else out.unionByName(one)
    return out


@_q(
    "agg_approx_sketches",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_nd,
           TRUE AS nd_ok,
           TRUE AS p50_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_sketches(spark, sf_dir):
    """Approximate aggregates (A5): HLL++ distinct + approximate
    percentile. Sketch ESTIMATES are engine-specific and can never
    hash-match a DuckDB value, so the oracle-checkable contract is the
    sketch's accuracy guarantee itself: the query emits the exact
    value plus a boolean asserting the estimate lies inside the
    sketch's error bound (HLL rsd=0.01 -> |est-exact|/exact <= 0.05 =
    5 sigma; percentile_approx default accuracy 10000 -> rank error
    n/10000 << the exact p49..p51 corridor). DuckDB's side states the
    same exact values and literal TRUE — a sketch regression (wrong
    rsd plumb-through, broken merge) flips the boolean and fails the
    hash compare. Deterministic per dataset: approx_count_distinct and
    percentile_approx are fixed-seed, so this is a stable gate, not a
    flaky statistical test (VERDICT r9 task 3: was rows-only).

    The exact p49/p51 corridor is computed by HISTOGRAM SELECTION
    (r16, guide §2.3): ``F.percentile`` buffers every value — its
    partial aggregate ships ALL raw doubles into the 3 flag-group
    reduce tasks, each sorting ~20M values single-threaded at sf10.
    Instead: count per (flag, price) value, cumulative-rank the
    distinct values with a per-flag window, and pick the two order
    statistics straddling p*(n-1), interpolated with Percentile's own
    weighted formula (v_floor*(ceil-pos) + v_ceil*(pos-floor)). Only
    distinct (flag, price) rows ever shuffle. Interleaved
    per-rep-rebuilt A/B at sf10: 39.6 -> 12.0 s (0.30x), identical
    output (OPTIMIZATION_r16.md §4)."""
    li = _t(spark, sf_dir, "lineitem")
    # Exact distinct via two-level aggregation, NOT countDistinct in
    # the same agg as the sketches: mixing a distinct aggregate with
    # other functions plans an Expand (every row duplicated per
    # distinct group) and drags the percentile buffers through it —
    # measured 45 s vs 0.8 s warm at sf0.1 for the one-agg form.
    exact = (
        li.groupBy("l_returnflag", "l_orderkey")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("exact_nd"))
    )
    sk = li.groupBy("l_returnflag").agg(
        # rsd=0.01: the default 5% rsd wanders ~9% on these
        # cardinalities; 1% costs a few KB more sketch per group
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_nd"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_p50"),
    )
    # exact percentiles from the value histogram: each distinct price
    # covers 0-based ranks [_lo, _hi) within its flag
    hist = (
        li.filter(F.col("l_extendedprice").isNotNull())
        .groupBy("l_returnflag", F.col("l_extendedprice").cast("double").alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    wp = Window.partitionBy("l_returnflag")
    cum = (
        hist.withColumn("_hi", F.sum("_c").over(wp.orderBy("_v")))
        .withColumn("_lo", F.col("_hi") - F.col("_c"))
        .withColumn("_n", F.sum("_c").over(wp))
    )
    pos49 = F.lit(0.49) * (F.col("_n") - 1).cast("double")
    pos51 = F.lit(0.51) * (F.col("_n") - 1).cast("double")
    agg = cum.groupBy("l_returnflag").agg(
        *[
            F.min(
                F.when((F.col("_lo") <= ix) & (ix < F.col("_hi")), F.col("_v"))
            ).alias(name)
            for pos, tag in ((pos49, "49"), (pos51, "51"))
            for ix, name in (
                (F.floor(pos).cast("long"), f"_f{tag}"),
                (F.ceil(pos).cast("long"), f"_c{tag}"),
            )
        ],
        F.first(pos49).alias("_pos49"),
        F.first(pos51).alias("_pos51"),
    )

    def _interp(f, c, pos):
        # Percentile's exact interpolation: value at the fractional
        # 0-based position pos between adjacent order statistics
        fl = F.floor(pos).cast("double")
        ce = F.ceil(pos).cast("double")
        return F.when(fl == ce, F.col(f)).otherwise(
            F.col(f) * (ce - pos) + F.col(c) * (pos - fl)
        )

    pct = agg.select(
        "l_returnflag",
        _interp("_f49", "_c49", F.col("_pos49")).alias("p49"),
        _interp("_f51", "_c51", F.col("_pos51")).alias("p51"),
    )
    # left join: a flag whose prices are all NULL has no histogram rows
    # (so no pct row) but is still a group — its p50_ok reads NULL
    return (
        sk.join(F.broadcast(exact), "l_returnflag")
        .join(F.broadcast(pct), "l_returnflag", "left")
        .select(
            "l_returnflag",
            "exact_nd",
            (
                F.abs(F.col("approx_nd") - F.col("exact_nd"))
                <= 0.05 * F.col("exact_nd")
            ).alias("nd_ok"),
            (
                (F.col("approx_p50") >= F.col("p49"))
                & (F.col("approx_p50") <= F.col("p51"))
            ).alias("p50_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Relational batch 2: stats, collect/arg aggs, cube, unpivot, subqueries,
# array/map/math function surface
# ---------------------------------------------------------------------------


@_q(
    "join_cross_region_nation",
    """
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
)
def join_cross_region_nation(spark, sf_dir):
    """Explicit cross join (J8) — the building block brute-force
    similarity starts from before bucketing prunes it."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@_q(
    "window_range_frame_spend",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS spend_30d
    FROM orders
    """,
)
def window_range_frame_spend(spark, sf_dir):
    """RANGE frame over event-time (W5): rolling 30-day spend per
    customer — value-based frames, not row counts."""
    o = _t(spark, sf_dir, "orders")
    days = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(days.cast("long"))
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
    )


@_q(
    "agg_stats_lineitem",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4)              AS sd_qty,
           round(var_samp(l_discount), 6)                 AS var_disc,
           round(corr(l_quantity, l_extendedprice), 4)    AS corr_qty_price,
           round(covar_samp(l_quantity, l_discount), 6)   AS covar_qty_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats_lineitem(spark, sf_dir):
    """Statistical aggregates (A4 extended): stddev/variance/corr/covar."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
    )


@_q(
    "agg_percentile_prices",
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 2)  AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2)  AS p90,
           round(quantile_cont(o_totalprice, 0.99), 2) AS p99
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_percentile_prices(spark, sf_dir):
    """Exact interpolated percentiles (A5; percentile_approx is the
    scale path — approx sketches differ across engines, so the exact
    variant carries the oracle)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 2).alias("p99"),
    )


@_q(
    "agg_collect_nations",
    """
    SELECT r_name,
           array_to_string(list_sort(list(n_name)), ',') AS nations,
           CAST(count(*) AS BIGINT)                      AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def agg_collect_nations(spark, sf_dir):
    """collect_list with explicit intra-group order (A8); rendered as
    a joined string so the output schema stays scalar-typed for the
    driver's value hash."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_q(
    "agg_minby_maxby_events",
    """
    SELECT user_id,
           arg_min(event_type, ts) AS first_type,
           arg_max(event_type, ts) AS last_type,
           epoch_us(min(ts)) AS first_ts_us,
           epoch_us(max(ts)) AS last_ts_us
    FROM events GROUP BY user_id
    """,
)
def agg_minby_maxby_events(spark, sf_dir):
    """first/last-by-time aggregates (A8) via min_by/max_by."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.min_by("event_type", "ts").alias("first_type"),
        F.max_by("event_type", "ts").alias("last_type"),
        F.unix_micros(F.min("ts")).alias("first_ts_us"),
        F.unix_micros(F.max("ts")).alias("last_ts_us"),
    )


@_q(
    "agg_cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS total,
           count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_status_priority(spark, sf_dir):
    """CUBE grouping sets (A6). The money total sums as DECIMAL —
    order-independent, so the hash check holds at EVERY scale (the
    double sum drifted by summation order past the round(,2) boundary
    at sf10's magnitudes — the q1 class, VERDICT r10 task 3); the
    exact decimal converts to DOUBLE losslessly below 2^53 cents."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


@_q(
    "unpivot_customer_metrics",
    """
    SELECT c_custkey, metric, round(val, 2) AS val FROM (
      SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey' AS metric, c_nationkey::DOUBLE AS val FROM customer
    ) t
    """,
)
def unpivot_customer_metrics(spark, sf_dir):
    """Unpivot / melt (wide -> long)."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.select("c_custkey", F.col("c_acctbal"), F.col("c_nationkey").cast("double"))
        .unpivot("c_custkey", ["c_acctbal", "c_nationkey"], "metric", "val")
        .select(
            "c_custkey",
            F.when(F.col("metric") == "c_acctbal", "acctbal").otherwise("nationkey").alias("metric"),
            F.round("val", 2).alias("val"),
        )
    )


@_q(
    "subquery_above_avg_customers",
    """
    SELECT c_custkey, round(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    """,
)
def subquery_above_avg_customers(spark, sf_dir):
    """Uncorrelated scalar subquery (SQL surface)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        """
    )


@_q(
    "subquery_correlated_order_above_cust_avg",
    """
    SELECT o_orderkey, o_custkey
    FROM orders o
    WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    """,
)
def subquery_correlated_order_above_cust_avg(spark, sf_dir):
    """Correlated scalar subquery — Catalyst decorrelates into an
    aggregate + join (SURVEY §4 'subquery decorrelation')."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey
        FROM orders o
        WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
        """
    )


@_q(
    "scalar_math_lineitem",
    """
    SELECT l_orderkey, l_linenumber,
           round(abs(l_discount - 0.05), 4)                 AS abs_d,
           round(pow(l_quantity, 2), 2)                     AS qty_sq,
           round(sqrt(l_extendedprice), 4)                  AS price_sqrt,
           round(ln(l_extendedprice + 1), 4)                AS price_ln,
           CAST(floor(l_extendedprice / 1000) AS BIGINT)    AS price_k,
           CAST(ceil(l_quantity) AS BIGINT)                 AS qty_ceil,
           round(l_extendedprice % 97, 4)                   AS price_mod
    FROM lineitem WHERE l_linenumber = 1
    """,
)
def scalar_math_lineitem(spark, sf_dir):
    """Math function surface (F9)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("abs_d"),
        F.round(F.pow("l_quantity", F.lit(2)), 2).alias("qty_sq"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 4).alias("price_ln"),
        F.floor(F.col("l_extendedprice") / 1000).cast("long").alias("price_k"),
        F.ceil("l_quantity").cast("long").alias("qty_ceil"),
        F.round(F.col("l_extendedprice") % 97, 4).alias("price_mod"),
    )


@_q(
    "array_ops_documents",
    """
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT)                          AS n_toks,
           array_to_string(toks[1:3], ' ')                    AS head3,
           CAST(len(list_distinct(toks)) AS BIGINT)           AS n_uniq,
           list_contains(toks, 'spark')                       AS has_spark,
           list_sort(list_distinct(toks))[1]                  AS first_alpha
    FROM t
    """,
)
def array_ops_documents(spark, sf_dir):
    """Array function surface (F10): size/slice/distinct/contains/sort."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_toks"),
        F.concat_ws(" ", F.slice(toks, 1, 3)).alias("head3"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.array_sort(F.array_distinct(toks))[0].alias("first_alpha"),
    )


@_q(
    "map_ops_events",
    """
    SELECT event_id,
           map(['type', 'k'], [event_type, json_extract_string(props, '$.k')])['k'][1]
             AS k_from_map,
           CAST(len(map_keys(map(['type', 'k'],
                [event_type, json_extract_string(props, '$.k')]))) AS BIGINT) AS n_keys
    FROM events
    """,
)
def map_ops_events(spark, sf_dir):
    """Map construction + access surface (F11)."""
    e = _t(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("k"), F.get_json_object("props", "$.k"),
    )
    return e.select(
        "event_id",
        m["k"].alias("k_from_map"),
        F.size(F.map_keys(m)).cast("long").alias("n_keys"),
    )


@_q(
    "agg_bitwise_events",
    """
    SELECT event_type,
           bit_and(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_and,
           bit_or(CAST(json_extract_string(props, '$.k') AS BIGINT))  AS k_or,
           bit_xor(user_id) AS uid_xor
    FROM events GROUP BY event_type
    """,
)
def agg_bitwise_events(spark, sf_dir):
    """Bitwise aggregates (A4 extended): bit_and / bit_or / bit_xor."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.bit_and(k).alias("k_and"),
        F.bit_or(k).alias("k_or"),
        F.bit_xor("user_id").alias("uid_xor"),
    )


@_q(
    "scalar_datetime_parse_roundtrip",
    """
    SELECT event_id,
           epoch_us(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S'))
             AS reparsed_us,
           CAST(strftime(ts, '%Y') AS BIGINT) AS yr_str
    FROM events
    """,
)
def scalar_datetime_parse_roundtrip(spark, sf_dir):
    """Datetime format -> parse round-trip (F8): the string-boundary
    path CDC sources cross (second precision, sub-seconds dropped)."""
    e = _t(spark, sf_dir, "events")
    formatted = F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    return e.select(
        "event_id",
        F.unix_micros(F.to_timestamp(formatted, "yyyy-MM-dd HH:mm:ss")).alias("reparsed_us"),
        F.date_format("ts", "yyyy").cast("long").alias("yr_str"),
    )


@_q(
    "scalar_try_cast_safe",
    """
    SELECT event_id,
           TRY_CAST(event_type AS BIGINT)                          AS type_as_int,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)   AS k_int,
           CAST(floor(value) AS BIGINT)                            AS value_floor
    FROM events
    """,
)
def scalar_try_cast_safe(spark, sf_dir):
    """Error-safe casts (ANSI-mode escape hatch): try_cast returns
    NULL where strict ANSI would raise."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.try_to_number(F.col("event_type"), F.lit("999999")).cast("long").alias("type_as_int"),
        F.get_json_object("props", "$.k").try_cast("long").alias("k_int"),
        # floor on both sides: double->int cast truncates in Spark but
        # ROUNDS in DuckDB — floor first pins one semantic
        F.floor("value").cast("long").alias("value_floor"),
    )


@_q(
    "agg_boolean_lineitem",
    """
    SELECT l_returnflag,
           CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
           bool_or(l_quantity > 49)                    AS any_bulk,
           bool_and(l_tax <= 0.08)                     AS all_low_tax
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_boolean_lineitem(spark, sf_dir):
    """Boolean aggregates (A4 extended): count_if / bool_or / bool_and."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).cast("long").alias("n_discounted"),
        F.bool_or(F.col("l_quantity") > 49).alias("any_bulk"),
        F.bool_and(F.col("l_tax") <= 0.08).alias("all_low_tax"),
    )


@_q(
    "array_hof_documents",
    """
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
               FROM documents)
    SELECT doc_id,
           CAST(len(list_filter(toks, x -> length(x) > 4)) AS BIGINT) AS n_long,
           CAST(len(list_filter(toks, x -> x = 'spark')) > 0 AS BOOLEAN) AS has_spark,
           CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS BIGINT)
             AS total_chars
    FROM t
    """,
)
def array_hof_documents(spark, sf_dir):
    """Array higher-order functions (F10): filter / exists / aggregate
    lambdas — JVM-side, codegen'd, zero Python."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return d.select(
        "doc_id",
        F.size(F.filter(toks, lambda x: F.length(x) > 4)).cast("long").alias("n_long"),
        F.exists(toks, lambda x: x == "spark").alias("has_spark"),
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
    )


@_q(
    "array_posexplode_tokens",
    """
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
               FROM documents WHERE doc_id < 20),
         i AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS pos1 FROM t)
    SELECT doc_id, CAST(pos1 - 1 AS BIGINT) AS pos, toks[pos1] AS tok
    FROM i
    """,
)
def array_posexplode_tokens(spark, sf_dir):
    """posexplode: array -> (position, element) rows (F10) — the
    ordinality-preserving explode sequence models need."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return d.select("doc_id", F.posexplode(toks).alias("pos", "tok")).select(
        "doc_id", F.col("pos").cast("long").alias("pos"), "tok"
    )


@_q(
    "scalar_regexp_advanced",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, 's[a-z]+')) AS BIGINT) AS n_s_words,
           coalesce(array_to_string(regexp_extract_all(text, 's[a-z]+')[1:3], ','), '')
             AS first_s_words,
           regexp_matches(text, 'stream|batch')  AS mentions_mode
    FROM documents
    """,
)
def scalar_regexp_advanced(spark, sf_dir):
    """Advanced regexp surface (F7): extract_all + rlike."""
    d = _t(spark, sf_dir, "documents")
    hits = F.regexp_extract_all(F.col("text"), F.lit("s[a-z]+"), 0)
    return d.select(
        "doc_id",
        F.size(hits).cast("long").alias("n_s_words"),
        F.concat_ws(",", F.slice(hits, 1, 3)).alias("first_s_words"),
        F.col("text").rlike("stream|batch").alias("mentions_mode"),
    )


@_q(
    "text_bpe_regex_tokens",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))
                AS BIGINT) AS bpe_pretokens,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws_tokens
    FROM documents
    """,
)
def text_bpe_regex_tokens(spark, sf_dir):
    """BPE-ish pretokenizer counting (GPT-2-style split regex) next to
    whitespace counting — the token-budget pair a data pipeline
    filters on."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text_ops.bpe_regex_token_count(F.col("text")).alias("bpe_pretokens"),
        text_ops.token_count(F.col("text")).cast("long").alias("ws_tokens"),
    )


@_q(
    "mm_resize_plan",
    """
    WITH m AS (SELECT doc_id AS id, octet_length(encode(text)) AS nb FROM documents),
         dims AS (SELECT id, nb, (nb % 640) + 1 AS w, (nb % 480) + 1 AS h FROM m)
    SELECT id,
           CAST(greatest(1, floor(w * least(1.0, 256.0 / greatest(w, h)))) AS INTEGER) AS width,
           CAST(greatest(1, floor(h * least(1.0, 256.0 / greatest(w, h)))) AS INTEGER) AS height
    FROM dims
    """,
)
def mm_resize_plan(spark, sf_dir):
    """Image resize plumbing (mapInPandas over Arrow batches; resample
    kernel stubbed): aspect-preserving clamp to 256px max side.

    Executes under PER_QUERY_CONF's Arrow batch size via a conf-pinned
    child session (r16): the 10000-row mapInPandas batches that the r15
    mrb sweep measured 10.9-17.9% faster at sf10 now apply to EVERY
    caller of this query, not only a harness that wraps the timed
    region (VERDICT r15 #1)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.session import (
        PER_QUERY_CONF,
        conf_pinned_session,
    )

    spark = conf_pinned_session(spark, PER_QUERY_CONF["mm_resize_plan"])
    d = _t(spark, sf_dir, "documents")
    media = multimodal.attach_binary(d.select("doc_id", "text"), "text")
    resized = multimodal.resize_images(media, max_side=256)
    return resized.select("id", "width", "height")


@_q(
    "mm_frame_sample",
    """
    SELECT doc_id AS id,
           CAST(unnest(generate_series(0,
                CAST(octet_length(encode(text)) / 1000 AS INTEGER), 30)) AS BIGINT)
             AS frame_idx
    FROM documents
    """,
)
def mm_frame_sample(spark, sf_dir):
    """Video frame-sampling plan contract (multimodal): per-payload
    frame-index explode — output cardinality and partitioning are the
    real contract, the decoder is stubbed."""
    d = _t(spark, sf_dir, "documents")
    media = multimodal.attach_binary(d.select("doc_id", "text"), "text")
    frames = multimodal.frame_sample_plan(media, every_n=30)
    return frames.select("id", F.col("frame_idx").cast("long").alias("frame_idx"))


# The deterministic hashing featurizer (streaming.pipeline._hash_featurize,
# the model-free fallback for U1) is SQL-expressible: per whitespace token,
# h = int(md5(tok)[:15 hex], 16), scatter -1 into bucket h % 384, normalize
# (every component is -count/||count||). The DuckDB replica below was
# verified BIT-EXACT against the numpy kernel at the float32 level
# (200/200 docs, every nonzero component) before these two queries
# gained hash-checked oracles (VERDICT r10 task 2: the registry's last
# no_oracle entries). When sentence_transformers IS importable the
# UDF switches to the real model and these oracles no longer apply — the
# import-gated test in tests/test_streaming.py covers that path.
_EMBED_FALLBACK_COMPONENTS_SQL = r"""
    d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
    tok AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS t
            FROM d),
    h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT % 384 AS idx
          FROM tok WHERE t <> ''),
    k AS (SELECT doc_id, idx, count(*)::BIGINT AS k FROM h GROUP BY 1, 2),
    n AS (SELECT doc_id, sqrt(sum(k * k)) AS nrm FROM k GROUP BY 1),
    comp AS (SELECT k.doc_id, k.idx,
                    CAST(-(k.k::DOUBLE) / n.nrm AS FLOAT) AS c
             FROM k JOIN n USING (doc_id))
"""


@_q(
    "embed_documents",
    f"""
    WITH {_EMBED_FALLBACK_COMPONENTS_SQL},
    agg AS (SELECT doc_id,
                   round(sqrt(sum(c::DOUBLE * c::DOUBLE)), 4) AS norm,
                   count(*)::BIGINT AS n_nonzero,
                   round(sum(c::DOUBLE), 6) AS comp_sum,
                   round(sum((idx + 1) * c::DOUBLE), 4) AS idx_wsum,
                   (array_agg(idx ORDER BY c ASC, idx ASC))[1]::BIGINT
                       AS argmax_idx
            FROM comp GROUP BY 1)
    SELECT d.doc_id, CAST(384 AS BIGINT) AS dim,
           coalesce(a.norm, 0.0) AS norm,
           coalesce(a.n_nonzero, 0) AS n_nonzero,
           coalesce(a.comp_sum, 0.0) AS comp_sum,
           coalesce(a.idx_wsum, 0.0) AS idx_wsum,
           coalesce(a.argmax_idx, -1) AS argmax_idx
    FROM d LEFT JOIN agg a USING (doc_id)
    """,
)
def embed_documents(spark, sf_dir):
    """Batch embedding UDF over Arrow batches (U1, ≙ model.encode at
    embeddings_utils.py:7-8). Kernel is the deterministic hashing
    featurizer when sentence-transformers is absent. The output is a
    per-vector content fingerprint computed FROM the UDF's float32
    array — dim, norm, nonzero count, component sum, index-weighted
    sum, argmax index — each either exact-integer or rounded far above
    the fp accumulation noise, so the DuckDB featurizer replica
    hash-checks the actual embedding values, not just their shape
    (VERDICT r10 task 2). Fixed doc_id < 200 slice on both sides
    (the old .limit(200) picked a nondeterministic subset)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.session import (
        PER_QUERY_CONF,
        conf_pinned_session,
    )
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.streaming.pipeline import (
        embed_text,
    )

    # conf-pinned child session (r16): the pandas_udf batch size the
    # r15 mrb sweep landed (5.2-15.8% at sf10) rides the query itself
    spark = conf_pinned_session(spark, PER_QUERY_CONF["embed_documents"])
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    emb = d.select("doc_id", embed_text(F.col("text")).alias("vec"))
    nz = F.size(F.filter(F.col("vec"), lambda x: x != 0)).cast("long")
    # components are -k/||k||: every occupied index is strictly
    # negative, so argmax |component| = array_min, and equal counts
    # produce bit-identical float32s (array_position's first match =
    # smallest index, mirroring the oracle's ORDER BY c, idx)
    argmax = F.when(nz == F.lit(0), F.lit(-1).cast("long")).otherwise(
        (F.array_position(F.col("vec"), F.array_min(F.col("vec"))) - 1).cast("long")
    )
    return emb.select(
        "doc_id",
        F.size("vec").cast("long").alias("dim"),
        F.round(l2_norm(F.col("vec")), 4).alias("norm"),
        nz.alias("n_nonzero"),
        F.round(
            F.aggregate("vec", F.lit(0.0), lambda a, x: a + x.cast("double")), 6
        ).alias("comp_sum"),
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("vec"),
                    F.sequence(F.lit(1), F.lit(384)),
                    lambda x, i: x.cast("double") * i.cast("double"),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            4,
        ).alias("idx_wsum"),
        argmax.alias("argmax_idx"),
    )


@_q(
    "search_end_to_end",
    f"""
    WITH {_EMBED_FALLBACK_COMPONENTS_SQL},
    qtok AS (SELECT unnest(string_split('spark query join stream', ' ')) AS t),
    qh AS (SELECT ('0x' || substr(md5(t), 1, 15))::BIGINT % 384 AS idx
           FROM qtok),
    qk AS (SELECT idx, count(*)::BIGINT AS k FROM qh GROUP BY 1),
    qv AS (SELECT idx, -(k::DOUBLE) / (SELECT sqrt(sum(k * k)) FROM qk) AS q
           FROM qk),
    na AS (SELECT doc_id, sqrt(sum(c::DOUBLE * c::DOUBLE)) AS na
           FROM comp GROUP BY 1),
    dp AS (SELECT c.doc_id, sum(c.c::DOUBLE * qv.q) AS dp
           FROM comp c JOIN qv USING (idx) GROUP BY 1),
    nb AS (SELECT sqrt(sum(q * q)) AS nb FROM qv)
    SELECT d.doc_id,
           round(CASE WHEN coalesce(na.na, 0.0) > 0 AND (SELECT nb FROM nb) > 0
                      THEN coalesce(dp.dp, 0.0)
                           / (na.na * (SELECT nb FROM nb))
                      ELSE 0.0 END, 6) AS score
    FROM d LEFT JOIN na USING (doc_id) LEFT JOIN dp USING (doc_id)
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)
def search_end_to_end(spark, sf_dir):
    """The reference's implied read path completed (entry point 3,
    SURVEY §3): embed documents -> embed a query string -> cosine
    top-k over the embedded corpus. Hash-checked end to end (VERDICT
    r10 task 2): the oracle rebuilds both the float32 document
    vectors and the float64 query vector from the featurizer's SQL
    replica and scores the same cosine; round(score, 6) sits ~10
    orders of magnitude above cross-engine summation-order noise.
    The query vector intentionally skips the float32 truncation —
    mirroring the engine, where _hash_featurize's float64 output is
    passed straight to lit_double_array."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.vector import (
        lit_double_array,
    )
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.streaming.pipeline import (
        _hash_featurize,
        embed_text,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    corpus = d.select("doc_id", embed_text(F.col("text")).alias("vec"))
    qvec = [float(x) for x in _hash_featurize(["spark query join stream"])[0]]
    q = lit_double_array(qvec)
    return (
        corpus.select("doc_id", F.round(cosine_sim(F.col("vec"), q), 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H hard-query shapes (SURVEY §2.3 J3-J5, §2.4 A4, correlated subqueries).
# Adapted to the fixture schema (no partsupp / l_commitdate / l_receiptdate /
# p_container / c_phone): "late shipment" ≙ l_shipdate > o_orderdate + N days.
# ---------------------------------------------------------------------------


@_q(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS -> left-semi join with a
    compound (equi + theta) condition; the equi key still drives the
    shuffle so it stays a hash/sort-merge semi, not a BNL (J5).

    r15: second ``layout='auto'`` consumer (VERDICT r14 task 7,
    joining q12): the semi-join's equi key IS the bucket key on BOTH
    sides, so with the co-bucketed layout present the semi runs
    zero-Exchange (theta residual evaluated per bucket) and only the
    5-row o_orderpriority agg shuffles; without it, plain scans.
    Result is layout-independent (driver hash-checks either way);
    q3/q5/q18 plain entries stay the tracked contract numbers."""
    o = load_fact(spark, sf_dir, "orders", layout="auto").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_fact(spark, sf_dir, "lineitem", layout="auto").select(
        "l_orderkey", "l_shipdate"
    )
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@_q(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS BIGINT) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier, lineitem, orders, customer, nation n1, nation n2
          WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
            AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
            AND c_nationkey = n2.n_nationkey
            AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                               AND TIMESTAMP '1997-12-31') shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: two independent dim chains (supplier⋈nation,
    customer⋈nation) joined onto the fact, disjunctive nation-pair
    predicate applied after both nations are bound (J3 + P9). No
    forced broadcast hints (r3): both chains are supplier/customer
    -derived and scale with SF; AQE picks broadcast at runtime when
    the pruned chain is actually small."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # supplier side rides the shared chain helper (r7 — pure
    # supplier⋈nation, no region touch); customer⋈nation stays
    # Spark-side — customer is a fact table (SF*150k), never
    # driver-composable
    s = _supplier_chain(spark, sf_dir).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@_q(
    "q8_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_9' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 n2.n_name AS nation
          FROM part, supplier, lineitem, orders, customer,
               nation n1, nation n2, region
          WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
            AND l_orderkey = o_orderkey AND o_custkey = c_custkey
            AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
            AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
            AND p_type = 'ECONOMY') all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: 8-relation join; each dimension chain collapses
    before touching lineitem so the fact is scanned once (J3). The only
    forced broadcast is the constant-cardinality nation⋈region(ASIA)
    key list (≤25 rows at any SF); supplier/part/customer all scale
    with SF, so their join strategy is left to AQE (r3: the supplier
    -chain hint was dropped — SF*10k rows is unbounded at 100 TB)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # supplier⋈nation via the shared chain helper (r7)
    s = _supplier_chain(spark, sf_dir).select(
        "s_suppkey", F.col("n_name").alias("nation")
    )
    c_asia = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c_asia, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_9", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


@_q(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: outer join with a join-side predicate (kept in
    the ON clause — filtering before the join would change outer
    semantics), then an aggregation over an aggregation (J4 + A4)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    return (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@_q(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-07-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: reused CTE + ungrouped-max scalar subquery. The
    revenue aggregate is computed once and self-compared via a broadcast
    of its 1-row max (no window over the whole relation needed). Only
    the 1-row max carries a hint; supplier is SF*10k rows so its join
    is left to AQE (r3, no forced hint)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@_q(
    "q17_small_quantity_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l1 JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (SELECT 0.2::DOUBLE * avg(l_quantity)
                        FROM lineitem l2
                        WHERE l2.l_partkey = l1.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery (per-part avg)
    decorrelated into a pre-aggregated join — the per-key aggregate is
    one row per part, so it is |part|-scaled (SF-linear), not O(1):
    no forced broadcast hints (r3); AQE broadcasts either side at
    runtime when it is actually under the threshold."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    per_part_avg = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part_avg, F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@_q(
    "q21_suppliers_kept_waiting",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def q21_suppliers_kept_waiting(spark, sf_dir):
    """TPC-H Q21 shape: EXISTS + NOT EXISTS over the same relation ->
    left-semi then left-anti join, both keyed on l_orderkey so they
    share the fact table's shuffle partitioning (J5)."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    l1 = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).filter(late)
    others = li.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    # EXISTS another supplier on the same order
    l1 = l1.join(
        others,
        (F.col("l_orderkey") == F.col("x_orderkey"))
        & (F.col("l_suppkey") != F.col("x_suppkey")),
        "left_semi",
    )
    # NOT EXISTS another *late* supplier on the same order: the late set
    # itself, re-keyed, is the anti-join side.
    late_others = l1.select(
        F.col("l_orderkey").alias("y_orderkey"), F.col("l_suppkey").alias("y_suppkey")
    )
    l1 = l1.join(
        late_others,
        (F.col("l_orderkey") == F.col("y_orderkey"))
        & (F.col("l_suppkey") != F.col("y_suppkey")),
        "left_anti",
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        l1.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@_q(
    "q22_global_sales_opportunity",
    """
    SELECT c_nationkey AS cntrycode, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_nationkey IN (1, 2, 3, 4, 5, 6, 7)
      AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0::DOUBLE
                         AND c_nationkey IN (1, 2, 3, 4, 5, 6, 7))
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY c_nationkey
    """,
)
def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape (c_phone country code ≙ c_nationkey here):
    ungrouped-avg scalar subquery as a broadcast cross join + anti join
    against recent orders (J2/J5 + A4)."""
    keys = [1, 2, 3, 4, 5, 6, 7]
    c = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey").isin(keys))
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@_q(
    "q2_min_cost_supplier",
    """
    WITH ps AS (SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supplycost
                FROM lineitem GROUP BY l_partkey, l_suppkey),
         eligible AS (SELECT ps.l_partkey, ps.supplycost, s_name, s_acctbal, n_name
                      FROM ps, supplier, nation, region
                      WHERE s_suppkey = ps.l_suppkey AND s_nationkey = n_nationkey
                        AND n_regionkey = r_regionkey AND r_name = 'ASIA')
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supplycost
    FROM part, eligible
    WHERE p_partkey = eligible.l_partkey AND p_size = 10
      AND supplycost = (SELECT min(e2.supplycost) FROM eligible e2
                        WHERE e2.l_partkey = p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape, adapted: the fixtures ship no partsupp table, so
    lineitem acts as the part<->supplier bridge (supply cost := min
    l_extendedprice per (part, supplier) — the same surrogate q17/q21
    use). The correlated min-cost subquery decorrelates into a per-part
    min aggregate joined back on (partkey, cost) — the aggregate scales
    with |part|, never |lineitem|. Only nation/region (constant
    cardinality) carry broadcast hints; the composed supplier chain
    scales SF*10k so its join onto the (part,supplier) aggregate is
    left to AQE (r3, per ADVICE). LIMIT rides TakeOrderedAndProject
    (no global sort)."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("supplycost")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    dim = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eligible = ps.join(dim, ps.l_suppkey == dim.s_suppkey).select(
        "l_partkey", "supplycost", "s_name", "s_acctbal", "n_name"
    )
    best = eligible.groupBy(F.col("l_partkey").alias("_bp")).agg(
        F.min("supplycost").alias("_best")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 10).select("p_partkey", "p_name")
    return (
        eligible.join(
            best,
            (F.col("l_partkey") == F.col("_bp")) & (F.col("supplycost") == F.col("_best")),
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "supplycost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@_q(
    "q9_product_type_profit",
    """
    SELECT nation, o_year,
           CAST((sum(amount_e6) + 5000) // 10000 AS BIGINT) / 100.0 AS sum_profit
    FROM (SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1 - l_discount - l_tax) * 10000) AS BIGINT) AS amount_e6
          FROM lineitem, part, supplier, orders, nation
          WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
            AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
            AND p_name LIKE '%gear%') profit
    GROUP BY nation, o_year
    """,
)
def q9_product_type_profit(spark, sf_dir):
    """TPC-H Q9 shape, adapted: profit per nation per year over a
    part-name filtered slice; the partsupp cost term becomes the tax
    term (cost := l_extendedprice * l_tax), keeping the
    5-relation join + two-level aggregate intact. Only nation (25
    rows) is hinted; supplier/part/orders scale with SF so their join
    strategy is left to AQE (r3: the supplier⋈nation frame hint was
    dropped — supplier is SF*10k rows). Profit is accumulated in
    integer micro-dollars and rounded half-up by integer division —
    its sums land on exact .xx5 boundaries where double rounding
    diverges between engines (see window_moving_avg_nth). Integer
    division semantics are engine-consistent: Spark `div` and DuckDB
    `//` BOTH truncate toward zero (verified: -7//2 = -3 in DuckDB
    4.x, -7 div 2 = -3 in Spark), so the result matches even if a
    (nation, year) group's summed amount went negative."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey")
    )
    # r7: the supplier⋈nation frame comes from the shared chain helper
    # (LocalRelation below the footer gate — zero broadcast-build scan
    # jobs; conf-sized join above); with no region filter the chain is
    # exactly supplier⋈nation, region untouched.
    s = _supplier_chain(spark, sf_dir).select("s_suppkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount_e6 = F.round(F.col("l_extendedprice") * 100).cast("bigint") * F.round(
        (1 - F.col("l_discount") - F.col("l_tax")) * 10000
    ).cast("bigint")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(amount_e6).alias("_e6"))
        .select(
            "nation",
            "o_year",
            (F.expr("(_e6 + 5000) div 10000") / F.lit(100.0)).alias("sum_profit"),
        )
    )


@_q(
    "q11_important_stock",
    """
    WITH pv AS (SELECT l_partkey,
                       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                                * CAST(l_quantity AS BIGINT)) AS BIGINT) AS value_cents
                FROM lineitem, supplier, nation
                WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
                  AND n_name = 'NATION_3'
                GROUP BY l_partkey)
    SELECT l_partkey, value_cents
    FROM pv
    WHERE value_cents * 1000 > (SELECT CAST(sum(value_cents) AS BIGINT) FROM pv)
    """,
)
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape, adapted: per-part inventory value held by one
    nation's suppliers, kept when above a fraction of the global total
    (HAVING vs an ungrouped scalar subquery). Value is summed in
    integer cents so the threshold comparison is exact and
    partition-order-independent in both engines (double sums differ in
    the last ulp between engines; `value * 1000 > total` stays in
    integer domain — headroom to ~9e15 total cents). The scalar total
    re-aggregates the per-part aggregate (1 row) and broadcasts; the
    one-nation supplier key list is SF*10k/25 rows — SF-linear — so
    its join is left to AQE (r3, no forced hint)."""
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint") * F.col(
        "l_quantity"
    ).cast("bigint")
    pv = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(cents).alias("value_cents"))
    )
    total = pv.agg(F.sum("value_cents").alias("_total"))
    return (
        pv.join(F.broadcast(total))
        .filter(F.col("value_cents") * 1000 > F.col("_total"))
        .select("l_partkey", "value_cents")
    )


@_q(
    "q16_parts_supplier_count",
    """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#3'
      AND p_size IN (1, 5, 10, 15, 20, 25)
      AND NOT EXISTS (SELECT 1 FROM supplier
                      WHERE s_suppkey = l_suppkey
                        AND s_acctbal < 0.0::DOUBLE)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_parts_supplier_count(spark, sf_dir):
    """TPC-H Q16 shape, adapted: distinct-supplier counts per part
    class, excluding a denylist (negative-balance suppliers stand in
    for the complaints LIKE). The oracle uses NOT EXISTS, whose NULL
    semantics exactly match the DataFrame left_anti join (r3, per
    ADVICE — NOT IN would drop all rows if the denylist produced a
    NULL key). The denylist is supplier-derived (SF-linear), so its
    anti join carries no forced broadcast hint; the distinct-count
    shuffles (class, suppkey) pairs once — no row ever carries more
    than the grouping key."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#3")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        li.join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@_q(
    "q20_part_promo_suppliers",
    """
    WITH lif AS (SELECT l_suppkey, l_partkey, l_quantity
                 FROM lineitem
                 WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                   AND l_shipdate <  TIMESTAMP '1997-01-01'),
         sp AS (SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
                FROM lif GROUP BY l_suppkey, l_partkey),
         pq AS (SELECT l_partkey AS t_partkey,
                       0.3::DOUBLE * sum(l_quantity) AS qty_threshold
                FROM lif GROUP BY l_partkey)
    SELECT s_name, n_name
    FROM supplier, nation
    WHERE s_nationkey = n_nationkey
      AND s_suppkey IN (SELECT sp.l_suppkey FROM sp, pq, part
                        WHERE sp.l_partkey = t_partkey
                          AND sp.l_partkey = p_partkey
                          AND p_name LIKE 'small%'
                          AND qty > qty_threshold)
    """,
)
def q20_part_promo_suppliers(spark, sf_dir):
    """TPC-H Q20 shape, adapted: suppliers who shipped an outsized
    share (> 30%) of any promo-class part's 1996 volume — the
    availqty-vs-half-sum correlated subquery becomes share-of-part
    volume over the lineitem bridge. Both aggregates reuse one
    filtered scan; the IN-list collapses to a semi join. Quantities
    are integral doubles, so the per-part sums are exact and the
    single 0.3*sum product is bit-identical across engines."""
    lif = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_suppkey", "l_partkey", "l_quantity")
    )
    sp = lif.groupBy("l_suppkey", "l_partkey").agg(F.sum("l_quantity").alias("qty"))
    pq = lif.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.3) * F.sum("l_quantity")).alias("qty_threshold")
    )
    pp = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    qual = (
        sp.join(pq, F.col("l_partkey") == F.col("t_partkey"))
        .join(pp, F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("qty") > F.col("qty_threshold"))
        .select("l_suppkey")
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(qual, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "n_name")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline ops: deterministic splits / sampling / profiling /
# TF-IDF (north star; operators.sampling). Hash-deterministic by key+seed —
# reproducible under repartition/retries, auditable outside Spark via the
# portable md5 hash family.
# ---------------------------------------------------------------------------


@_q(
    "ml_hash_split",
    """
    SELECT doc_id,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 ('0x' || substr(md5(doc_id::VARCHAR || '#seed42'), 1, 15))::BIGINT
                   % 10000 AS b
          FROM documents) t
    """,
)
def ml_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by hashed key (narrow op,
    no shuffle, no RNG) — unlike randomSplit, stable under repartition."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.sampling import (
        hash_split,
    )

    d = _t(spark, sf_dir, "documents")
    return hash_split(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42
    ).select("doc_id", "split")


@_q(
    "ml_mixture_sample",
    """
    WITH tgt(lang, t) AS (VALUES ('en', 0.4), ('fr', 0.2), ('es', 0.2),
                                 ('zh', 0.1), ('de', 0.1)),
    n AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang),
    j AS (SELECT n.lang, n.n, CAST(tgt.t AS DOUBLE) AS t FROM n JOIN tgt USING (lang)),
    cap AS (SELECT min(n / t) AS c FROM j),
    r AS (SELECT lang, (t * (SELECT c FROM cap)) / n AS rate FROM j)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r USING (lang)
    WHERE CAST(('0x' || substr(md5(d.doc_id::VARCHAR || '#seed42'), 1, 15))::BIGINT
               % 10000 AS DOUBLE) < rate * 10000
    """,
)
def ml_mixture_sample(spark, sf_dir):
    """Corpus MIXTURE sampling (NEW r14 — the data-mixing step of a
    pretraining recipe): down-sample each language so the output hits
    target proportions en 40 / fr 20 / es 20 / zh 10 / de 10 at the
    largest size the corpus allows without replication — output
    N = min_lang(n/t), keep-rate t*N/n per language (exactly 1.0 at
    the binding language). Rates are DERIVED from the corpus's own
    counts in-plan (count agg -> 1-row min -> broadcast rate join ->
    narrow hash filter; no collect, no RNG). Integer weights normalize
    to exact float literals so both engines compute bit-identical
    rates; membership is the md5 hash-bucket draw shared with
    ml_hash_split."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.sampling import (
        mixture_sample,
    )

    d = _t(spark, sf_dir, "documents")
    out = mixture_sample(
        d, "lang", "doc_id", {"en": 4, "fr": 2, "es": 2, "zh": 1, "de": 1}, seed=42
    )
    return out.select("doc_id", "lang")


@_q(
    "ml_alpha_sampling",
    """
    WITH per AS (
      SELECT source,
             CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT sum(n_tokens) AS total FROM per),
    pw AS (SELECT source, n_tokens,
                  CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS p,
                  exp(0.3 * ln(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE))) AS pa,
                  total
           FROM per CROSS JOIN tot),
    z AS (SELECT sum(pa) AS z FROM pw)
    SELECT source, n_tokens,
           round(p, 6) AS p_natural,
           round(pa / z, 6) AS q_alpha,
           round(pa / z / p, 6) AS sample_factor,
           round(pa / z * CAST(total AS DOUBLE), 2) AS expected_tokens
    FROM pw CROSS JOIN z
    """,
)
def ml_alpha_sampling(spark, sf_dir):
    """Temperature-scaled source sampling (NEW r15 — the
    alpha-sampling recipe of mBERT/XLM-R, Conneau et al. 2020 §3.1,
    alpha=0.3): per-source token mass -> natural share p ->
    flattened target share q = p^0.3 / Z -> implied up/down-sampling
    factor and expected token budget per source. Complements
    ml_mixture_sample (owner-stated targets) — here one temperature
    knob derives the targets from the corpus itself. ONE
    map-side-combined sum per source, then arithmetic on a
    #sources-row frame with two 1-row broadcast aggregates — no
    second corpus pass, no collect. p^alpha is spelled
    exp(alpha*ln p) in BOTH engines so libm lines up; rounded at 6dp
    (ratios) / 2dp (token budget)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.sampling import (
        alpha_sampling,
    )

    d = _t(spark, sf_dir, "documents").select("source", "text")
    per_row = d.select("source", text_ops.token_count(F.col("text")).alias("_tok"))
    out = alpha_sampling(per_row, "source", "_tok", alpha=0.3)
    return out.select(
        "source",
        "n_tokens",
        F.round("p_natural", 6).alias("p_natural"),
        F.round("q_alpha", 6).alias("q_alpha"),
        F.round("sample_factor", 6).alias("sample_factor"),
        F.round("expected_tokens", 2).alias("expected_tokens"),
    )


@_q(
    "ml_weighted_sample",
    """
    WITH pri AS (
      SELECT doc_id, lang,
             ln((('0x' || substr(md5(doc_id::VARCHAR || '#seed7'), 1, 15))::BIGINT
                 % 2147483647 + 1) / 2147483648.0) / n_chars AS prio
      FROM documents),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY prio DESC, doc_id) AS rn
      FROM pri)
    SELECT lang, doc_id FROM ranked WHERE rn <= 10
    """,
)
def ml_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-Res): 10 docs per language with inclusion
    odds ∝ n_chars, priorities ln(u)/w from hash-uniforms — the
    length-weighted quota draw a data mix uses, reproducible under
    repartition/retries and replayed exactly by the oracle."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.sampling import (
        weighted_sample,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = weighted_sample(d, "doc_id", "n_chars", k=10, strata=["lang"], seed=7)
    return out.select("lang", "doc_id")


@_q(
    "ml_stratified_sample",
    """
    SELECT doc_id, lang
    FROM (SELECT doc_id, lang,
                 ('0x' || substr(md5(doc_id::VARCHAR || '#seed7'), 1, 15))::BIGINT
                   % 10000 AS b
          FROM documents) t
    WHERE b < CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 4000 ELSE 2500 END
    """,
)
def ml_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic downsampling (language rebalancing of a
    corpus): survival depends only on (key, seed, stratum rate)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.sampling import (
        stratified_sample,
    )

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(
        d, "lang", "doc_id", {"en": 0.5, "zh": 0.4}, default_rate=0.25, seed=7
    ).select("doc_id", "lang")


@_q(
    "ml_kfold_assign",
    """
    SELECT doc_id,
           ('0x' || substr(md5(doc_id::VARCHAR || '#seed11'), 1, 15))::BIGINT
             % 10000 % 5 AS fold
    FROM documents
    """,
)
def ml_kfold_assign(spark, sf_dir):
    """Cross-validation fold assignment by hashed key, folds in [0, 5)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.sampling import (
        kfold_assign,
    )

    d = _t(spark, sf_dir, "documents")
    return kfold_assign(d, "doc_id", k=5, seed=11).select("doc_id", "fold")


@_q(
    "profile_documents",
    """
    SELECT 'doc_id' AS col_name, count(*) AS n_rows, count(doc_id) AS n_nonnull,
           count(DISTINCT doc_id) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_val,
           CAST(max(doc_id) AS VARCHAR) AS max_val
    FROM documents
    UNION ALL
    SELECT 'lang', count(*), count(lang), count(DISTINCT lang),
           CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR) FROM documents
    UNION ALL
    SELECT 'source', count(*), count(source), count(DISTINCT source),
           CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR) FROM documents
    UNION ALL
    SELECT 'n_chars', count(*), count(n_chars), count(DISTINCT n_chars),
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents
    """,
)
def profile_documents(spark, sf_dir):
    """Single-pass column profiler (data-quality gate for ingest): one
    scan + one aggregate however many columns are profiled; the oracle
    spells it as per-column UNION ALL passes."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.sampling import (
        profile_columns,
    )

    d = _t(spark, sf_dir, "documents")
    return profile_columns(d, ["doc_id", "lang", "source", "n_chars"])


@_q(
    "text_tfidf_topk",
    """
    WITH toks AS (SELECT doc_id,
                         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                  FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT tok, count(*) AS dfreq FROM tf GROUP BY tok),
         n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, tok,
           round(tf * (ln((n_docs + 1.0::DOUBLE) / (dfreq + 1.0::DOUBLE))
                       + 1.0::DOUBLE), 6) AS tfidf
    FROM tf JOIN dfreq USING (tok) CROSS JOIN n
    ORDER BY tfidf DESC, doc_id, tok
    LIMIT 100
    """,
)
def text_tfidf_topk(spark, sf_dir):
    """Corpus TF-IDF, smoothed (sklearn-style ln((N+1)/(df+1))+1).
    Document frequency is derived from the tf relation (already unique
    per doc×term) so the token explosion is shuffled once; N is a 1-row
    broadcast. Top-k via TakeOrderedAndProject, no global sort."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("dfreq"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("dfreq") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
        .orderBy(F.col("tfidf").desc(), "doc_id", "tok")
        .limit(100)
    )


@_q(
    "text_bm25_rank",
    """
    WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                  FROM documents WHERE text IS NOT NULL),
    d2 AS (SELECT doc_id, len(t) AS dl, t FROM docs),
    consts AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d2),
    hits AS (SELECT doc_id, dl, unnest(t) AS tok FROM d2),
    tf AS (SELECT doc_id, tok, count(*) AS tf, first(dl) AS dl
           FROM hits WHERE tok IN ('hash', 'join', 'filter')
           GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, count(*) AS dfc FROM tf GROUP BY tok)
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
           round(sum(ln(1 + (c.n - d.dfc + 0.5) / (d.dfc + 0.5))
                     * (t.tf * 2.2)
                     / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / c.avgdl))),
                 4) AS score
    FROM tf t JOIN dfreq d USING (tok) CROSS JOIN consts c
    GROUP BY t.doc_id
    """,
)
def text_bm25_rank(spark, sf_dir):
    """Okapi BM25 lexical ranking (operators.text.bm25_scores) against
    the 3-term query {hash, join, filter} — the retrieval-stack
    counterpart of vec_knn_bruteforce; hybrid search is the score-join
    of the two. Lucene's non-negative idf; k1=1.2, b=0.75. Tokens are
    filtered to query terms BEFORE aggregation, corpus constants and
    per-term document frequencies ride 1-row / |terms|-row broadcast
    joins — one shuffle on (doc, term). round(4) absorbs the
    engines' last-ulp ln() differences."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = text_ops.bm25_scores(d, "doc_id", "text", ["hash", "join", "filter"])
    return out.select(
        "doc_id", "n_terms_matched", F.round("score", 4).alias("score")
    )


@_q(
    "search_rrf_fusion",
    """
    WITH docs AS (SELECT doc_id, n_chars, regexp_split_to_array(trim(text), '\\s+') AS t
                  FROM documents WHERE text IS NOT NULL),
    d2 AS (SELECT doc_id, n_chars, len(t) AS dl, t FROM docs),
    consts AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d2),
    hits AS (SELECT doc_id, dl, unnest(t) AS tok FROM d2),
    tf AS (SELECT doc_id, tok, count(*) AS tf, first(dl) AS dl
           FROM hits WHERE tok IN ('hash', 'join', 'filter')
           GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, count(*) AS dfc FROM tf GROUP BY tok),
    bm AS (SELECT t.doc_id,
                  round(sum(ln(1 + (c.n - d.dfc + 0.5) / (d.dfc + 0.5))
                            * (t.tf * 2.2)
                            / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / c.avgdl))),
                        6) AS score
           FROM tf t JOIN dfreq d USING (tok) CROSS JOIN consts c
           GROUP BY t.doc_id),
    a AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rn
          FROM bm QUALIFY rn <= 30),
    b AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
          FROM d2 QUALIFY rn <= 30)
    SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
           round(coalesce(1.0 / (60 + a.rn), 0) + coalesce(1.0 / (60 + b.rn), 0),
                 6) AS rrf_score
    FROM a FULL JOIN b ON a.doc_id = b.doc_id
    """,
)
def search_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (vectors.rrf_fuse, Cormack SIGIR'09) of
    two heterogeneous retrieval lists over the corpus — the BM25
    lexical top-30 and a length-prior top-30 — into one
    calibration-free ranking: the hybrid-search combiner (in the
    facade it fuses BM25 with the vector ranking,
    VectorStore.query(mode='hybrid')). BM25 scores are rounded to 6
    BEFORE ranking so mathematically-tied docs rank by the id
    tiebreak identically in both engines (a raw double rank would let
    last-ulp summation drift swap adjacent equals)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    bm = (
        text_ops.bm25_scores(d, "doc_id", "text", ["hash", "join", "filter"])
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(30)
    )
    # same population as the oracle's CTEs (text IS NOT NULL): a
    # NULL-text doc with non-NULL n_chars must not rank here either
    ln = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.col("n_chars").cast("double").alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(30)
    )
    fused = vec_ops.rrf_fuse([bm, ln], "doc_id", k=60)
    return fused.select("doc_id", F.round("rrf_score", 6).alias("rrf_score"))


@_q(
    "search_hybrid_rrf",
    """
    WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                  FROM documents WHERE text IS NOT NULL),
    d2 AS (SELECT doc_id, len(t) AS dl, t FROM docs),
    consts AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d2),
    hits AS (SELECT doc_id, dl, unnest(t) AS tok FROM d2),
    tf AS (SELECT doc_id, tok, count(*) AS tf, first(dl) AS dl
           FROM hits WHERE tok IN ('hash', 'join', 'filter')
           GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, count(*) AS dfc FROM tf GROUP BY tok),
    bm AS (SELECT t.doc_id,
                  round(sum(ln(1 + (c.n - d.dfc + 0.5) / (d.dfc + 0.5))
                            * (t.tf * 2.2)
                            / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / c.avgdl))),
                        6) AS score
           FROM tf t JOIN dfreq d USING (tok) CROSS JOIN consts c
           GROUP BY t.doc_id),
    a AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rn
          FROM bm QUALIFY rn <= 30),
    vecs AS (SELECT vec_id AS doc_id,
                    round(list_cosine_similarity(embedding::DOUBLE[],
                          (SELECT embedding::DOUBLE[] FROM embeddings
                           WHERE vec_id = 1)), 4) AS score
             FROM embeddings),
    b AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rn
          FROM vecs QUALIFY rn <= 30)
    SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
           round(coalesce(1.0 / (60 + a.rn), 0) + coalesce(1.0 / (60 + b.rn), 0),
                 6) AS rrf_score
    FROM a FULL JOIN b ON a.doc_id = b.doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
    """,
)
def search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval end-to-end (VERDICT r7 task 7): the exact
    dataflow of ``VectorStore.query(mode='hybrid')`` — a vector
    cosine top-30 over the embeddings corpus fused with the BM25
    lexical top-30 over the documents corpus by reciprocal-rank
    fusion, final top-10 by fused score (the implied read path of the
    reference's embed_query, utils/embeddings_utils.py:10-14, plus
    the lexical leg hosted stores bolt on). doc_id and vec_id share
    the fixture's id space, standing in for the store's single id
    column. Scores are rounded to 6 BEFORE ranking on both engines so
    tied candidates take the id tiebreak identically; each retriever
    bounds its own candidate list (TakeOrderedAndProject / QUALIFY),
    so the fusion windows sort 30 rows, never a corpus."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.vector import (
        lit_double_array,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bm = (
        text_ops.bm25_scores(d, "doc_id", "text", ["hash", "join", "filter"])
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(30)
    )
    e = _t(spark, sf_dir, "embeddings")
    q = lit_double_array(_query_vector(sf_dir))
    vec = (
        e.select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine_sim(F.col("embedding"), q), 4).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(30)
    )
    fused = vec_ops.rrf_fuse([bm, vec], "doc_id", k=60)
    return (
        fused.select("doc_id", F.round("rrf_score", 6).alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(10)
    )


@_q(
    "cdc_scd2_history",
    """
    SELECT user_id, event_id,
           epoch_us(ts) AS valid_from_us,
           epoch_us(lead(ts) OVER w) AS valid_to_us,
           CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def cdc_scd2_history(spark, sf_dir):
    """SCD type-2 over the CDC stream (operators.cdc.scd2_history):
    interval-versioned history per key — the complement of
    cdc_snapshot_latest, same single key-shuffle window."""
    e = _t(spark, sf_dir, "events")
    h = cdc.scd2_history(e, ["user_id"], "ts", tiebreak="event_id")
    return h.select(
        "user_id",
        "event_id",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "is_current",
    )


@_q(
    "text_chunk_token_budget",
    """
    SELECT doc_id, source,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           CAST(floor(coalesce(sum(len(regexp_split_to_array(trim(text), '\\s+')))
                                 OVER (PARTITION BY source ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND 1 PRECEDING),
                               0) / 512.0::DOUBLE) AS BIGINT) AS chunk_id
    FROM documents
    """,
)
def text_chunk_token_budget(spark, sf_dir):
    """Token-budget context packing (operators.text.token_budget_chunks):
    chunk boundary = prefix-sum of token counts crossing a 512-token
    budget — the reference's 100-row chunking generalized to tokens,
    still one window / one shuffle."""
    d = _t(spark, sf_dir, "documents")
    out = text_ops.token_budget_chunks(
        d, partition_col="source", order_col="doc_id", text_col="text", budget=512
    )
    return out.select("doc_id", "source", "n_tokens", "chunk_id")


@_q(
    "text_pack_sequences",
    r"""
    WITH t AS (SELECT doc_id,
                      len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, n_tokens,
                 coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS cum_excl
          FROM t)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_excl // 2048 AS BIGINT) AS seq_id,
           CAST(cum_excl % 2048 AS BIGINT) AS seq_offset
    FROM c
    """,
)
def text_pack_sequences(spark, sf_dir):
    """Corpus-wide training-sequence packing (operators.text
    .pack_sequences): each doc assigned to the 2048-token sequence
    its first token lands in, in total doc_id order. The ORACLE's
    formulation is the global single-partition window — exactly the
    plan shape the operator exists to avoid: range repartition +
    parallel per-partition running sums + broadcast per-partition
    token offsets (assign_dense_ids' mechanism with SUM for COUNT),
    so the engine's plan stays data-parallel at any scale while the
    oracle pins the semantics."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = text_ops.pack_sequences(d, order_col="doc_id", text_col="text", budget=2048)
    return out.select("doc_id", "n_tokens", "seq_id", "seq_offset")


@_q(
    "vec_centroid_per_label",
    """
    SELECT label, CAST(i AS INT) AS dim,
           round(avg(embedding[i + 1]), 6) AS centroid
    FROM embeddings, range(64) r(i)
    GROUP BY label, i
    """,
)
def vec_centroid_per_label(spark, sf_dir):
    """Per-class embedding centroid (the training half of
    nearest-centroid classification / IVF quantizer seeding):
    posexplode -> (label, dim) hash agg. Explode-then-agg shuffles
    (labels × dims) partial states, never whole vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("v"), 6).alias("centroid"))
    )


@_q(
    "join_range_binned",
    """
    SELECT s_suppkey, CAST(count(c_custkey) AS BIGINT) AS n_close
    FROM supplier JOIN customer
      ON c_acctbal BETWEEN s_acctbal - 100 AND s_acctbal + 100
    GROUP BY s_suppkey
    """,
)
def join_range_binned(spark, sf_dir):
    """Band join via the equi-join scale path
    (operators.relational.binned_range_join): both sides bucketed to
    200-unit bins, hash join on the bin id + residual BETWEEN — same
    answer as the BNL plan in join_theta_acctbal_band, but shuffles
    linearly, so it survives two large sides."""
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_acctbal") - 100).alias("lo"),
        (F.col("s_acctbal") + 100).alias("hi"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    joined = relational.binned_range_join(
        c, s, point_col="c_acctbal", lo_col="lo", hi_col="hi", bin_width=200.0
    )
    return joined.groupBy("s_suppkey").agg(F.count("c_custkey").alias("n_close"))


@_q(
    "join_interval_overlap",
    """
    WITH a AS (SELECT l_orderkey, l_linenumber, l_shipdate::DATE AS l_ship,
                      l_shipdate::DATE + 4 * l_linenumber AS l_enddate
               FROM lineitem WHERE l_orderkey % 97 = 0),
         b AS (SELECT o_orderkey, o_orderdate::DATE AS o_start,
                      o_orderdate::DATE + 14 AS o_end
               FROM orders WHERE o_orderkey % 89 = 0)
    SELECT a.l_orderkey, a.l_linenumber, b.o_orderkey,
           CAST(date_diff('day', greatest(l_ship, o_start),
                          least(l_enddate, o_end)) AS BIGINT) AS overlap_days
    FROM a JOIN b ON l_ship <= o_end AND o_start <= l_enddate
    """,
)
def join_interval_overlap(spark, sf_dir):
    """Interval x interval overlap join via the binned equi-join scale
    path (relational.binned_overlap_join): lineitem transit windows
    [shipdate, shipdate + 4*linenumber days] against 14-day order
    windows, 30-day bins, each pair kept at its canonical first-common
    bin (no distinct pass), exact overlap as residual. The oracle is
    the direct theta join — same pairs, linear shuffle instead of
    BNL."""
    ship = F.col("l_shipdate").cast("date")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 97 == 0).select(
        "l_orderkey", "l_linenumber", ship.alias("_l_ship"),
        F.date_add(ship, (F.col("l_linenumber") * 4).cast("int")).alias("_l_end"),
        F.unix_date(ship).alias("_alo"),
        (F.unix_date(ship) + F.col("l_linenumber") * 4).alias("_ahi"),
    )
    ostart = F.col("o_orderdate").cast("date")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 89 == 0).select(
        "o_orderkey", ostart.alias("_o_start"),
        F.date_add(ostart, 14).alias("_o_end"),
        F.unix_date(ostart).alias("_blo"),
        (F.unix_date(ostart) + 14).alias("_bhi"),
    )
    joined = relational.binned_overlap_join(
        li, o, "_alo", "_ahi", "_blo", "_bhi", bin_width=30.0
    )
    return joined.select(
        "l_orderkey", "l_linenumber", "o_orderkey",
        F.datediff(
            F.least(F.col("_l_end"), F.col("_o_end")),
            F.greatest(F.col("_l_ship"), F.col("_o_start")),
        ).cast("long").alias("overlap_days"),
    )


@_q(
    "ids_dense_assign",
    """
    SELECT event_id,
           row_number() OVER (ORDER BY epoch_us(ts), event_id) - 1 AS dense_id
    FROM events
    """,
)
def ids_dense_assign(spark, sf_dir):
    """Contiguous 0..n-1 corpus ids in (ts, event_id) order via
    relational.assign_dense_ids: range repartition + PARALLEL
    per-partition windows + broadcast offsets — never the global
    single-partition sort the oracle's plain window form implies
    (which is exactly the plan shape that dies at 100 TB)."""
    e = _t(spark, sf_dir, "events").select("event_id", "ts")
    out = relational.assign_dense_ids(e, ["ts", "event_id"])
    return out.select("event_id", "dense_id")


@_q(
    "join_bloom_prefilter",
    """
    SELECT o_orderpriority, count(*) AS n_items,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 490000
    GROUP BY o_orderpriority
    """,
)
def join_bloom_prefilter(spark, sf_dir):
    """Runtime-filter join (relational.bloom_prefilter_join): a
    4096-bit Bloom filter over the selective dim's keys (one bit_or
    aggregation) broadcasts to the fact, dropping non-candidate rows
    BEFORE the join shuffle — at 100 TB that is the exchange-volume
    win Spark's own runtime bloomFilter rule targets, here explicit
    and portable. Result is exactly the plain join (no false
    negatives; false positives die in the exact join), which is what
    the oracle checks."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice"
    )
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 490000).select(
        "o_orderkey", "o_orderpriority"
    )
    joined = relational.bloom_prefilter_join(li, o, "o_orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


@_q(
    "join_salted_skew",
    """
    SELECT o_orderpriority, count(*) AS n_items,
           round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2)::DOUBLE
               AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_salted_skew(spark, sf_dir):
    """Skew-resistant equi-join (operators.relational.salted_join): the
    fact side's hot keys spread over 16 salt sub-keys, dimension side
    replicated across them — same result as the plain join (the oracle
    is the plain join), different shuffle distribution. Revenue sums
    as DECIMAL so the hash check is order-independent at every scale
    (VERDICT r10 task 3 — the double sum drifted at sf10).

    salt_cols = the unique (orderkey, linenumber) pair (r16): the
    default whole-row salt referenced all 16 lineitem columns and
    blocked column pruning — the scan read the full table for a
    2-column aggregate. The join result is salt-invariant, so the
    narrow unique salt gives the identical result with a 3-column
    ReadSchema."""
    li = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = relational.salted_join(
        li, o, on="o_orderkey", salt_buckets=16,
        salt_cols=["o_orderkey", "l_linenumber"],
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("revenue"),
    )


@_q(
    "join_salted_outer",
    """
    WITH o AS (SELECT o_orderkey, o_custkey AS c_custkey, o_totalprice
               FROM orders WHERE o_orderstatus = 'F'),
         c AS (SELECT c_custkey, c_name, c_nationkey
               FROM customer WHERE c_nationkey < 5)
    SELECT c_nationkey,
           count(*)                       AS n_rows,
           count(o_orderkey)              AS n_orders,
           count(c_name)                  AS n_custs,
           round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS total
    FROM o FULL OUTER JOIN c USING (c_custkey)
    GROUP BY c_nationkey
    """,
)
def join_salted_outer(spark, sf_dir):
    """FULL OUTER variant of the skew-resistant salted join
    (operators.relational.salted_join, how='full'): big-side misses
    null-extend once (each big row carries exactly one salt), and
    unmatched small rows are recovered by a key anti-join — never once
    per salt bucket. Oracle is the plain full outer join. Total sums
    as DECIMAL for an order-independent hash at every scale (VERDICT
    r10 task 3)."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", F.col("o_custkey").alias("c_custkey"), "o_totalprice")
    )
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") < 5)
        .select("c_custkey", "c_name", "c_nationkey")
    )
    joined = relational.salted_join(o, c, on="c_custkey", how="full", salt_buckets=8)
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderkey").alias("n_orders"),
        F.count("c_name").alias("n_custs"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total"),
    )


@_q(
    "join_range_binned_outer",
    """
    WITH s AS (SELECT s_suppkey, s_acctbal - 50 AS lo, s_acctbal + 50 AS hi
               FROM supplier WHERE s_nationkey < 3),
         j AS (SELECT c.c_custkey, c.c_acctbal, s.s_suppkey
               FROM customer c FULL OUTER JOIN s
                 ON c.c_acctbal BETWEEN s.lo AND s.hi)
    SELECT (s_suppkey IS NOT NULL) AS has_interval,
           (c_custkey IS NOT NULL) AS has_point,
           count(*)                         AS n_rows,
           count(DISTINCT c_custkey)        AS n_custs,
           count(DISTINCT s_suppkey)        AS n_supps,
           round(sum(c_acctbal), 2)         AS bal_sum
    FROM j
    GROUP BY has_interval, has_point
    """,
)
def join_range_binned_outer(spark, sf_dir):
    """FULL OUTER variant of the binned band join
    (operators.relational.binned_range_join, how='full'): unmatched
    points and unmatched intervals each surface exactly once via a
    whole-row null-safe anti-join against the inner result — an
    exploded interval never null-extends per overlapped bin. Oracle is
    the plain (BNL) full outer range join."""
    s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 3)
        .select(
            "s_suppkey",
            (F.col("s_acctbal") - 50).alias("lo"),
            (F.col("s_acctbal") + 50).alias("hi"),
        )
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    joined = relational.binned_range_join(
        c, s, point_col="c_acctbal", lo_col="lo", hi_col="hi", bin_width=100.0, how="full"
    )
    return joined.groupBy(
        F.col("s_suppkey").isNotNull().alias("has_interval"),
        F.col("c_custkey").isNotNull().alias("has_point"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("c_custkey").alias("n_custs"),
        F.countDistinct("s_suppkey").alias("n_supps"),
        F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
    )


def _zorder_oracle_sql() -> str:
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.plans.layout import (
        zorder_sql,
    )

    z = zorder_sql([("c_acctbal", -1000.0, 10000.0), ("c_nationkey", 0.0, 25.0)], 8)
    return f"""
    SELECT zbucket, count(*) AS n, CAST(sum(c_custkey) AS BIGINT) AS key_sum
    FROM (SELECT c_custkey, ({z} >> 8) AS zbucket FROM customer) t
    GROUP BY zbucket
    """


@_q("layout_zorder_key", _zorder_oracle_sql())
def layout_zorder_key(spark, sf_dir):
    """Z-order (Morton) layout key ([EXT] data-layout scale path,
    plans.layout): bits of range-normalized (c_acctbal, c_nationkey)
    interleaved into one BIGINT — the clustering key behind
    multi-column file pruning at 100 TB (lakehouse OPTIMIZE ZORDER on
    plain parquet). Pure integer expressions, identical SQL text on
    both engines; aggregated per key-prefix bucket so the oracle
    hashes the full key distribution."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.plans.layout import (
        zorder_sql,
    )

    c = _t(spark, sf_dir, "customer")
    z = zorder_sql([("c_acctbal", -1000.0, 10000.0), ("c_nationkey", 0.0, 25.0)], 8)
    return (
        c.select("c_custkey", F.expr(f"({z} >> 8)").alias("zbucket"))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c_custkey").cast("bigint").alias("key_sum"),
        )
    )


@_q(
    "agg_corr_covar",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6)       AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           round(stddev_samp(l_discount), 6)                 AS discount_sd
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark, sf_dir):
    """Bivariate statistical aggregates (A4 extension): corr /
    covar_samp / stddev_samp — single hash agg, moment sketches merge
    associatively so partial aggregation holds at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
        F.round(F.stddev_samp("l_discount"), 6).alias("discount_sd"),
    )


@_q(
    "window_moving_avg_nth",
    """
    WITH w AS (
      SELECT o_custkey, o_orderkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER f
                  AS BIGINT) AS s,
             CAST(count(*) OVER f AS BIGINT) AS c,
             nth_value(o_totalprice, 2) OVER g AS nv
      FROM orders
      WINDOW f AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
             g AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT o_custkey, o_orderkey,
           ((2 * s + c) // (2 * c)) / 100.0::DOUBLE AS move_avg4,
           round(nv, 2) AS second_price
    FROM w
    """,
)
def window_moving_avg_nth(spark, sf_dir):
    """Moving average over a bounded ROWS frame + nth_value (W4/W5
    completion): one window spec, one shuffle on the partition key.
    The moving average is computed entirely in integer cents with a
    half-up integer division — engines disagree on rounding doubles at
    exact .xx5 boundaries (Spark rounds the shortest decimal repr,
    DuckDB the binary double), so no double is ever rounded here."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    frame = w.rowsBetween(-3, 0)
    mid = o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(cents).over(frame).alias("s"),
        F.count(F.lit(1)).over(frame).alias("c"),
        F.nth_value("o_totalprice", 2)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("nv"),
    )
    return mid.select(
        "o_custkey",
        "o_orderkey",
        (F.expr("(2 * s + c) div (2 * c)") / F.lit(100.0)).alias("move_avg4"),
        F.round("nv", 2).alias("second_price"),
    )


@_q(
    "incremental_join_delta",
    """
    WITH a_old AS (SELECT * FROM orders   WHERE o_orderdate < DATE '1996-01-01'),
         b_old AS (SELECT * FROM customer WHERE c_custkey % 10 <> 0),
         jn AS (SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice, c.c_custkey
                FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         jo AS (SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice, c.c_custkey
                FROM a_old o JOIN b_old c ON o.o_custkey = c.c_custkey),
         d AS (SELECT * FROM jn EXCEPT ALL SELECT * FROM jo)
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM d GROUP BY o_orderstatus
    """,
)
def incremental_join_delta(spark, sf_dir):
    """Incremental equi-join maintenance (the CDC payoff extended from
    rollups to joins): the rows one tick ADDS to a stored orders⋈
    customer join, computed from the deltas via
    ΔJ = ΔA⋈(B∪ΔB) ∪ A_old⋈ΔB — O(delta) probe-side, the bases are
    never re-joined. The oracle is the SEMANTIC truth (J_new EXCEPT
    ALL J_old), so it checks the maintenance algebra, not a mirror of
    it. Splits are deterministic slices of the fixtures (date
    threshold for orders, key residue for customers) standing in for
    one watermark tick on each side."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cut = F.to_date(F.lit("1996-01-01"))
    a_old, delta_a = o.filter(F.col("o_orderdate") < cut), o.filter(F.col("o_orderdate") >= cut)
    is_new_c = F.col("c_custkey") % 10 == 0
    b_old, delta_b = c.filter(~is_new_c), c.filter(is_new_c)
    o2 = lambda df: df.select("o_orderkey", "o_orderstatus", "o_totalprice", "o_custkey")  # noqa: E731
    c2 = lambda df: df.select(F.col("c_custkey").alias("o_custkey"), "c_custkey")  # noqa: E731
    added = incremental.delta_join(
        o2(a_old), o2(delta_a),
        c2(b_old), c2(delta_b),
        on="o_custkey",
    )
    return added.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents"),
    )


_SQL_FRONTEND_WINDOW_GSETS = """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
             count(*) AS n, round(sum(value), 3) AS v
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT d, event_type, n, v,
             CAST(rank() OVER (PARTITION BY event_type ORDER BY v DESC, d) AS BIGINT) AS rk,
             round(sum(v) OVER (PARTITION BY event_type ORDER BY d
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3) AS running_v
      FROM daily
    )
    SELECT event_type, d, n, v, rk, running_v
    FROM ranked WHERE rk <= 3
"""


@_q("sql_frontend_window_gsets", _SQL_FRONTEND_WINDOW_GSETS)
def sql_frontend_window_gsets(spark, sf_dir):
    """CTE chain + two window shapes (rank over value ordering, a
    running ROWS-frame sum over time ordering) through the SQL
    front-end — one ANSI string executed verbatim by spark.sql AND
    DuckDB. The per-type top-3-days-by-value result exercises the
    analyzer's window resolution and frame defaults from raw SQL
    text, not the DataFrame API."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        register_views,
    )

    register_views(spark, sf_dir, tables=("events",))
    return spark.sql(_SQL_FRONTEND_WINDOW_GSETS)


_SQL_FRONTEND_LATERAL = """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c.c_nationkey = 3
"""


@_q("sql_frontend_lateral", _SQL_FRONTEND_LATERAL)
def sql_frontend_lateral(spark, sf_dir):
    """Correlated LATERAL subquery through the SQL front-end — the
    top-k-per-row pattern as verbatim ANSI text parsed and planned by
    both engines (Spark decorrelates it into a ranked join; DuckDB
    executes the dependent scan)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        register_views,
    )

    register_views(spark, sf_dir, tables=("customer", "orders"))
    return spark.sql(_SQL_FRONTEND_LATERAL)


_SQL_FRONTEND_SETOPS = """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_totalprice > 400000
"""


@_q("sql_frontend_setops", _SQL_FRONTEND_SETOPS)
def sql_frontend_setops(spark, sf_dir):
    """Chained INTERSECT/EXCEPT with ANSI precedence (INTERSECT binds
    tighter) through the SQL front-end — the same string parsed and
    planned by both engines must agree on the precedence, not just the
    row math."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import (
        register_views,
    )

    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(_SQL_FRONTEND_SETOPS)


@_q(
    "incremental_distinct_rollup",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS rollup_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_nd,
           TRUE AS nd_ok
    FROM events GROUP BY event_type
    """,
)
def incremental_distinct_rollup(spark, sf_dir):
    """Incrementally-maintained DISTINCT counts (the holistic gap in
    algebraic rollup maintenance): three event ticks sketched with
    Datasketches HLL and chain-merged; per-register max makes the
    merge order-free, so the chained state's estimate EXACTLY equals a
    single-shot sketch over all data (invariant-tested —
    tests/test_incremental.py). DuckDB's HLL is a different
    implementation, so the ESTIMATE cannot hash-match; the
    oracle-checkable contract (VERDICT r9 task 3: was rows-only) is
    (a) the maintained row count — pure algebra, exact — and (b) the
    sketch's error bound as a boolean: lg_k=12 -> rsd ~1.6%, and
    |est-exact| <= 5% = ~3 sigma. Spark joins its own exact
    countDistinct to evaluate the bound; DuckDB states the exact
    values and literal TRUE. Deterministic per dataset (fixed sketch
    seeds), so the gate is stable, not statistical."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        delta_distinct_rollup,
        estimate_distinct,
        merge_distinct_rollups,
    )

    e = _t(spark, sf_dir, "events").select("event_type", "user_id", "event_id")
    ticks = [e.filter(F.col("event_id") % 3 == i) for i in range(3)]
    state = delta_distinct_rollup(ticks[0], ["event_type"], ["user_id"])
    for t in ticks[1:]:
        state = merge_distinct_rollups(
            state, delta_distinct_rollup(t, ["event_type"], ["user_id"]),
            ["event_type"], ["user_id"],
        )
    est = estimate_distinct(state, ["user_id"]).select(
        "event_type", "rollup_rows", F.col("nd_user_id").alias("nd_est")
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_nd")
    )
    # exact side is a tiny per-type aggregate — broadcast it
    return est.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "rollup_rows",
        "exact_nd",
        (
            F.abs(F.col("nd_est") - F.col("exact_nd"))
            <= 0.05 * F.col("exact_nd")
        ).alias("nd_ok"),
    )


def incremental_dup_passages(spark, sf_dir):
    """Incrementally-maintained exact-substring-dedup blocklist (NEW
    r15 — completes the passage family: r14 built it, r15 slot 1
    applies it, this maintains it): three CDC ticks of documents
    folded by delta_passage_rollup + merge_passage_rollups, read
    through passage_blocklist(min_docs=2). The state retains
    singleton passages so cross-tick duplicate pairs are found —
    the oracle is the ONE-SHOT duplicated-passages SQL over the whole
    corpus, so the driver hash-pins the merge-order-free invariant:
    chained tick merges == single build. Refresh cost is O(delta
    grams) + a state-sized merge shuffle; old documents never
    re-read."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        delta_passage_rollup,
        merge_passage_rollups,
        passage_blocklist,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ticks = [d.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    state = delta_passage_rollup(ticks[0], "doc_id", "text", n=8)
    for t in ticks[1:]:
        state = merge_passage_rollups(
            state, delta_passage_rollup(t, "doc_id", "text", n=8)
        )
    return passage_blocklist(state, min_docs=2)


_REG["incremental_dup_passages"] = (
    incremental_dup_passages,
    _REG["text_dup_passages"][1],  # the ONE-SHOT oracle — the invariant
)


@_q(
    "incremental_changelog_rollup",
    """
    WITH base AS (SELECT event_type, event_id,
                         CAST(floor(value * 1000) AS BIGINT) AS milli
                  FROM events),
    surv AS (SELECT event_type,
                    CASE WHEN event_id % 3 = 0 THEN milli + 77 ELSE milli END AS m
             FROM base WHERE NOT (event_id % 3 <> 0 AND event_id % 5 = 0)),
    ins AS (SELECT event_type, milli + 1 AS m FROM base WHERE event_id % 7 = 0),
    fin AS (SELECT * FROM surv UNION ALL SELECT * FROM ins)
    SELECT event_type, count(*) AS rollup_rows, CAST(sum(m) AS BIGINT) AS sum_milli
    FROM fin GROUP BY event_type
    """,
)
def incremental_changelog_rollup(spark, sf_dir):
    """Retractable aggregate maintenance under a full I/U/D changelog:
    a stored per-type rollup is repaired from before/after images —
    updates contribute (after - before), deletes retract (-1, -before)
    — and must equal a from-scratch aggregate of the post-changelog
    state. The oracle computes that final state directly (semantic
    truth), never the maintenance formula: if the multiplicity algebra
    double-counted the I∩U overlap or missed a retraction, the hash
    would diverge. Measure is integer milli-units (floor(value*1000))
    so maintained-sum == recomputed-sum is exact, not
    float-associativity luck. The maintained path costs O(tick) +
    O(state) — base data is never re-read; a key whose rows all delete
    keeps a zero-count state row here (compaction's job to drop), but
    every fixture key stays populated so the shapes agree."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        changelog_delta_rollup,
        delta_rollup,
        merge_rollups,
    )

    e = _t(spark, sf_dir, "events").select(
        "event_type", "event_id", F.floor(F.col("value") * 1000).cast("long").alias("milli")
    )
    stored = delta_rollup(e, ["event_type"], {"milli": "sum"})
    nul = F.lit(None).cast("long")
    upd = e.filter(F.col("event_id") % 3 == 0).select(
        "event_type", F.lit("U").alias("op"),
        F.col("milli").alias("before_milli"), (F.col("milli") + 77).alias("after_milli"),
    )
    dele = e.filter((F.col("event_id") % 3 != 0) & (F.col("event_id") % 5 == 0)).select(
        "event_type", F.lit("D").alias("op"),
        F.col("milli").alias("before_milli"), nul.alias("after_milli"),
    )
    ins = e.filter(F.col("event_id") % 7 == 0).select(
        "event_type", F.lit("I").alias("op"),
        nul.alias("before_milli"), (F.col("milli") + 1).alias("after_milli"),
    )
    log = upd.unionByName(dele).unionByName(ins)
    delta = changelog_delta_rollup(log, ["event_type"], {"milli": "sum"})
    maintained = merge_rollups(stored, delta, ["event_type"], {"milli": "sum"})
    return maintained.select(
        "event_type",
        F.col("rollup_rows").cast("long").alias("rollup_rows"),
        F.col("sum_milli").cast("long").alias("sum_milli"),
    )


@_q(
    "incremental_theta_overlap",
    """
    WITH s AS (SELECT DISTINCT event_type,
                      user_id::VARCHAR || '#' ||
                      epoch_us(date_trunc('day', ts))::VARCHAR AS ud
               FROM events),
    cnt AS (SELECT event_type, count(*) AS c FROM s GROUP BY 1),
    inter AS (SELECT x.event_type AS key_a, y.event_type AS key_b, count(*) AS c
              FROM s x JOIN s y ON x.ud = y.ud AND x.event_type < y.event_type
              GROUP BY 1, 2),
    pairs AS (SELECT a.event_type AS key_a, b.event_type AS key_b
              FROM cnt a JOIN cnt b ON a.event_type < b.event_type)
    SELECT p.key_a, p.key_b,
           CAST(ca.c AS BIGINT) AS nd_a, CAST(cb.c AS BIGINT) AS nd_b,
           CAST(coalesce(i.c, 0) AS BIGINT) AS nd_and,
           CAST(ca.c + cb.c - coalesce(i.c, 0) AS BIGINT) AS nd_or,
           round(coalesce(i.c, 0)::DOUBLE /
                 (ca.c + cb.c - coalesce(i.c, 0))::DOUBLE, 6) AS jaccard,
           TRUE AS est_ok
    FROM pairs p
    JOIN cnt ca ON ca.event_type = p.key_a
    JOIN cnt cb ON cb.event_type = p.key_b
    LEFT JOIN inter i ON i.key_a = p.key_a AND i.key_b = p.key_b
    """,
)
def incremental_theta_overlap(spark, sf_dir):
    """Maintained audience-OVERLAP between event-type segments — the
    theta-sketch member of the distinct family
    (incremental.delta_theta_rollup): HLL answers only "how many
    distinct user-days per segment"; theta states additionally
    intersect and union, so |A∩B|/|A∪B| between segments stays
    queryable from state alone. Three CDC ticks chain-merged
    (theta_union_agg, order-free), then pairwise estimates.

    Exactness contract (ADVICE r6, revised r10 after the sf10 parity
    sweep): the BINDING bound is not per-segment distincts but the
    pairwise |A∪B| — theta_union keeps every hash only while the
    union fits 2^lg_k entries. lg_k=16 keeps the estimates EXACT
    through sf0.1 (~26.5k union, 40% occupancy), but the sf10
    fixture's 2.65M-row unions are 40x past capacity and the states
    degrade — gracefully, to the measured ~0.4% — exactly as this
    docstring predicted ("would surface here as an oracle
    mismatch"), and at 100 TB no affordable lg_k is exact. So the
    hash-checked contract is now scale-invariant, the same shape as
    agg_approx_sketches: the query ALSO computes the exact pairwise
    set algebra (mirroring the oracle's distinct-self-join) and
    emits those exact counts plus ``est_ok`` asserting every sketch
    estimate sits inside its error bound (theta k=2^16 -> rse
    ~1/256: 2% on nd_a/nd_b/nd_or at ~5 sigma; 5% on the
    intersection and jaccard, whose relative error scales by
    |U|/|I|). Exact in the exact regime, bound-checked past it;
    sketches are fixed-seed so the gate is deterministic per
    dataset."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        delta_theta_rollup,
        estimate_group_overlap,
        merge_theta_rollups,
    )

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit("#"),
            F.unix_micros(F.date_trunc("day", F.col("ts"))).cast("string"),
        ).alias("ud"),
    )
    ticks = [e.filter(F.col("event_id") % 3 == i).drop("event_id") for i in range(3)]
    # lg_k threads through ALL of delta/merge/overlap — a mismatch
    # anywhere silently downsamples the union (incremental.py review
    # catch); 16 per the union-occupancy analysis in the docstring
    lg = 16
    state = delta_theta_rollup(ticks[0], ["event_type"], "ud", lg_k=lg)
    for t in ticks[1:]:
        state = merge_theta_rollups(
            state, delta_theta_rollup(t, ["event_type"], "ud", lg_k=lg),
            ["event_type"], "ud", lg_k=lg,
        )
    # lang-grained by construction (5 segments): skip the guard's
    # plan-build-time count, same rationale as the minhash rollup
    est = estimate_group_overlap(
        state, "event_type", "ud", max_groups=None, lg_k=lg
    ).select(
        "key_a", "key_b",
        F.col("nd_a").alias("e_a"), F.col("nd_b").alias("e_b"),
        F.col("nd_and").alias("e_and"), F.col("nd_or").alias("e_or"),
        F.col("jaccard").alias("e_j"),
    )
    # exact pairwise set algebra, mirroring the oracle: distinct
    # (segment, user-day) pairs, self-joined on the user-day
    s = e.select("event_type", "ud").distinct()
    cnt = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    inter = (
        s.alias("x")
        .join(
            s.alias("y"),
            (F.col("x.ud") == F.col("y.ud"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("key_a"),
            F.col("y.event_type").alias("key_b"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    # 5 segments -> cnt/inter are tiny; broadcast everything constant
    pairs = (
        cnt.alias("a")
        .join(
            F.broadcast(cnt.alias("b")),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("key_a"),
            F.col("b.event_type").alias("key_b"),
            F.col("a.c").alias("nd_a"),
            F.col("b.c").alias("nd_b"),
        )
        .join(F.broadcast(inter), ["key_a", "key_b"], "left")
        .select(
            "key_a", "key_b", "nd_a", "nd_b",
            F.coalesce(F.col("i"), F.lit(0)).alias("nd_and"),
            (F.col("nd_a") + F.col("nd_b") - F.coalesce(F.col("i"), F.lit(0))).alias("nd_or"),
        )
    )

    # Bounds: relative tol with an ABSOLUTE floor on the intersection
    # and jaccard checks (ADVICE r10). A pure relative bound collapses
    # to exact-equality when the true intersection is 0, yet past
    # sketch capacity a disjoint pair may legitimately estimate a
    # small nonzero overlap — the theta intersection's absolute error
    # scales with |A∪B|/sqrt(k) (k=2^16 -> rse 1/256), so the floor is
    # 4 sigma of that: 4*nd_or/256 for counts, 4/256 for jaccard.
    def _within(est_col, exact_col, tol, floor=None):
        bound = tol * F.col(exact_col)
        if floor is not None:
            bound = F.greatest(bound, floor)
        return F.abs(F.col(est_col) - F.col(exact_col)) <= bound

    exact_j = F.col("nd_and").cast("double") / F.col("nd_or").cast("double")
    return pairs.join(F.broadcast(est), ["key_a", "key_b"]).select(
        "key_a", "key_b", "nd_a", "nd_b", "nd_and", "nd_or",
        F.round(exact_j, 6).alias("jaccard"),
        (
            _within("e_a", "nd_a", 0.02)
            & _within("e_b", "nd_b", 0.02)
            & _within("e_or", "nd_or", 0.02)
            & _within("e_and", "nd_and", 0.05,
                      floor=4.0 * F.col("nd_or").cast("double") / 256.0)
            & (F.abs(F.col("e_j") - exact_j)
               <= F.greatest(0.05 * exact_j, F.lit(4.0 / 256.0)))
        ).alias("est_ok"),
    )


@_q(
    "incremental_ivf_cells",
    """
    WITH img AS (SELECT vec_id,
                        CASE WHEN vec_id % 7 = 3
                             THEN list_transform(embedding::DOUBLE[], x -> -x)
                             ELSE embedding::DOUBLE[] END AS emb,
                        CASE WHEN vec_id % 7 = 3 THEN 2 ELSE 1 END AS version
                 FROM embeddings),
    seedmod AS (SELECT GREATEST(50, (count(*) + 511) // 512) AS m
                FROM embeddings),
    centroids AS (SELECT vec_id AS cell, embedding::DOUBLE[] AS cvec
                  FROM embeddings
                  WHERE vec_id % (SELECT m FROM seedmod) = 0),
    scored AS (SELECT i.vec_id, i.version, c.cell,
                      list_dot_product(i.emb, c.cvec) AS score
               FROM img i CROSS JOIN centroids c),
    assigned AS (SELECT vec_id, version, cell FROM (
                   SELECT vec_id, version, cell,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY score DESC, cell DESC) AS rn
                   FROM scored) t WHERE rn = 1)
    SELECT cell, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN version = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
    FROM assigned GROUP BY cell
    """,
)
def incremental_ivf_cells(spark, sf_dir):
    """Incrementally-MAINTAINED IVF cell map (VERDICT r6 task 6): tick
    1 quantizes the whole corpus; tick 2 re-upserts every vec_id%7==3
    vector NEGATED (guaranteed cell flip for any non-degenerate
    quantizer) at a higher version; merge is per-id last-writer-wins
    (operators.incremental.delta_ivf_assign / merge_ivf_assignments —
    the batch algebra sweep_ivf_assign commits with the one-rename
    protocol). The oracle computes the same map from the LATEST image
    per id in one shot — tick-merge == recompute is exactly the
    maintained-index invariant, and the per-cell update counts prove
    the UPDATE path moved rows rather than duplicating them (a
    non-LWW merge would inflate n). Quantizer fixed across ticks
    (corpus-capped vec_id % _ivf_seed_mod(n) seeds, ≙ vec_ivf_cells);
    retraining = offline rebuild, the hosted-ANN contract."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        delta_ivf_assign,
        merge_ivf_assignments,
    )

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    t1 = e.withColumn("version", F.lit(1))
    t2 = (
        e.filter(F.col("vec_id") % 7 == 3)
        .withColumn("embedding", F.transform("embedding", lambda x: -x))
        .withColumn("version", F.lit(2))
    )
    cents = _ivf_centroids(spark, sf_dir)
    state = delta_ivf_assign(t1, "vec_id", "embedding", cents, "version")
    state = merge_ivf_assignments(
        state,
        delta_ivf_assign(t2, "vec_id", "embedding", cents, "version"),
        "vec_id",
        "version",
    )
    return state.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("version") == 2).cast("long")).alias("n_updated"),
    )


def _duck_topk_rollup_sql(k: int = 3) -> str:
    """Tick-replay oracle for the Misra-Gries heavy-hitters rollup:
    three event ticks (event_id % 3), each reduced to a k-counter
    summary, chain-merged with the SAME deterministic reduction
    (rank by cnt DESC, item; subtract the (k+1)-th count; drop
    non-positive). MG tick-merge != single-shot MG in general, so the
    oracle replays the exact tick-and-merge sequence the Spark side
    executes — approximation with a reproducible contract."""
    def reduce_cte(src: str, out: str) -> str:
        return f"""
    {out}_r AS (SELECT day_us, item, cnt,
                row_number() OVER (PARTITION BY day_us ORDER BY cnt DESC, item) AS rn
                FROM {src}),
    {out} AS (SELECT day_us, item, cnt - ck1 AS cnt FROM (
                SELECT day_us, item, cnt, rn,
                       coalesce(max(CASE WHEN rn = {k + 1} THEN cnt END)
                                OVER (PARTITION BY day_us), 0) AS ck1
                FROM {out}_r) z
              WHERE rn <= {k} AND cnt - ck1 > 0)"""

    ticks = ",".join(
        f"""
    c{i} AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us, event_type AS item,
                    count(*) AS cnt
             FROM events WHERE event_id % 3 = {i} GROUP BY 1, 2),{reduce_cte(f'c{i}', f's{i}')}"""
        for i in range(3)
    )
    return f"""
    WITH {ticks},
    u01 AS (SELECT day_us, item, CAST(sum(cnt) AS BIGINT) AS cnt
            FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1) GROUP BY 1, 2),
    {reduce_cte('u01', 'm01')},
    u012 AS (SELECT day_us, item, CAST(sum(cnt) AS BIGINT) AS cnt
             FROM (SELECT * FROM m01 UNION ALL SELECT * FROM s2) GROUP BY 1, 2),
    {reduce_cte('u012', 'fin')}
    SELECT day_us, item, CAST(cnt AS BIGINT) AS cnt FROM fin
    """


@_q("incremental_topk_rollup", _duck_topk_rollup_sql())
def incremental_topk_rollup(spark, sf_dir):
    """Maintained per-day HEAVY-HITTERS (frequent event types) — the
    Misra-Gries member of the maintained-rollup family (HLL =
    distinct, MinHash = similarity, this = top items): three CDC
    ticks each reduced to a 3-counter summary
    (incremental.delta_topk_rollup), chain-merged by count-add +
    re-reduce (merge_topk_rollups). Counts are LOWER bounds within
    dropped-mass/k of exact; the reduction is deterministic, so the
    oracle replays the identical tick-and-merge sequence and the
    driver hash-checks the merge algebra end to end."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        delta_topk_rollup,
        merge_topk_rollups,
    )

    e = _t(spark, sf_dir, "events").select(
        F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_us"),
        F.col("event_type").alias("item"),
        "event_id",
    )
    ticks = [e.filter(F.col("event_id") % 3 == i).drop("event_id") for i in range(3)]
    state = delta_topk_rollup(ticks[0], ["day_us"], "item", k=3)
    for t in ticks[1:]:
        state = merge_topk_rollups(
            state, delta_topk_rollup(t, ["day_us"], "item", k=3), ["day_us"], "item", k=3
        )
    return state.select("day_us", "item", F.col("cnt").cast("long").alias("cnt"))


def _duck_pq_codes_sql(dim: int = 64, m_parts: int = 4, k: int = 16) -> str:
    """DuckDB mirror of vectors.pq_encode: same hash-derived codeword
    literals, same left-associative squared-L2 accumulation, same
    first-minimum argmin (list_indexof), so codes match bit-for-bit."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.vectors import (
        pq_codeword,
    )

    subdim = dim // m_parts
    cols = []
    for m in range(m_parts):
        dists = []
        for kk in range(k):
            cw = pq_codeword(m, kk, subdim)
            terms = " + ".join(
                f"(embedding[{m * subdim + j + 1}]::DOUBLE - ({c!r}))"
                f" * (embedding[{m * subdim + j + 1}]::DOUBLE - ({c!r}))"
                for j, c in enumerate(cw)
            )
            dists.append(f"({terms})")
        lst = "[" + ", ".join(dists) + "]"
        cols.append(f"CAST(list_indexof({lst}, list_min({lst})) - 1 AS BIGINT) AS code{m}")
    return f"SELECT vec_id, {', '.join(cols)} FROM embeddings"


def _duck_pq_adc_sql(dim: int = 64, m_parts: int = 4, k: int = 16, topk: int = 10) -> str:
    """DuckDB mirror of vectors.pq_topk_adc: the LUT entries are the
    same subspace distances computed against the vec_id=1 query row
    (the Spark side precomputes them driver-side from the identical
    float32->double values), indexed by the same codes."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.vectors import (
        pq_codeword,
    )

    subdim = dim // m_parts
    code_cols = []
    lut_exprs = []
    for m in range(m_parts):
        dists = []
        lut = []
        for kk in range(k):
            cw = pq_codeword(m, kk, subdim)
            terms = " + ".join(
                f"(embedding[{m * subdim + j + 1}]::DOUBLE - ({c!r}))"
                f" * (embedding[{m * subdim + j + 1}]::DOUBLE - ({c!r}))"
                for j, c in enumerate(cw)
            )
            dists.append(f"({terms})")
            qterms = " + ".join(
                f"(q.qv[{m * subdim + j + 1}]::DOUBLE - ({c!r}))"
                f" * (q.qv[{m * subdim + j + 1}]::DOUBLE - ({c!r}))"
                for j, c in enumerate(cw)
            )
            lut.append(f"({qterms})")
        lst = "[" + ", ".join(dists) + "]"
        code_cols.append(f"(list_indexof({lst}, list_min({lst}))) AS idx{m}")
        lut_exprs.append("[" + ", ".join(lut) + "]")
    adc = " + ".join(f"{lut_exprs[m]}[c.idx{m}]" for m in range(m_parts))
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
         c AS (SELECT vec_id, {', '.join(code_cols)} FROM embeddings)
    SELECT c.vec_id, round({adc}, 6) AS adc_dist
    FROM c, q
    ORDER BY adc_dist, vec_id
    LIMIT {topk}
    """


def _duck_ivfpq_sql(dim: int = 64, m_parts: int = 4, k: int = 16, topk: int = 10) -> str:
    """DuckDB mirror of vectors.ivfpq_topk: the _DUCK_IVF cell
    assignment prunes to the query's 2 nearest cells (score desc, cell
    desc — same probe pick), then the PQ ADC of _duck_pq_adc_sql
    scores only the surviving rows."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.vectors import (
        pq_codeword,
    )

    subdim = dim // m_parts
    code_cols = []
    lut_exprs = []
    for m in range(m_parts):
        dists = []
        lut = []
        for kk in range(k):
            cw = pq_codeword(m, kk, subdim)
            terms = " + ".join(
                f"(embedding[{m * subdim + j + 1}]::DOUBLE - ({c!r}))"
                f" * (embedding[{m * subdim + j + 1}]::DOUBLE - ({c!r}))"
                for j, c in enumerate(cw)
            )
            dists.append(f"({terms})")
            qterms = " + ".join(
                f"(q.qv[{m * subdim + j + 1}]::DOUBLE - ({c!r}))"
                f" * (q.qv[{m * subdim + j + 1}]::DOUBLE - ({c!r}))"
                for j, c in enumerate(cw)
            )
            lut.append(f"({qterms})")
        lst = "[" + ", ".join(dists) + "]"
        code_cols.append(f"(list_indexof({lst}, list_min({lst}))) AS idx{m}")
        lut_exprs.append("[" + ", ".join(lut) + "]")
    adc = " + ".join(f"{lut_exprs[m]}[c.idx{m}]" for m in range(m_parts))
    return f"""
    WITH {_DUCK_IVF},
    qc AS (SELECT cell FROM scored WHERE vec_id = 1 ORDER BY score DESC, cell DESC LIMIT 2),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
    c AS (SELECT e.vec_id, {', '.join(code_cols)}
          FROM embeddings e JOIN assigned a ON e.vec_id = a.vec_id
          WHERE a.cell IN (SELECT cell FROM qc))
    SELECT c.vec_id, round({adc}, 6) AS adc_dist
    FROM c, q
    ORDER BY adc_dist, vec_id
    LIMIT {topk}
    """


@_q("vec_ivfpq_topk", _duck_ivfpq_sql())
def vec_ivfpq_topk(spark, sf_dir):
    """IVF+PQ search (A12, composed): coarse-quantizer cell pruning
    (scan ~ n_probe/n_cells of the corpus) x PQ asymmetric distance
    (M lookups per scanned row, no dim-length math) — the layout a
    billion-vector index actually ships. Both stages reuse the
    operators verified standalone (vec_ivf_topk, vec_pq_topk_adc)."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = _query_vector(sf_dir)
    return vec_ops.ivfpq_topk(
        e, "vec_id", "embedding", qvec, _ivf_centroids(spark, sf_dir),
        dim=64, m_parts=4, k=16, topk=10, n_probe=2,
    )


@_q("vec_pq_codes", _duck_pq_codes_sql())
def vec_pq_codes(spark, sf_dir):
    """Product-quantization encode (A12 compression path): 64-dim
    float vectors -> 4 codeword ids (4 subspaces x 16-entry codebook),
    i.e. 256 bytes -> 4. Per-row narrow projection, no shuffle, no
    UDF; deterministic hash-derived codebook so the oracle replays the
    argmin bit-for-bit (a k-means-trained codebook plugs into the same
    literals). At 100 TB, PQ is what makes the billion-vector index
    fit executor memory; composes with IVF (cell -> in-cell code)."""
    e = _t(spark, sf_dir, "embeddings")
    coded = vec_ops.pq_encode(e, "embedding", dim=64, m_parts=4, k=16)
    return coded.select(
        "vec_id",
        *[F.col("pq_code").getItem(m).cast("long").alias(f"code{m}") for m in range(4)],
    )


@_q("vec_pq_topk_adc", _duck_pq_adc_sql())
def vec_pq_topk_adc(spark, sf_dir):
    """PQ asymmetric-distance top-k (A12): the un-quantized query's
    distance to each DB vector approximated as the sum of M lookup-
    table entries indexed by the vector's PQ code — M array lookups
    per row instead of dim multiplies, then TakeOrderedAndProject.
    The M x K LUT is computed once driver-side and shipped as
    literals; the oracle recomputes the identical LUT in SQL from the
    same query row."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = _query_vector(sf_dir)
    return vec_ops.pq_topk_adc(
        e, "vec_id", "embedding", qvec, dim=64, m_parts=4, k=16, topk=10
    )


@_q(
    "cdc_apply_changelog",
    """
    WITH log AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM events),
    latest AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, op,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM log)
    SELECT user_id, event_id AS last_event_id, ts_us, event_type AS last_type
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_apply_changelog(spark, sf_dir):
    """Materialize a tombstone-bearing changelog into current state —
    the CDC-completeness op the reference lacks (its sweep only ever
    upserts, service_layer/service.py:151-166; a source-side DELETE is
    invisible to it): latest op per key wins, and a key whose latest
    op is a delete ('error' events stand in as tombstones) drops out
    of the snapshot entirely. One partial-aggregating max_by per key —
    the same Delta/Iceberg CDF apply-pattern a 100 TB changelog
    compaction runs, no sort."""
    e = _t(spark, sf_dir, "events")
    log = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")).alias("op"),
    )
    latest = (
        log.groupBy("user_id")
        .agg(F.max_by(F.struct("event_id", "ts", "event_type", "op"), F.struct("ts", "event_id")).alias("s"))
    )
    return latest.filter(F.col("s.op") != "D").select(
        "user_id",
        F.col("s.event_id").alias("last_event_id"),
        F.unix_micros("s.ts").alias("ts_us"),
        F.col("s.event_type").alias("last_type"),
    )


@_q(
    "cdc_store_diff",
    """
    WITH src AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
                        CAST(floor(value * 1000) AS BIGINT) AS milli
                 FROM events),
    dst AS (SELECT event_id, user_id, ts_us, event_type,
                   CASE WHEN event_id % 103 = 0 THEN milli + 1 ELSE milli END AS milli
            FROM src WHERE event_id % 101 <> 0
            UNION ALL
            SELECT event_id + 10000000, user_id, ts_us, event_type, milli
            FROM src WHERE event_id % 107 = 0),
    d1 AS (SELECT event_id FROM src EXCEPT SELECT event_id FROM dst),
    d2 AS (SELECT event_id FROM dst EXCEPT SELECT event_id FROM src),
    d3 AS (SELECT s.event_id FROM src s JOIN dst d USING (event_id)
           WHERE s.user_id IS DISTINCT FROM d.user_id
              OR s.ts_us IS DISTINCT FROM d.ts_us
              OR s.event_type IS DISTINCT FROM d.event_type
              OR s.milli IS DISTINCT FROM d.milli)
    SELECT event_id, 'missing' AS status FROM d1
    UNION ALL SELECT event_id, 'extra' FROM d2
    UNION ALL SELECT event_id, 'changed' FROM d3
    """,
)
def cdc_store_diff(spark, sf_dir):
    """Anti-entropy audit between source and CDC-maintained sink
    (operators.cdc.store_diff): two-level merkle-style comparison —
    per-bucket order-free digests first (B rows per side cross the
    shuffle, map-side combined), full row comparison ONLY inside
    unequal buckets. The sink here is the source deterministically
    perturbed (drops, value changes, spurious extras); the oracle is
    the direct EXCEPT/compare set logic — semantic truth, so a digest
    collision or a bucket-pruning bug surfaces as a hash mismatch."""
    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("milli"),
    )
    dst = (
        e.filter(F.col("event_id") % 101 != 0)
        .withColumn(
            "milli",
            F.when(F.col("event_id") % 103 == 0, F.col("milli") + 1).otherwise(
                F.col("milli")
            ),
        )
        .unionByName(
            e.filter(F.col("event_id") % 107 == 0).withColumn(
                "event_id", F.col("event_id") + 10_000_000
            )
        )
    )
    out = cdc.store_diff(e, dst, ["event_id"], num_buckets=64)
    return out.select("event_id", "status")


@_q(
    "text_source_cap",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents) t
    WHERE rn <= 10
    """,
)
def text_source_cap(spark, sf_dir):
    """Per-source document cap (the common-crawl per-domain cap): keep
    the 10 lowest-id docs per source so no single domain dominates the
    training mix. Top-k-per-group is a genuine window (k > 1 rows
    survive per key, so min_by cannot express it), but the rank is
    computed over (doc_id, source) pairs ONLY — bodies join back never,
    and at 100 TB the window partitions by the ~million-domain key,
    not by a handful of giants (cap skew is bounded by the cap)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "source")
    )


@_q(
    "text_length_outliers",
    """
    WITH b AS (
      SELECT lang,
             percentile_cont(0.05) WITHIN GROUP (ORDER BY n_chars) AS lo,
             percentile_cont(0.95) WITHIN GROUP (ORDER BY n_chars) AS hi
      FROM documents GROUP BY lang)
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d JOIN b ON d.lang = b.lang
    WHERE d.n_chars < b.lo OR d.n_chars > b.hi
    """,
)
def text_length_outliers(spark, sf_dir):
    """Per-language length-outlier filter (corpus cleaning): docs
    outside their language's [p5, p95] n_chars band, with the per-lang
    bounds (one row per language) broadcast back onto the corpus so
    the bounds frame stays KB-sized. Exact percentile() here because
    the oracle needs bit-equal bounds (Spark and DuckDB share the
    (n-1)*p interpolation on integer input) — but exact percentile is
    HOLISTIC: its aggregation state holds every value in the group, so
    at 100 TB this one aggregate swaps to approx_percentile (t-digest
    sketch state, same query shape, bounds approximate within the
    sketch accuracy) — a one-expression change at this call site."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    bounds = d.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    return (
        d.join(F.broadcast(bounds), "lang")
        .filter((F.col("n_chars") < F.col("lo")) | (F.col("n_chars") > F.col("hi")))
        .select("doc_id", "lang", "n_chars")
    )


@_q(
    "text_bigram_surprisal",
    r"""
    WITH train AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
    sc AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
    uni AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM train),
    uc AS (SELECT tok, count(*) AS uc FROM uni GROUP BY tok),
    consts AS (SELECT sum(uc) AS n FROM uc),
    tr_t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM train),
    tr_bi AS (SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
              FROM tr_t WHERE len(t) >= 2),
    bi AS (SELECT w1, w2, count(*) AS bc FROM tr_bi GROUP BY w1, w2),
    sc_t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM sc),
    sc_bi AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
              FROM sc_t WHERE len(t) >= 2),
    j AS (SELECT doc_id,
                 -ln(CASE WHEN bc IS NOT NULL THEN bc * 1.0 / u1.uc
                          WHEN u2.uc IS NOT NULL THEN 0.4 * u2.uc / n
                          ELSE 0.4 * 0.4 / n END) AS nll
          FROM sc_bi
          LEFT JOIN bi USING (w1, w2)
          LEFT JOIN uc u1 ON sc_bi.w1 = u1.tok
          LEFT JOIN uc u2 ON sc_bi.w2 = u2.tok
          CROSS JOIN consts)
    SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS surprisal
    FROM j GROUP BY doc_id
    """,
)
def text_bigram_surprisal(spark, sf_dir):
    """Held-out bigram-LM quality scoring with Stupid Backoff: train
    counts on even doc_ids, score odd doc_ids — unattested bigrams
    genuinely back off to the unigram term (and unseen words to the
    OOV floor), unlike self-scoring where every bigram is attested.
    The distributed-LM scoring rule (Brants et al. '07): count tables
    as hash aggs, token-keyed left joins, 1-row constants broadcast."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = d.filter(F.col("doc_id") % 2 == 0)
    score = d.filter(F.col("doc_id") % 2 == 1)
    out = text_ops.bigram_surprisal(score, "doc_id", "text", alpha=0.4, train_df=train)
    return out.select(
        "doc_id", "n_bigrams", F.round("surprisal", 6).alias("surprisal")
    )


@_q(
    "text_bpe_pair_merge",
    r"""
    WITH pre AS (SELECT unnest(regexp_extract_all(text,
                   ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS tok FROM documents),
    words AS (SELECT tok, count(*) AS n FROM pre GROUP BY tok),
    pairs AS (SELECT unnest(list_transform(generate_series(1, length(tok) - 1),
                                           i -> substr(tok, i, 2))) AS pair, n
              FROM words WHERE length(tok) >= 2)
    SELECT pair, CAST(sum(n) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def text_bpe_pair_merge(spark, sf_dir):
    """One BPE-training step: top-20 adjacent character pairs over the
    GPT-2-style pretoken stream, counted via the vocab-weighted
    two-level shape (word-frequency agg first, pair expansion
    vocab-sized) — the argmax is the tokenizer's next merge."""
    d = _t(spark, sf_dir, "documents").select("text")
    counts = text_ops.bpe_pair_counts(d, "text")
    return counts.orderBy(F.col("cnt").desc(), "pair").limit(20)


@_q(
    "text_mad_outliers",
    """
    WITH med AS (SELECT lang, median(n_chars) AS m FROM documents GROUP BY lang),
    dev AS (SELECT d.doc_id, d.lang, d.n_chars, abs(d.n_chars - med.m) AS ad, med.m
            FROM documents d JOIN med USING (lang)),
    mad AS (SELECT lang, median(ad) AS mad FROM dev GROUP BY lang)
    SELECT dev.doc_id, dev.lang, dev.n_chars,
           round((dev.n_chars - dev.m) / (1.4826 * mad.mad), 4) AS robust_z
    FROM dev JOIN mad USING (lang)
    WHERE mad.mad > 0 AND abs(dev.n_chars - dev.m) > 1.5 * 1.4826 * mad.mad
    """,
)
def text_mad_outliers(spark, sf_dir):
    """Robust per-language outlier scoring via MAD (median absolute
    deviation — the quality filter that survives the heavy tails that
    wreck a stddev z-score): two exact-median passes, each producing
    one row per language broadcast back onto the corpus; flags docs
    beyond 1.5 robust sigmas (the synthetic lengths are near-uniform —
    tighter than the classic 3-sigma so the filter actually fires). Exact percentile is the oracle-parity
    choice (same (n-1)p interpolation both engines); at 100 TB the
    same call sites take approx_percentile sketches."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    med = d.groupBy("lang").agg(F.expr("percentile(n_chars, 0.5)").alias("m"))
    dev = d.join(F.broadcast(med), "lang").withColumn(
        "ad", F.abs(F.col("n_chars") - F.col("m"))
    )
    mad = dev.groupBy("lang").agg(F.expr("percentile(ad, 0.5)").alias("mad"))
    scored = dev.join(F.broadcast(mad), "lang")
    # mad > 0 guard: a stratum where >half the docs share the median
    # length has mad = 0 — without the predicate the ratio is ±Inf and
    # round(inf) diverges between engines. Degenerate strata have no
    # meaningful robust z anyway; they are simply not outlier-scored.
    return scored.filter(
        (F.col("mad") > 0) & (F.col("ad") > 1.5 * 1.4826 * F.col("mad"))
    ).select(
        "doc_id", "lang", "n_chars",
        F.round((F.col("n_chars") - F.col("m")) / (1.4826 * F.col("mad")), 4).alias(
            "robust_z"
        ),
    )


@_q(
    "window_time_range_moving_sum",
    """
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                                  RANGE BETWEEN 3600000000 PRECEDING
                                            AND CURRENT ROW), 3) AS hour_sum
    FROM events
    """,
)
def window_time_range_moving_sum(spark, sf_dir):
    """Event-TIME range frame (W5 extension): per-user trailing-hour
    sum — a RANGE frame over microseconds, not a row-count frame, so
    the window adapts to irregular event spacing (and ties on the
    same microsecond are peers in both engines by the SQL standard)."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "user_id", "event_id",
        F.round(F.sum("value").over(w), 3).alias("hour_sum"),
    )


@_q(
    "text_unigram_surprisal",
    """
    WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                  FROM documents),
    vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    consts AS (SELECT sum(cnt) AS n, count(*) AS v FROM vocab),
    scored AS (SELECT doc_id, -ln((cnt + 1.0) / (n + 1.0 * v)) AS nll
               FROM toks JOIN vocab USING (tok) CROSS JOIN consts)
    SELECT doc_id, count(*) AS n_tokens, round(avg(nll), 6) AS surprisal
    FROM scored GROUP BY doc_id
    """,
)
def text_unigram_surprisal(spark, sf_dir):
    """Self-trained unigram-LM quality score (the CCNet perplexity
    filter, unigram order): mean token surprisal under the corpus's
    own add-one-smoothed unigram distribution — rare-token soup (OCR
    junk, gibberish) scores high, boilerplate low. Vocab count, 1-row
    constants broadcast, token-keyed join back, per-doc mean — no
    collect anywhere."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = text_ops.unigram_surprisal(d, "doc_id", "text", smoothing=1.0)
    return out.select(
        "doc_id", "n_tokens", F.round("surprisal", 6).alias("surprisal")
    )


@_q(
    "ml_importance_weights",
    """
    WITH ctoks AS (SELECT doc_id,
                          unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                   FROM documents),
    ttoks AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
              FROM documents WHERE doc_id % 37 = 0),
    cv AS (SELECT tok, count(*) AS cc FROM ctoks GROUP BY tok),
    tv AS (SELECT tok, count(*) AS tc FROM ttoks GROUP BY tok),
    vocab AS (SELECT COALESCE(cv.tok, tv.tok) AS tok,
                     COALESCE(cc, 0) AS cc, COALESCE(tc, 0) AS tc
              FROM cv FULL OUTER JOIN tv ON cv.tok = tv.tok),
    consts AS (SELECT sum(cc) AS nc, sum(tc) AS nt, count(*) AS v FROM vocab),
    lr AS (SELECT tok, ln((tc + 1.0) / (nt + 1.0 * v))
                     - ln((cc + 1.0) / (nc + 1.0 * v)) AS lr
           FROM vocab CROSS JOIN consts),
    scored AS (SELECT doc_id, lr FROM ctoks JOIN lr USING (tok))
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(sum(lr), 6) AS weight
    FROM scored GROUP BY doc_id
    """,
)
def ml_importance_weights(spark, sf_dir):
    """DSIR-style data-selection importance weights (NEW r15, Xie et
    al. 2023): per-doc sum of unigram log importance ratios between a
    target exemplar set (here doc_id % 37 == 0 — the domain to
    up-sample) and the corpus's own distribution, add-one smoothed
    over the union vocab. Two vocab counts, one vocab-sized
    full-outer align, 1-row constants broadcast, token-keyed join
    back, per-doc sum — no collect; the weights feed
    weighted_sample for the resampling step. Rounded to 6 dp: the
    per-token log-ratio is IEEE-identical cross-engine; only the
    per-doc summation order differs (~1e-13)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    probe = d.filter(F.col("doc_id") % 37 == 0)
    out = text_ops.importance_weights(d, probe, "doc_id", "text", smoothing=1.0)
    return out.select(
        "doc_id", "n_tokens", F.round("weight", 6).alias("weight")
    )


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's CDC sweep as one declarative DAG
    (incremental scan -> canonical JSON -> chunk -> embed -> sink rows,
    ≙ controller.py:17-35 + service.py:48-172) on sf0.001 events."""
    sf_dir = "/root/testdata/sf0.001"
    e = load_table(spark, sf_dir, "events")
    sink_rows, _wm = cdc_tick(
        e,
        source="events",
        change_col="ts",
        order_col="event_id",
        watermark=WM,
        with_embeddings=True,
    )
    return sink_rows.select(
        "id",
        F.size("values").alias("dim"),
        F.length(F.col("metadata.text")).alias("n_chars"),
        F.col("metadata.source").alias("source"),
    )


# Registry surfacing order (freshness rotation, VERDICT r7 task 3 —
# continued each round). The driver's correctness gate samples the
# dict from the front (50 entries per round). The r15 window (VERDICT
# r14 task 2): slots 1-6 are the six NEW r15 entries —
# vec_ann_recall (in-plan ANN quality eval composing three
# registered queries), text_gopher_rules (the Gopher gate battery),
# ml_alpha_sampling (XLM-R temperature sampling), text_dup_apply
# (the APPLY half of exact-substring dedup), ml_importance_weights
# (DSIR unigram data-selection weights), incremental_dup_passages
# (the maintained blocklist whose oracle IS the one-shot SQL — the
# merge invariant); slot 7 is q4_order_priority, re-checked because
# r15 flipped it to the layout='auto' read gate (task 7's second
# driver-checked consumer, same treatment q12 got in r14);
# slots 8-49 are ALL 42 remaining
# rows whose latest driver check was r11, in registration order —
# after this window NO query's latest driver row is older than r12;
# slot 50 begins the r12-era rotation (50 rows minus
# q4_order_priority which slot 7 already re-checks = 49; the 1 here
# leaves exactly 48 r12-era rows to lead r16, starting at
# q3_bucketed_layout / q5_bucketed_layout / text_contamination then
# cdc_time_travel / cdc_snapshot_diff and sql_frontend_having).
_PRIORITY = [
    "vec_ann_recall",  # NEW r15 (recall@10 of LSH+IVF vs exact, in-plan)
    "text_gopher_rules",  # NEW r15 (Gopher rule battery, Rae et al. 2021)
    "ml_alpha_sampling",  # NEW r15 (XLM-R temperature sampling, alpha=0.3)
    "text_dup_apply",  # NEW r15 (apply the duplicated-passage blocklist)
    "ml_importance_weights",  # NEW r15 (DSIR data-selection weights)
    "incremental_dup_passages",  # NEW r15 (maintained blocklist, invariant oracle)
    "q4_order_priority",  # flipped to layout='auto' in r15
    "scalar_conditional_lineitem",
    "pivot_priority_status",
    "cdc_incremental_scan",
    "cdc_watermark_next",
    "cdc_watermark_upsert",
    "cdc_serialize_rows",
    "cdc_chunk_documents",
    "cdc_snapshot_latest",
    "asof_join_purchase_click",
    "cdc_catalog_watermark_join",
    "window_ranking_suite",
    "string_similarity_parts",
    "dedup_exact",
    "dedup_minhash_signatures",
    "dedup_lsh_candidates",
    "dedup_lsh_candidates_capped",
    "dedup_winnow_fingerprints",
    "dedup_winnow_candidates",
    "dedup_setsim_exact",
    "dedup_simhash",
    "dedup_simhash_neardup",
    "ml_split_leakage_safe",
    "dedup_cluster_survivors",
    "dedup_cluster_best_survivors",
    "dedup_jaccard_consecutive",
    "dedup_minhash_est_jaccard",
    "text_scrub_pii",
    "text_repetition_ratio",
    "cohort_retention_orders",
    "text_normalize_stopwords",
    "text_top_bigram_per_lang",
    "vec_l2_normalize",
    "text_fingerprint",
    "vec_label_norms",
    "array_ops_documents",
    "map_ops_events",
    "array_hof_documents",
    "array_posexplode_tokens",
    "text_bpe_regex_tokens",
    "embed_documents",
    "search_end_to_end",
    "incremental_ivf_cells",
    "agg_decimal_exact_pricing",
]


def _ordered_registry() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    missing = [n for n in _PRIORITY if n not in _REG]
    assert not missing, f"_PRIORITY names not registered: {missing}"
    ordered = {n: _REG[n] for n in _PRIORITY}
    ordered.update({n: v for n, v in _REG.items() if n not in ordered})
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _ordered_registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in _ordered_registry().items() if sql is not None}
