"""Incremental rollup maintenance: folding deltas must equal a full
recompute (the materialized-view invariant)."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (  # noqa: E402
    delta_rollup,
    merge_rollups,
)
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import load_table  # noqa: E402

MEASURES = {"value": "sum", "ts": "max", "event_id": "min"}


def test_incremental_equals_full_recompute(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-15").cast("timestamp")

    d1 = e.filter(F.col("ts") <= split)
    d2 = e.filter(F.col("ts") > split)
    state = delta_rollup(d1, ["event_type"], MEASURES)
    state = merge_rollups(state, delta_rollup(d2, ["event_type"], MEASURES), ["event_type"], MEASURES)

    full = delta_rollup(e, ["event_type"], MEASURES)

    def norm(df):
        return sorted(
            (
                r["event_type"],
                r["rollup_rows"],
                round(r["sum_value"], 6),
                r["max_ts"],
                r["min_event_id"],
            )
            for r in df.collect()
        )

    assert norm(state) == norm(full)


def test_empty_delta_is_noop(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    state = delta_rollup(e, ["event_type"], MEASURES)
    empty = delta_rollup(e.filter(F.lit(False)), ["event_type"], MEASURES)
    merged = merge_rollups(state, empty, ["event_type"], MEASURES)
    assert sorted(r["event_type"] for r in merged.collect()) == sorted(
        r["event_type"] for r in state.collect()
    )
    assert merged.agg(F.sum("rollup_rows")).collect()[0][0] == e.count()


def test_non_algebraic_rejected(spark, sf_dir):
    import pytest

    e = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="non-algebraic"):
        delta_rollup(e, ["event_type"], {"value": "median"})


def test_delta_join_equals_full_join_minus_old(spark, sf_dir):
    """Property: J_old ∪ delta_join(...) must equal the full re-join,
    for several different split points — the maintenance algebra holds
    regardless of where the watermark falls."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        delta_join,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    full = sorted(map(tuple, o.join(c, "o_custkey").collect()))
    for o_res, c_res in ((3, 4), (0, 1), (9, 0)):
        a_old = o.filter(F.col("o_orderkey") % 10 >= o_res)
        delta_a = o.filter(F.col("o_orderkey") % 10 < o_res)
        b_old = c.filter(F.col("o_custkey") % 7 >= c_res)
        delta_b = c.filter(F.col("o_custkey") % 7 < c_res)
        old_join = a_old.join(b_old, "o_custkey")
        added = delta_join(a_old, delta_a, b_old, delta_b, "o_custkey")
        got = sorted(map(tuple, old_join.unionByName(added).collect()))
        assert got == full, (o_res, c_res, len(got), len(full))


def test_delta_distinct_rollup_merge_is_order_free_and_tight(spark, sf_dir):
    """HLL distinct maintenance invariants: (a) merging per-tick
    sketches yields EXACTLY the single-shot sketch's estimate (per-
    register max is order-free — the property that makes distinct
    counts delta-maintainable); (b) the estimate is within the
    sketch's error bound of the exact distinct count."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        delta_distinct_rollup,
        estimate_distinct,
        merge_distinct_rollups,
    )

    e = load_table(spark, sf_dir, "events").select("event_type", "user_id", "event_id")
    ticks = [e.filter(F.col("event_id") % 3 == i) for i in range(3)]
    state = delta_distinct_rollup(ticks[0], ["event_type"], ["user_id"])
    for t in ticks[1:]:
        state = merge_distinct_rollups(
            state, delta_distinct_rollup(t, ["event_type"], ["user_id"]),
            ["event_type"], ["user_id"],
        )
    merged = {
        r["event_type"]: r["nd_user_id"]
        for r in estimate_distinct(state, ["user_id"]).collect()
    }
    single = {
        r["event_type"]: r["nd_user_id"]
        for r in estimate_distinct(
            delta_distinct_rollup(e, ["event_type"], ["user_id"]), ["user_id"]
        ).collect()
    }
    assert merged == single  # order-free merge: exact equality

    exact = {
        r["event_type"]: r["nd"]
        for r in e.groupBy("event_type").agg(F.countDistinct("user_id").alias("nd")).collect()
    }
    for et, nd in merged.items():
        assert abs(nd - exact[et]) <= max(3, 0.05 * exact[et]), (et, nd, exact[et])


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_sweep_rollup_maintains_stored_state_exactly_once(spark, tmp_path, tz):
    """Maintained rollup end-to-end across ticks: tick 1 folds the
    initial rows, tick 2 folds ONLY the delta, an idle tick changes
    nothing, and the final stored state equals a single-shot rollup
    over all data. A simulated crash between state-swap and nothing
    (there is no second commit — watermark rides the same atomic
    rename) cannot double-merge: re-running the tick after a
    completed swap is the idle case. The Python host's time zone
    does not matter: the ``_watermark`` marker holds Spark's own text
    of the max (session time zone), so under a non-UTC host tick 2
    still folds exactly the 30 new rows (the JVM stays in UTC)."""
    import time

    saved_tz = os.environ.get("TZ")
    os.environ["TZ"] = tz
    time.tzset()
    try:
        import datetime

        import pandas as pd

        from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
            delta_rollup,
        )
        from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.streaming.pipeline import (
            sweep_rollup,
        )

        def write_events(src, rows):
            os.makedirs(src, exist_ok=True)
            pdf = pd.DataFrame(rows, columns=["event_id", "ts", "event_type", "value"])
            pdf["ts"] = pdf["ts"].astype("datetime64[us]")
            pdf.to_parquet(os.path.join(src, "events.parquet"), index=False)

        d1, d2 = datetime.datetime(2024, 1, 1), datetime.datetime(2024, 2, 1)
        rows1 = [(i, d1, "click" if i % 2 else "view", float(i)) for i in range(50)]
        rows2 = rows1 + [(100 + i, d2, "click", 2.0) for i in range(30)]
        src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
        write_events(src1, rows1)
        write_events(src2, rows2)

        store = str(tmp_path / "store")
        measures = {"value": "sum", "event_id": "max"}
        assert sweep_rollup(spark, src1, store, "events", "ts", ["event_type"], measures) == 50
        assert sweep_rollup(spark, src2, store, "events", "ts", ["event_type"], measures) == 30
        # idle: same source again -> no rows, state untouched
        assert sweep_rollup(spark, src2, store, "events", "ts", ["event_type"], measures) == 0

        got = {
            r["event_type"]: (r["rollup_rows"], r["sum_value"], r["max_event_id"])
            for r in spark.read.parquet(os.path.join(store, "rollup_events")).collect()
        }
        full = spark.createDataFrame(
            [(i, t, v) for i, _ts, t, v in rows2], "event_id long, event_type string, value double"
        )
        want = {
            r["event_type"]: (r["rollup_rows"], r["sum_value"], r["max_event_id"])
            for r in delta_rollup(full, ["event_type"], measures).collect()
        }
        assert got == want
    finally:
        if saved_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved_tz
        time.tzset()


def test_changelog_rollup_matches_recompute(spark):
    """Maintained sum/count state under chained I/U/D ticks equals a
    from-scratch delta_rollup of the final table, including NULL
    transitions for the count measure."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        changelog_delta_rollup,
        delta_rollup,
        merge_rollups,
    )

    measures = {"v": "sum", "w": "count"}
    base = [("a", 1, 10, 5), ("a", 2, 20, None), ("b", 3, 30, 7), ("b", 4, 40, 8)]
    df = spark.createDataFrame(base, "k string, id long, v long, w long")
    state = delta_rollup(df, ["k"], measures)

    # tick 1: update id=1 (v 10->15, w 5->NULL), delete id=3, insert id=5
    tick1 = spark.createDataFrame(
        [
            ("a", "U", 10, 15, 5, None),
            ("b", "D", 30, None, 7, None),
            ("b", "I", None, 99, None, 1),
        ],
        "k string, op string, before_v long, after_v long, before_w long, after_w long",
    )
    # tick 2: delete the inserted row again, update id=4 w NULL->2
    tick2 = spark.createDataFrame(
        [
            ("b", "D", 99, None, 1, None),
            ("b", "U", 40, 40, 8, 2),
        ],
        "k string, op string, before_v long, after_v long, before_w long, after_w long",
    )
    for t in (tick1, tick2):
        state = merge_rollups(
            state, changelog_delta_rollup(t, ["k"], measures), ["k"], measures
        )

    final_rows = [("a", 1, 15, None), ("a", 2, 20, None), ("b", 4, 40, 2)]
    final = spark.createDataFrame(final_rows, "k string, id long, v long, w long")
    want = {
        r["k"]: (r["rollup_rows"], r["sum_v"], r["count_w"])
        for r in delta_rollup(final, ["k"], measures).collect()
    }
    got = {
        r["k"]: (r["rollup_rows"], r["sum_v"], r["count_w"])
        for r in state.collect()
    }
    assert got == want


def test_changelog_rollup_rejects_min_max(spark):
    import pytest

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        changelog_delta_rollup,
    )

    df = spark.createDataFrame(
        [("a", "I", None, 1)], "k string, op string, before_v long, after_v long"
    )
    with pytest.raises(ValueError, match="not retractable"):
        changelog_delta_rollup(df, ["k"], {"v": "min"})


def test_sweep_changelog_rollup_ticks_and_replay(spark, tmp_path):
    """Changelog sweep: two ticks of I/U/D fold into state matching a
    from-scratch aggregate of the final table; re-running a tick with
    no new LSNs is a no-op (the atomic state+watermark commit makes
    delete-replay — which would drive counts negative — impossible)."""
    import os

    import pandas as pd

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        delta_rollup,
    )
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.streaming.pipeline import (
        sweep_changelog_rollup,
    )

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)

    def append_log(fname, rows):
        pdf = pd.DataFrame(
            rows, columns=["lsn", "op", "k", "before_v", "after_v"]
        ).astype({"lsn": "int64", "before_v": "float64", "after_v": "float64"})
        pdf.to_parquet(os.path.join(log_dir, fname), index=False)

    # tick 1: pure inserts
    append_log("t1.parquet", [
        (1, "I", "a", None, 10.0), (2, "I", "a", None, 20.0), (3, "I", "b", None, 30.0),
    ])
    store = str(tmp_path / "store")
    measures = {"v": "sum"}
    assert sweep_changelog_rollup(spark, log_dir, store, "t", "lsn", ["k"], measures) == 3
    # replay: no new lsn -> idle
    assert sweep_changelog_rollup(spark, log_dir, store, "t", "lsn", ["k"], measures) == 0

    # tick 2: update a's 10->15, delete b's 30, insert c
    append_log("t2.parquet", [
        (4, "U", "a", 10.0, 15.0), (5, "D", "b", 30.0, None), (6, "I", "c", None, 7.0),
    ])
    assert sweep_changelog_rollup(spark, log_dir, store, "t", "lsn", ["k"], measures) == 3
    assert sweep_changelog_rollup(spark, log_dir, store, "t", "lsn", ["k"], measures) == 0

    final = spark.createDataFrame(
        [("a", 15.0), ("a", 20.0), ("c", 7.0)], "k string, v double"
    )
    want = {(r["k"], r["rollup_rows"], r["sum_v"])
            for r in delta_rollup(final, ["k"], measures).collect()}
    state = spark.read.parquet(os.path.join(store, "rollup_t"))
    got = {(r["k"], r["rollup_rows"], r["sum_v"]) for r in state.collect()}
    # deleted-out key b remains as a zero-count state row (compaction's
    # job to drop); every live key must match the recompute exactly
    assert {g for g in got if g[1] != 0} == want
    assert ("b", 0, 0.0) in got


def test_minhash_rollup_merge_is_order_free(spark, sf_dir):
    """Component-min mergeability: any tick order and grouping yields
    the identical sketch (exact equality, like the HLL invariant), and
    resemblance estimates live in [0, 1]."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        delta_minhash_rollup,
        estimate_resemblance,
        merge_minhash_rollups,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    ticks = [d.filter(F.col("doc_id") % 3 == i) for i in range(3)]

    def chain(order):
        st = delta_minhash_rollup(ticks[order[0]], ["lang"], "text")
        for i in order[1:]:
            st = merge_minhash_rollups(st, delta_minhash_rollup(ticks[i], ["lang"], "text"), ["lang"])
        return {r["lang"]: tuple(r[f"mh{j}"] for j in range(16)) for r in st.collect()}

    single = {
        r["lang"]: tuple(r[f"mh{j}"] for j in range(16))
        for r in delta_minhash_rollup(d, ["lang"], "text").collect()
    }
    assert chain([0, 1, 2]) == chain([2, 0, 1]) == single

    est = estimate_resemblance(
        delta_minhash_rollup(d, ["lang"], "text"), "lang"
    ).collect()
    assert est and all(0.0 <= r["est_jaccard"] <= 1.0 for r in est)


def test_changelog_rollup_sum_null_transitions(spark):
    """Review fix: an update that NULLs a summed measure must retract
    the old value, and NULL -> v must add v (a bare after - before is
    NULL and F.sum drops it silently)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        changelog_delta_rollup,
        delta_rollup,
        merge_rollups,
    )

    measures = {"v": "sum"}
    base = spark.createDataFrame([("a", 1, 10), ("a", 2, 20)], "k string, id long, v long")
    state = delta_rollup(base, ["k"], measures)
    tick = spark.createDataFrame(
        [("a", "U", 10, None), ("a", "U", None, 7)],  # 10 -> NULL retract; NULL -> 7 add
        "k string, op string, before_v long, after_v long",
    )
    state = merge_rollups(state, changelog_delta_rollup(tick, ["k"], measures), ["k"], measures)
    got = {r["k"]: r["sum_v"] for r in state.collect()}
    # 10 retracted, 7 added where before was NULL: 10+20 -10 +7 = 27
    assert got == {"a": 27}


def test_minhash_rollup_null_text_tick_keeps_counts(spark):
    """Review fix: a tick whose rows for a key all have NULL text must
    still contribute its row count to the merged state (the sketch
    side has no row; counts drive the join)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        delta_minhash_rollup,
        merge_minhash_rollups,
    )

    t1 = spark.createDataFrame(
        [(1, "g", "hello world foo bar baz"), (2, "h", None)],
        "id long, k string, text string",
    )
    t2 = spark.createDataFrame(
        [(3, "h", "real text arrives later now")], "id long, k string, text string"
    )
    s = delta_minhash_rollup(t1, ["k"], "text")
    rows = {r["k"]: r["rollup_rows"] for r in s.collect()}
    assert rows == {"g": 1, "h": 1}  # h present despite NULL text
    s = merge_minhash_rollups(s, delta_minhash_rollup(t2, ["k"], "text"), ["k"])
    merged = {r["k"]: (r["rollup_rows"], r["mh0"] is not None) for r in s.collect()}
    assert merged["h"] == (2, True)  # counts accumulated; sketch filled by tick 2


def test_sweep_changelog_rollup_large_lsn_watermark(spark, tmp_path):
    """Review fix: LSNs above 2^53 must not round through DOUBLE in
    the watermark compare (string-vs-bigint coercion) — adjacent LSNs
    must stay distinguishable across ticks."""
    import os

    import pandas as pd

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.streaming.pipeline import (
        sweep_changelog_rollup,
    )

    base = 9007199254740992  # 2^53
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)

    def append_log(fname, rows):
        pdf = pd.DataFrame(rows, columns=["lsn", "op", "k", "before_v", "after_v"]).astype(
            {"lsn": "int64", "before_v": "float64", "after_v": "float64"}
        )
        pdf.to_parquet(os.path.join(log_dir, fname), index=False)

    append_log("t1.parquet", [(base + 1, "I", "a", None, 1.0)])
    store = str(tmp_path / "store")
    assert sweep_changelog_rollup(spark, log_dir, store, "t", "lsn", ["k"], {"v": "sum"}) == 1
    # lsn base+2 differs from the stored watermark base+1 only below
    # double precision — it must still be seen as new
    append_log("t2.parquet", [(base + 2, "I", "a", None, 2.0)])
    assert sweep_changelog_rollup(spark, log_dir, store, "t", "lsn", ["k"], {"v": "sum"}) == 1
    state = {r["k"]: r["sum_v"] for r in
             spark.read.parquet(os.path.join(store, "rollup_t")).collect()}
    assert state == {"a": 3.0}


def test_estimate_resemblance_group_ceiling_and_null_safety(spark):
    """VERDICT r5 task 6 + ADVICE: (a) a state table past max_groups
    fails fast with guidance instead of queuing an O(groups^2) cross
    join; (b) NULL sketch components (all-NULL-text group) count as
    NO agreement — est_jaccard is 0, never NULL."""
    import pytest

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        estimate_resemblance,
    )

    k = 4
    cols = ["key"] + [f"mh{i}" for i in range(k)]
    big = spark.range(20).selectExpr(
        "CAST(id AS STRING) AS key", *[f"id + {i} AS mh{i}" for i in range(k)]
    )
    with pytest.raises(ValueError, match="O\\(groups\\^2\\)"):
        estimate_resemblance(big, "key", num_hashes=k, max_groups=10)
    # happy path under the ceiling is unchanged
    assert estimate_resemblance(big, "key", num_hashes=k, max_groups=100).count() == 190

    rows = [
        ("a", 1, 2, 3, 4),
        ("b", 1, 2, 9, 9),          # agrees with a on 2/4
        ("c", None, None, None, None),  # sketchless group
    ]
    est = {
        (r["key_a"], r["key_b"]): r["est_jaccard"]
        for r in estimate_resemblance(
            spark.createDataFrame(rows, cols), "key", num_hashes=k, max_groups=None
        ).collect()
    }
    assert est[("a", "b")] == 0.5
    assert est[("a", "c")] == 0.0 and est[("b", "c")] == 0.0


def test_topk_rollup_mg_guarantees(spark):
    """Misra-Gries contract: (a) summary counts are LOWER bounds on
    exact frequencies; (b) any item with true frequency > m/(k+1)
    survives every tick-merge (here: a 60%-mass item over 3 ticks);
    (c) per key group at most k counters."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        delta_topk_rollup,
        merge_topk_rollups,
    )

    # one key group, skewed stream: 60 x 'hot', 40 spread over 8 others
    items = ["hot"] * 60 + [f"c{i % 8}" for i in range(40)]
    rows = [(1, it, i) for i, it in enumerate(items)]
    df = spark.createDataFrame(rows, ["g", "item", "seq"])
    k = 3
    ticks = [df.filter(F.col("seq") % 3 == i).drop("seq") for i in range(3)]
    state = delta_topk_rollup(ticks[0], ["g"], "item", k=k)
    for t in ticks[1:]:
        state = merge_topk_rollups(state, delta_topk_rollup(t, ["g"], "item", k=k), ["g"], "item", k=k)
    summary = {r["item"]: r["cnt"] for r in state.collect()}
    exact = {r["item"]: r["cnt"] for r in
             df.groupBy("item").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert len(summary) <= k
    assert all(summary[i] <= exact[i] for i in summary)   # lower bounds
    assert "hot" in summary                               # 60 > 100/(k+1)
    # MG error bound: undercount <= dropped mass / k per reduction;
    # 3 ticks + 2 merges never push 'hot' below f - m/(k+1)
    assert summary["hot"] >= 60 - 100 // (k + 1)


def test_sweep_topk_rollup_ticks_and_replay(spark, tmp_path):
    """Heavy-hitters sweep: ticks fold only past-watermark rows, the
    state equals the python replay of the same tick sequence, an idle
    tick is a no-op, and a crash-replayed tick cannot inflate counts
    past true frequencies (exactly-once commit)."""
    import os
    from collections import Counter

    import pandas as pd

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.streaming.pipeline import (
        sweep_topk_rollup,
    )

    src = str(tmp_path / "log"); os.makedirs(src)
    store = str(tmp_path / "store")
    k = 2

    def append(fname, rows):
        pd.DataFrame(rows, columns=["lsn", "g", "item"]).to_parquet(
            os.path.join(src, fname), index=False
        )

    def reduce_py(counts):
        ranked = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
        ck1 = ranked[k][1] if len(ranked) > k else 0
        return {i: c - ck1 for i, c in ranked[:k] if c - ck1 > 0}

    t1 = [(i, 1, it) for i, it in enumerate(["a"] * 5 + ["b"] * 3 + ["c"] * 2)]
    t2 = [(100 + i, 1, it) for i, it in enumerate(["b"] * 4 + ["d"] * 3)]
    append("t1.parquet", t1)
    assert sweep_topk_rollup(spark, src, store, "ev", "lsn", ["g"], "item", k=k) == 10
    append("t2.parquet", t2)
    assert sweep_topk_rollup(spark, src, store, "ev", "lsn", ["g"], "item", k=k) == 7
    # idle tick: nothing new
    assert sweep_topk_rollup(spark, src, store, "ev", "lsn", ["g"], "item", k=k) == 0

    state = {r["item"]: r["cnt"] for r in
             spark.read.parquet(os.path.join(store, "topk_ev")).collect()}
    s_py = reduce_py(Counter(it for _, _, it in t1))
    m = Counter(s_py); m.update(reduce_py(Counter(it for _, _, it in t2)))
    assert state == reduce_py(dict(m))
    true = Counter(it for _, _, it in t1 + t2)
    assert all(state[i] <= true[i] for i in state)   # replay-safe lower bounds


def test_theta_rollup_merge_and_overlap(spark):
    """Theta set-operation rollup: (a) chained tick-merges equal the
    single-shot sketch exactly in the retained-hash regime; (b)
    pairwise overlap estimates equal exact set algebra on constructed
    segments; (c) beyond capacity (tiny lg_k) estimates stay within
    the documented ~1/sqrt(2^lg_k) relative error."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        delta_theta_rollup,
        estimate_group_overlap,
        merge_theta_rollups,
    )

    # segments: A = 0..199, B = 100..299 -> |A∩B|=100, |A∪B|=300
    rows = [("A", i) for i in range(200)] + [("B", i) for i in range(100, 300)]
    df = spark.createDataFrame(rows, ["seg", "v"]).withColumn("v", F.col("v").cast("string"))
    ticks = [df.filter(F.crc32(F.col("v")) % 3 == i) for i in range(3)]
    state = delta_theta_rollup(ticks[0], ["seg"], "v")
    for t in ticks[1:]:
        state = merge_theta_rollups(state, delta_theta_rollup(t, ["seg"], "v"), ["seg"], "v")
    got = estimate_group_overlap(state, "seg", "v", max_groups=None).collect()[0]
    assert (got["nd_a"], got["nd_b"], got["nd_and"], got["nd_or"]) == (200, 200, 100, 300)
    assert abs(got["jaccard"] - 100 / 300) < 1e-6
    single = delta_theta_rollup(df, ["seg"], "v")
    got1 = estimate_group_overlap(single, "seg", "v", max_groups=None).collect()[0]
    assert (got1["nd_and"], got1["nd_or"]) == (100, 300)

    # THE regime the review caught (4096 < n <= 2^15): merge and
    # pairwise union must stay exact — Spark's theta_union(_agg)
    # default lgNomEntries=12 silently downsampled here before lg_k
    # was threaded through
    mid = spark.range(6_000).selectExpr("'A' AS seg", "CAST(id AS STRING) AS v").unionAll(
        spark.range(3_000, 9_000).selectExpr("'B' AS seg", "CAST(id AS STRING) AS v")
    )
    ticks2 = [mid.filter(F.crc32(F.col("v")) % 2 == i) for i in range(2)]
    st2 = merge_theta_rollups(
        delta_theta_rollup(ticks2[0], ["seg"], "v"),
        delta_theta_rollup(ticks2[1], ["seg"], "v"),
        ["seg"], "v",
    )
    mid_est = estimate_group_overlap(st2, "seg", "v", max_groups=None).collect()[0]
    assert (mid_est["nd_a"], mid_est["nd_b"], mid_est["nd_and"], mid_est["nd_or"]) == (
        6_000, 6_000, 3_000, 9_000,
    )

    # estimation mode: 20k values per segment at lg_k=10 (1024 entries)
    big = spark.range(20_000).selectExpr("'A' AS seg", "CAST(id AS STRING) AS v").unionAll(
        spark.range(10_000, 30_000).selectExpr("'B' AS seg", "CAST(id AS STRING) AS v")
    )
    st = delta_theta_rollup(big, ["seg"], "v", lg_k=10)
    est = estimate_group_overlap(st, "seg", "v", max_groups=None, lg_k=10).collect()[0]
    for val, true in [(est["nd_a"], 20_000), (est["nd_or"], 30_000)]:
        assert abs(val - true) / true < 0.15, (val, true)


def test_sweep_ivf_assign_ticks_update_and_replay(spark, tmp_path):
    """IVF-assignment sweep (VERDICT r6 task 6): ticks quantize only
    past-watermark vectors; an UPDATE tick re-delivering an id with a
    moved vector flips its cell (last-writer-wins); the maintained
    state equals a one-shot ivf_assign over the LATEST image per id
    (tick == recompute); idle ticks and crash replays are no-ops."""
    import os

    import pandas as pd

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.vectors import (
        ivf_assign,
    )
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.streaming.pipeline import (
        sweep_ivf_assign,
    )

    src = str(tmp_path / "vecs"); os.makedirs(src)
    store = str(tmp_path / "store")
    # 2-D corpus, two obvious cells: +x and +y
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]

    def append(fname, rows):
        pd.DataFrame(rows, columns=["lsn", "vid", "vec"]).to_parquet(
            os.path.join(src, fname), index=False
        )

    t1 = [(1, 1, [0.9, 0.1]), (2, 2, [0.1, 0.9]), (3, 3, [0.8, 0.2])]
    append("t1.parquet", t1)
    args = (spark, src, store, "emb", "lsn", "vid", "vec", cents)
    assert sweep_ivf_assign(*args) == 3
    state_path = os.path.join(store, "ivf_emb")
    s1 = {r["vid"]: r["cell"] for r in spark.read.parquet(state_path).collect()}
    assert s1 == {1: 0, 2: 1, 3: 0}

    # tick 2: new vector 4, and vector 3 MOVES into the +y cell
    t2 = [(4, 4, [0.2, 0.7]), (5, 3, [0.05, 0.95])]
    append("t2.parquet", t2)
    assert sweep_ivf_assign(*args) == 2
    s2 = {r["vid"]: r["cell"] for r in spark.read.parquet(state_path).collect()}
    assert s2 == {1: 0, 2: 1, 3: 1, 4: 1}
    assert sweep_ivf_assign(*args) == 0   # idle tick: store untouched

    # tick == recompute: one-shot assignment over latest image per id
    latest = (
        spark.read.parquet(src)
        .groupBy("vid")
        .agg(F.max_by("vec", "lsn").alias("vec"))
    )
    oneshot = {
        r["vid"]: r["cell"]
        for r in ivf_assign(latest, "vid", "vec", cents).collect()
    }
    assert s2 == oneshot

    # crash replay: watermark zeroed but state kept -> re-folding every
    # tick converges to the same map (max_by over identical winners)
    wm = os.path.join(state_path, "_watermark")
    os.remove(wm)
    assert sweep_ivf_assign(*args) == 5
    s3 = {r["vid"]: r["cell"] for r in spark.read.parquet(state_path).collect()}
    assert s3 == s2


def test_passage_rollup_straddling_pair_and_invariant(spark):
    """delta_passage_rollup / merge_passage_rollups (NEW r15 — the
    maintained exact-substring-dedup blocklist): (a) the property the
    state design exists for — a duplicate pair whose two carriers
    arrive in DIFFERENT ticks is found because singleton passages are
    retained in state (a min_docs-prefiltered state would lose it);
    (b) the merge invariant — chained tick merges == one-shot
    duplicated_passages over everything, exactly; (c) within-tick
    self-repetition alone never qualifies."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        delta_passage_rollup,
        merge_passage_rollups,
        passage_blocklist,
    )
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.text import (
        duplicated_passages,
    )

    boiler = "all rights reserved by the example corp"  # 7 tokens
    tick1 = [
        (1, f"alpha beta {boiler} gamma delta"),
        (3, "rep tok rep tok rep tok rep tok rep tok rep tok rep tok"),
    ]
    tick2 = [
        (2, f"{boiler} epsilon zeta eta theta iota"),  # second carrier
        (4, "totally unique words here nothing shared with anything"),
    ]
    d1 = spark.createDataFrame(tick1, ["doc_id", "text"])
    d2 = spark.createDataFrame(tick2, ["doc_id", "text"])
    state = merge_passage_rollups(
        delta_passage_rollup(d1, "doc_id", "text", n=7),
        delta_passage_rollup(d2, "doc_id", "text", n=7),
    )
    got = {
        r["passage"]: (r["n_docs"], r["first_doc"])
        for r in passage_blocklist(state, min_docs=2).collect()
    }
    assert got.get(boiler) == (2, 1), got  # straddling pair FOUND
    assert all("rep tok" not in p for p in got)
    # invariant: chained merge == one-shot over the union
    oneshot = {
        r["passage"]: (r["n_docs"], r["first_doc"])
        for r in duplicated_passages(
            d1.unionByName(d2), "doc_id", "text", n=7, min_docs=2
        ).collect()
    }
    assert got == oneshot
