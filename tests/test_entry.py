

def test_registry_priority_order():
    """The driver's correctness gate samples queries() from the front;
    the highest-information entries must occupy the leading slots and
    every priority name must resolve (the assert inside _ordered_registry
    catches typos)."""
    import __spark_entry__ as m

    names = list(m.queries())
    assert names[: len(m._PRIORITY)] == m._PRIORITY
    assert len(names) == len(set(names)) == len(m._REG)
    # spot-pin the r15 gate window (freshness rotation, VERDICT r14
    # task 2): the six NEW r15 entries lead (vec_ann_recall — in-plan
    # ANN recall@10 eval; text_gopher_rules — the Gopher gate
    # battery; ml_alpha_sampling — XLM-R temperature sampling;
    # text_dup_apply — the APPLY half of exact-substring dedup;
    # ml_importance_weights — DSIR data-selection weights;
    # incremental_dup_passages — the maintained blocklist pinned
    # against the one-shot oracle), then q4_order_priority (flipped
    # to layout='auto' this round), then ALL 42 remaining r11-era
    # rows in registration order, then the first r12-era row.
    # After this window no query's latest driver row is older than
    # r12; exactly 48 r12-era rows remain to lead r16, starting
    # q3_bucketed_layout / q5_bucketed_layout / text_contamination
    # then cdc_time_travel.
    front = set(names[:50])
    for probe in ("vec_ann_recall", "text_gopher_rules", "ml_alpha_sampling",
                  "text_dup_apply", "ml_importance_weights",
                  "incremental_dup_passages", "q4_order_priority",
                  "scalar_conditional_lineitem", "pivot_priority_status",
                  "cdc_incremental_scan", "cdc_watermark_next",
                  "cdc_watermark_upsert", "cdc_serialize_rows",
                  "cdc_chunk_documents", "cdc_snapshot_latest",
                  "asof_join_purchase_click", "cdc_catalog_watermark_join",
                  "window_ranking_suite", "string_similarity_parts",
                  "dedup_exact", "dedup_minhash_signatures",
                  "dedup_lsh_candidates", "dedup_lsh_candidates_capped",
                  "dedup_winnow_fingerprints", "dedup_winnow_candidates",
                  "dedup_setsim_exact", "dedup_simhash",
                  "dedup_simhash_neardup", "ml_split_leakage_safe",
                  "dedup_cluster_survivors", "dedup_cluster_best_survivors",
                  "dedup_jaccard_consecutive", "dedup_minhash_est_jaccard",
                  "text_scrub_pii", "text_repetition_ratio",
                  "cohort_retention_orders", "text_normalize_stopwords",
                  "text_top_bigram_per_lang", "vec_l2_normalize",
                  "text_fingerprint", "vec_label_norms",
                  "array_ops_documents", "map_ops_events",
                  "array_hof_documents", "array_posexplode_tokens",
                  "text_bpe_regex_tokens", "embed_documents",
                  "search_end_to_end", "incremental_ivf_cells",
                  "agg_decimal_exact_pricing"):
        assert probe in front, probe
    assert m._PRIORITY[0] == "vec_ann_recall"  # NEW r15, leads
    assert m._PRIORITY[1] == "text_gopher_rules"  # NEW r15
    assert m._PRIORITY[2] == "ml_alpha_sampling"  # NEW r15
    assert m._PRIORITY[3] == "text_dup_apply"  # NEW r15
    assert m._PRIORITY[4] == "ml_importance_weights"  # NEW r15
    assert m._PRIORITY[5] == "incremental_dup_passages"  # NEW r15
    assert m._PRIORITY[6] == "q4_order_priority"  # auto-gate proof #2
    assert m._PRIORITY[7] == "scalar_conditional_lineitem"  # first r11-era
    assert m._PRIORITY[48] == "incremental_ivf_cells"  # last r11-era
    assert m._PRIORITY[49] == "agg_decimal_exact_pricing"  # last slot (first r12-era)
    # slot 51 = the first past-window name — pinned so a silent
    # registration reshuffle (which would change what the driver
    # samples next round) fails loudly (ADVICE r10: the prior
    # `names[50] not in _PRIORITY` form was vacuous).
    assert names[50] not in m._PRIORITY
    assert names[50] == "q1_pricing_summary"  # first registered non-window name


def test_queries_md_total_in_sync():
    """VERDICT r7 item 6: the documented registry total must equal the
    live registry (QUERIES.md is generated by tools/gen_queries_md.py;
    this pins it against going stale when a query lands without a
    regeneration)."""
    import os
    import re

    import __spark_entry__ as m

    md = open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "QUERIES.md")).read()
    got = re.search(r"Total: (\d+) queries; (\d+) DuckDB-oracle-backed", md)
    assert got, "QUERIES.md missing the generated Total line"
    assert int(got.group(1)) == len(m.queries()), (
        "QUERIES.md stale — run tools/gen_queries_md.py"
    )
    assert int(got.group(2)) == len(m.oracle_sql())
    # and every registered query has a table row
    assert len(re.findall(r"^\| \d+ \| `", md, flags=re.M)) == len(m.queries())
    # COVERAGE.md's LAST per-round "Registry: N queries / M
    # oracle-backed" line must match the live registry too (VERDICT
    # r13 task 6: the coverage doc is the operator map the judge
    # audits against — its tail section must carry the current total).
    cov = open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "COVERAGE.md")).read()
    lines = re.findall(r"Registry: (\d+) queries / (\d+) oracle-backed", cov)
    assert lines, "COVERAGE.md missing Registry total lines"
    assert int(lines[-1][0]) == len(m.queries()), (
        "COVERAGE.md stale — append/refresh the current round's section"
    )
    assert int(lines[-1][1]) == len(m.oracle_sql())
    # README's driver-contract line too (was hand-synced each round)
    rd = open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "README.md")).read()
    got_rd = re.search(r"entry\(\) \+ (\d+) queries, all (\d+) with DuckDB oracles", rd)
    assert got_rd, "README.md missing the driver-contract count line"
    assert int(got_rd.group(1)) == len(m.queries()), "README.md count stale"
    assert int(got_rd.group(2)) == len(m.oracle_sql())


def test_multigrain_rollup_null_ts_grain_is_structural(spark, tmp_path):
    """Regression (ADVICE r4): the rollup's grain label derives from
    F.grouping(), not bucket NULL-ness — a NULL ts must yield ONE
    'hour' NULL-bucket row and ONE 'day' NULL-bucket row per
    event_type, never two 'day' rows (duplicate output keys)."""
    import os

    import pandas as pd

    import __spark_entry__ as m

    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:10:00", "2024-01-01 05:10:00", pd.NaT]
            ),
            "event_type": ["click", "click", "click"],
            "value": [1.0, 2.0, 4.0],
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(os.path.join(src, "events.parquet"), index=False)

    out = m.queries()["timeseries_multigrain_rollup"](spark, src).collect()
    null_rows = [(r["grain"], r["n"], r["val_sum"]) for r in out if r["bucket_us"] is None]
    assert sorted(null_rows) == [("day", 1, 4.0), ("hour", 1, 4.0)]
    day_rows = [r for r in out if r["grain"] == "day" and r["bucket_us"] is not None]
    assert len(day_rows) == 1 and day_rows[0]["n"] == 2  # both non-null ts same day


def test_scratch_dir_gate(monkeypatch):
    """bench.scratch_dir must fail CLOSED: tmpfs scratch only when
    free space covers 8x the input (shuffle+spill can never fill
    RAM); anything else — tight headroom, statvfs failure — falls
    back to Spark's default local dir, the behavior a real-scale
    deploy needs."""
    import os

    import bench

    free = os.statvfs("/dev/shm").f_bavail * os.statvfs("/dev/shm").f_frsize
    d = bench.scratch_dir(free // 16)
    assert d is not None and d.startswith("/dev/shm") and os.path.isdir(d)
    assert bench.scratch_dir(free) is None  # 8x headroom would exceed free

    def boom(_):
        raise OSError("no statvfs")

    monkeypatch.setattr(bench.os, "statvfs", boom)
    assert bench.scratch_dir(1) is None


def test_sized_session_large_regime_policies(spark, tmp_path):
    """The >=1 GiB (AQE-on) bench regime is load-bearing after r9's
    sf10 findings: AQE must be ON, the ADAPTIVE broadcast threshold
    must sit at 32 MiB (the static 4 MiB alone capped AQE's runtime
    re-promotion and cost q3/q19 a 18-22x super-linear blowup at
    sf10), and shuffled-hash must be preferred over sort-merge. A
    sparse file gives the regime without 1.7 GB of fixture data —
    sized_session sizes off os.path.getsize, which reports apparent
    size. Then the policy is called for the sf0.1 input by byte count
    (no data): every regime conf must be what that call alone sets."""
    import bench

    # sized_session and size_regime mutate the shared session: snapshot
    # every runtime conf before anything changes, and put each one back
    # (or unset it) afterwards so later tests keep the fixture's session
    saved = {k: v for k, v in spark.conf.getAll.items() if spark.conf.isModifiable(k)}
    try:
        big = tmp_path / "sparse.parquet"
        with open(big, "wb") as fh:
            fh.truncate(2 * 1024 * 1024 * 1024)
        s = bench.sized_session(str(tmp_path), app_name="policy_probe")
        assert s.conf.get("spark.sql.adaptive.enabled") == "true"
        assert s.conf.get("spark.sql.autoBroadcastJoinThreshold") == str(4 << 20)
        assert s.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold") == str(32 << 20)
        assert s.conf.get("spark.sql.join.preferSortMergeJoin") == "false"
        # width = bytes/8MiB clamped to [16,256]; 2 GiB hits the clamp
        assert s.conf.get("spark.sql.shuffle.partitions") == "256"

        # one policy for every regime: sizing for the sf0.1 input after
        # the >=1 GiB one leaves every regime conf exactly as sizing for
        # sf0.1 alone does — nothing of the large regime lingers
        sf01_bytes = 17_508_506  # on-disk size of the sf0.1 fixture
        big_confs = bench.size_regime(s, 2 * 1024 * 1024 * 1024)
        after_big = bench.size_regime(s, sf01_bytes)
        assert set(after_big) == set(big_confs)
        got = {k: s.conf.get(k) for k in after_big}
        for k in after_big:
            s.conf.unset(k)
        bench.size_regime(s, sf01_bytes)
        assert got == {k: s.conf.get(k) for k in after_big}
        assert got["spark.sql.adaptive.enabled"] == "false"
        assert got["spark.sql.join.preferSortMergeJoin"] == "true"  # Spark default
    finally:
        for k in spark.conf.getAll:
            if spark.conf.isModifiable(k) and k not in saved:
                spark.conf.unset(k)
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_conf_pinned_session_drops_confs_unset_on_parent(spark):
    """A conf synced into the memoized child on one call and unset on
    the parent before the next must not linger in the child at its
    stale value (ADVICE r16)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.session import (
        conf_pinned_session,
    )

    key = "spark.sql.files.maxRecordsPerFile"
    pin = {"spark.sql.execution.arrow.maxRecordsPerBatch": "123"}
    spark.conf.set(key, "77")
    try:
        child = conf_pinned_session(spark, pin)
        assert child.conf.get(key) == "77"
    finally:
        spark.conf.unset(key)
    assert conf_pinned_session(spark, pin) is child  # memoized
    assert child.conf.get(key) == spark.conf.get(key) == "0"
    assert child.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "123"


def test_q1_decimal_guard_branch_matches_long_branch(spark):
    """The 100 TB wrap guard (r13): past _Q1_DECIMAL_ROW_GATE footer
    rows q1's cents sums switch to DECIMAL(38,0). Both branches must
    produce identical values and schema wherever both are exact (the
    fixture is far below the wrap), so the gate can never change a
    result — only extend exactness headroom."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    plain = m.queries()["q1_pricing_summary"](spark, sf)
    saved = m._Q1_DECIMAL_ROW_GATE
    m._Q1_DECIMAL_ROW_GATE = -1
    try:
        # raw fn, not the registry wrapper — the per-session plan
        # cache would return the already-built long-branch DataFrame
        dec = m.q1_pricing_summary(spark, sf)
        plan = dec._jdf.queryExecution().executedPlan().toString()
        assert "decimal(38,0)" in plan, plan[:800]
        assert dec.schema == plain.schema
        assert sorted(map(tuple, dec.collect())) == sorted(map(tuple, plain.collect()))
    finally:
        m._Q1_DECIMAL_ROW_GATE = saved
