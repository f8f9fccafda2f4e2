"""Property-based tests (hypothesis) for the engine's custom library
code — the parts Catalyst doesn't guarantee for us (SURVEY §5)."""

from __future__ import annotations

import os
import sys

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators import cdc  # noqa: E402
from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.dedup import (  # noqa: E402
    exact_dedup,
)

# hypothesis drives Spark jobs — keep example counts small, no deadline.
_SETTINGS = dict(max_examples=8, deadline=None)


@settings(**_SETTINGS)
@given(
    n_rows=st.integers(min_value=1, max_value=257),
    chunk_size=st.integers(min_value=1, max_value=100),
)
def test_chunking_partitions_rows_exactly(spark_g, n_rows, chunk_size):
    """Chunks partition the input: sizes sum to n, every chunk but the
    last is full, keys are contiguous and ordered."""
    df = spark_g.createDataFrame([(i, f"t{i}") for i in range(n_rows)], "k long, txt string")
    chunks = cdc.chunk_documents(df, "k", "txt", "t", chunk_size=chunk_size).collect()
    rows = sorted((r["first_key"], r["last_key"], r["n_rows"]) for r in chunks)
    assert sum(r[2] for r in rows) == n_rows
    for first, last, n in rows[:-1]:
        assert n == chunk_size
    # contiguity: next chunk starts right after the previous ends
    for (f1, l1, _), (f2, _, _) in zip(rows, rows[1:]):
        assert f2 == l1 + 1
    assert rows[0][0] == 0


@settings(**_SETTINGS)
@given(
    updates=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(min_value=1, max_value=50)),
        min_size=1,
        max_size=12,
    )
)
def test_watermark_upsert_keeps_highest_version(spark_g, updates):
    base = spark_g.createDataFrame(
        [("a", "v0", 0), ("b", "v0", 0), ("c", "v0", 0)],
        "table_name string, last_updated string, version int",
    )
    ups = spark_g.createDataFrame(
        [(k, f"v{v}", v) for k, v in updates],
        "table_name string, last_updated string, version int",
    )
    merged = cdc.watermark_upsert(base, ups).collect()
    expected_version = {"a": 0, "b": 0, "c": 0}
    for k, v in updates:
        expected_version[k] = max(expected_version[k], v)
    got = {r["table_name"]: r["version"] for r in merged}
    assert got == expected_version
    assert len(merged) == 3  # one row per key, always


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=12).map(lambda s: s.strip() or "a"),
        min_size=1,
        max_size=10,
    )
)
def test_exact_dedup_keeps_one_per_content(spark_g, texts):
    df = spark_g.createDataFrame(list(enumerate(texts)), "id long, txt string")
    out = exact_dedup(df, "txt", "id").collect()
    assert len(out) == len(set(texts))
    # winner is the smallest id of its content class
    for r in out:
        assert r["id"] == min(i for i, t in enumerate(texts) if t == r["txt"])


def test_snapshot_latest_is_maximal(spark, sf_dir):
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.sources import load_table

    e = load_table(spark, sf_dir, "events")
    snap = cdc.snapshot_latest(e, ["user_id"], "ts", tiebreak="event_id")
    per_user_max = e.groupBy("user_id").agg(F.max("ts").alias("mx"))
    joined = snap.join(per_user_max, "user_id")
    assert joined.filter(F.col("ts") != F.col("mx")).count() == 0
    assert snap.count() == e.select("user_id").distinct().count()


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),    # key
            st.integers(min_value=0, max_value=10),   # change
            st.integers(min_value=0, max_value=10),   # tiebreak
            st.integers(min_value=0, max_value=99),   # payload
        ),
        min_size=1,
        max_size=60,
    )
)
def test_snapshot_latest_matches_window_form(spark_g, rows):
    """Property: the max_by hash-aggregate snapshot (r5) is
    row-identical to the row_number-window formulation it replaced,
    including duplicate (change, tiebreak) orderings within a key —
    both then pick the lexicographic (change, tiebreak) maximum, and
    the surviving payload must come from that same maximal row set."""
    from pyspark.sql import Window

    df = spark_g.createDataFrame(rows, "k int, change int, tb int, payload int")
    got = sorted(map(tuple, cdc.snapshot_latest(df, ["k"], "change", tiebreak="tb").collect()))

    w = Window.partitionBy("k").orderBy(F.col("change").desc(), F.col("tb").desc())
    ref = sorted(
        map(
            tuple,
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .collect(),
        )
    )
    # (k, change, tb) triples must agree exactly; payload may differ
    # only where the input had exact (k, change, tb) duplicates (both
    # forms then pick an arbitrary member of the tied set)
    assert [r[:3] for r in got] == [r[:3] for r in ref]
    tied = {(k, c, t) for (k, c, t, _p) in rows
            if sum(1 for (k2, c2, t2, _q) in rows if (k2, c2, t2) == (k, c, t)) > 1}
    for g, r in zip(got, ref):
        if g[:3] not in tied:
            assert g == r


def test_unigram_surprisal_orders_rare_above_common(spark):
    """A doc of corpus-unique tokens must out-score a doc made of the
    corpus's most common token, and every score is positive (it's a
    negative log of a probability < 1)."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.text import (
        unigram_surprisal,
    )

    common = " ".join(["the"] * 20)
    rare = " ".join(f"zq{i}xv" for i in range(20))
    filler = [(10 + i, "the quick brown fox jumps over the lazy dog") for i in range(5)]
    df = spark.createDataFrame(
        [(1, common), (2, rare)] + filler, ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["surprisal"] for r in
           unigram_surprisal(df, "doc_id", "text").collect()}
    assert got[2] > got[1] > 0
    n_toks = {r["doc_id"]: r["n_tokens"] for r in
              unigram_surprisal(df, "doc_id", "text").collect()}
    assert n_toks[1] == n_toks[2] == 20


def test_importance_weights_match_brute_force_and_rank_target_alike(spark):
    """importance_weights (NEW r15 — DSIR unigram log-ratio scoring):
    exact match against a pure-Python recount of the planted fixture,
    and the ordering property that motivates the operator — a corpus
    doc written in the target's vocabulary outweighs one written in
    off-target vocabulary."""
    import math
    from collections import Counter

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.text import (
        importance_weights,
    )

    corpus = [
        (1, "physics maths proofs theorems lemmas"),
        (2, "celebrity gossip fashion scandal rumor"),
        (3, "physics gossip maths fashion proofs"),
        (4, "theorems theorems proofs maths physics"),
    ]
    target = [(100, "physics proofs theorems maths lemmas physics")]
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    tdf = spark.createDataFrame(target, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["weight"])
        for r in importance_weights(df, tdf, "doc_id", "text").collect()
    }
    # brute force
    ctoks = [t for _, x in corpus for t in x.split()]
    ttoks = [t for _, x in target for t in x.split()]
    cc, tc = Counter(ctoks), Counter(ttoks)
    vocab = set(cc) | set(tc)
    nc, nt, v = len(ctoks), len(ttoks), len(vocab)
    lr = {
        w: math.log((tc[w] + 1.0) / (nt + v)) - math.log((cc[w] + 1.0) / (nc + v))
        for w in vocab
    }
    for i, x in corpus:
        toks = x.split()
        want = sum(lr[t] for t in toks)
        n, w = got[i]
        assert n == len(toks)
        assert abs(w - want) < 1e-9, (i, w, want)
    # target-alike ranks above off-target; mixed sits between
    assert got[1][1] > got[3][1] > got[2][1]


def test_bigram_surprisal_backoff_flags_scrambled_text(spark):
    """Under a held-out bigram LM, a scrambled permutation of training
    vocabulary (normal unigram stats, unattested bigrams) must score
    higher than a doc repeating attested bigrams — the junk signal the
    unigram filter cannot see. Also pins that backoff actually fires:
    with train == score the same doc scores strictly lower."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.text import (
        bigram_surprisal,
    )

    sent = "the quick brown fox jumps over the lazy dog"
    train = spark.createDataFrame([(i, sent) for i in range(10)], ["doc_id", "text"])
    score = spark.createDataFrame(
        [(100, sent), (101, "dog the over fox lazy quick jumps brown the")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["surprisal"] for r in
           bigram_surprisal(score, "doc_id", "text", train_df=train).collect()}
    assert got[101] > got[100] > 0

    selfsc = {r["doc_id"]: r["surprisal"] for r in
              bigram_surprisal(score.filter("doc_id = 101"), "doc_id", "text").collect()}
    # self-scoring attests every bigram -> no backoff -> lower surprisal
    assert selfsc[101] < got[101]


@settings(**_SETTINGS)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["I", "U", "D"]),
            st.sampled_from(["a", "b", "c"]),
            st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_changelog_maintenance_matches_model(spark_g, ops):
    """Random I/U/D sequences: the maintained (rollup_rows, sum) per
    key must equal a python dict-model replay. Ops are made
    SELF-CONSISTENT (U/D use the model's current value as the before
    image; U/D on an absent key are skipped; I assigns the drawn
    value) — exactly the contract a real changelog satisfies."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        changelog_delta_rollup,
        delta_rollup,
        merge_rollups,
    )

    model: dict[str, list] = {"a": [], "b": [], "c": []}
    rows = []
    for op, k, v in ops:
        if op == "I":
            model[k].append(v)
            rows.append((k, "I", None, v))
        elif model[k]:
            before = model[k][0]
            if op == "D":
                model[k].pop(0)
                rows.append((k, "D", before, None))
            else:
                model[k][0] = v
                rows.append((k, "U", before, v))
    if not rows:
        return
    log = spark_g.createDataFrame(
        rows, "k string, op string, before_v long, after_v long"
    )
    measures = {"v": "sum"}
    empty = delta_rollup(
        spark_g.createDataFrame([], "k string, v long"), ["k"], measures
    )
    state = merge_rollups(
        empty, changelog_delta_rollup(log, ["k"], measures), ["k"], measures
    )
    got = {r["k"]: (r["rollup_rows"], r["sum_v"]) for r in state.collect()}
    for k, vals in model.items():
        want_n = len(vals)
        want_sum = sum(v for v in vals if v is not None)
        if k in got:
            g_n, g_sum = got[k]
            assert g_n == want_n, (k, got[k], vals)
            assert (g_sum or 0) == want_sum, (k, got[k], vals)
        else:
            assert want_n == 0 and want_sum == 0


@settings(**_SETTINGS)
@given(
    drop=st.sets(st.integers(min_value=0, max_value=60), max_size=8),
    change=st.sets(st.integers(min_value=0, max_value=60), max_size=8),
    extra=st.sets(st.integers(min_value=100, max_value=130), max_size=5),
)
def test_store_diff_matches_set_model(spark_g, drop, change, extra):
    """store_diff vs the obvious set model under random perturbations:
    dropped keys -> missing, changed payloads -> changed, added keys
    -> extra, everything else absent — regardless of which digest
    buckets the perturbations land in."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.cdc import (
        store_diff,
    )

    src_rows = [(i, i * 3) for i in range(61)]
    src = spark_g.createDataFrame(src_rows, "id long, v long")
    dst_rows = [
        (i, v + (1 if i in change else 0)) for i, v in src_rows if i not in drop
    ] + [(i, 0) for i in extra]
    dst = spark_g.createDataFrame(dst_rows, "id long, v long")
    got = {
        r["id"]: r["status"]
        for r in store_diff(src, dst, ["id"], num_buckets=8).collect()
    }
    want = {i: "missing" for i in drop}
    want.update({i: "changed" for i in change if i not in drop})
    want.update({i: "extra" for i in extra})
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(0, 30),                       # doc id
            st.lists(st.sampled_from(["a", "b", "c", "x", "y"]), min_size=1, max_size=12),
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=20, deadline=None)
def test_bm25_matches_python_model(spark_g, docs):
    """bm25_scores vs a direct python BM25 (same Lucene idf, k1=1.2,
    b=0.75) over random small corpora — per-doc scores agree to 1e-9
    and exactly the term-matching docs appear."""
    import math

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.text import (
        bm25_scores,
    )

    terms = ["a", "b"]
    df = spark_g.createDataFrame(
        [(i, " ".join(toks)) for i, toks in docs], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(df, "doc_id", "text", terms).collect()
    }

    n = len(docs)
    avgdl = sum(len(t) for _, t in docs) / n
    dfreq = {t: sum(1 for _, toks in docs if t in toks) for t in terms}
    k1, b = 1.2, 0.75
    want = {}
    for i, toks in docs:
        s = 0.0
        matched = False
        for t in terms:
            tf = toks.count(t)
            if tf == 0:
                continue
            matched = True
            idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(toks) / avgdl))
        if matched:
            want[i] = s
    assert set(got) == set(want)
    assert all(abs(got[i] - want[i]) < 1e-9 for i in want)


@given(
    st.lists(
        st.lists(
            st.tuples(st.integers(0, 15), st.floats(0, 100, allow_nan=False)),
            min_size=1, max_size=10, unique_by=lambda t: t[0],
        ),
        min_size=1, max_size=3,
    )
)
@settings(max_examples=20, deadline=None)
def test_rrf_fuse_matches_python_model(spark_g, lists_):
    """rrf_fuse vs direct python RRF over random candidate lists:
    ranks from (score desc, id) ordering, absent items contribute
    nothing, fused scores agree to 1e-12."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.vectors import (
        rrf_fuse,
    )

    frames = [
        spark_g.createDataFrame(lst, ["doc_id", "score"]) for lst in lists_
    ]
    got = {r["doc_id"]: r["rrf_score"] for r in rrf_fuse(frames, "doc_id", k=60).collect()}

    want: dict[int, float] = {}
    for lst in lists_:
        ordered = sorted(lst, key=lambda t: (-t[1], t[0]))
        for rank, (i, _s) in enumerate(ordered, 1):
            want[i] = want.get(i, 0.0) + 1.0 / (60 + rank)
    assert set(got) == set(want)
    assert all(abs(got[i] - want[i]) < 1e-12 for i in want)


@given(
    st.lists(st.sampled_from(["a", "b", "c", "d", "e", "f", "g"]), min_size=3, max_size=60),
    st.integers(2, 4),
)
@settings(max_examples=20, deadline=None)
def test_misra_gries_matches_python_model(spark_g, stream, k):
    """delta/merge_topk_rollups vs a python replay of the SAME
    deterministic reduction over a 2-tick split — exact equality (the
    reduction rule IS the contract), plus the MG lower-bound check
    against true frequencies."""
    from collections import Counter

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.incremental import (
        delta_topk_rollup,
        merge_topk_rollups,
    )

    def reduce_py(counts: dict) -> dict:
        ranked = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
        ck1 = ranked[k][1] if len(ranked) > k else 0
        return {i: c - ck1 for i, c in ranked[:k] if c - ck1 > 0}

    ticks_py = [stream[0::2], stream[1::2]]
    state_py = reduce_py(Counter(ticks_py[0]))
    s2 = reduce_py(Counter(ticks_py[1]))
    merged = Counter(state_py)
    merged.update(s2)
    state_py = reduce_py(dict(merged))

    rows = [(1, it, pos) for pos, it in enumerate(stream)]
    df = spark_g.createDataFrame(rows, ["g", "item", "pos"])
    t0 = df.filter(F.col("pos") % 2 == 0).drop("pos")
    t1 = df.filter(F.col("pos") % 2 == 1).drop("pos")
    state = merge_topk_rollups(
        delta_topk_rollup(t0, ["g"], "item", k=k),
        delta_topk_rollup(t1, ["g"], "item", k=k),
        ["g"], "item", k=k,
    )
    got = {r["item"]: r["cnt"] for r in state.collect()}
    assert got == state_py
    true = Counter(stream)
    assert all(got[i] <= true[i] for i in got)


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3", "zz"]),   # step types + noise
            st.integers(0, 40),                          # seconds offset
        ),
        min_size=1,
        max_size=14,
    ),
    st.integers(3, 12),                                  # gap seconds
)
@settings(max_examples=25, deadline=None)
def test_funnel_maximal_matches_bruteforce(spark_g, events, gap):
    """sequence_funnel_maximal vs itertools brute force over every
    candidate chain: per-prefix minima and completion existence must
    match exactly — this is what validates the DP's max-witness
    pruning (keep only the LARGEST feasible prefix end time as the
    witness) against literal enumeration, including same-instant
    events and gap-boundary chains."""
    import datetime as dt
    from itertools import product

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.relational import (
        sequence_funnel_maximal,
    )

    steps = ["s1", "s2", "s3"]
    base = dt.datetime(2024, 1, 1)
    rows = [(1, base + dt.timedelta(seconds=s), t) for t, s in events]
    df = spark_g.createDataFrame(rows, ["u", "ts", "et"])
    got = {r["u"]: (r["t1"], r["t2"], r["t3"])
           for r in sequence_funnel_maximal(df, "u", "ts", "et", steps, gap).collect()}

    by_step = {s: sorted(sec for t, sec in events if t == s) for s in steps}
    want = [None, None, None]
    for k in (1, 2, 3):
        cands = [by_step[s] for s in steps[:k]]
        best = None
        for chain in product(*cands):
            ok = all(
                chain[i] > chain[i - 1] and chain[i] <= chain[i - 1] + gap
                for i in range(1, k)
            )
            if ok:
                best = chain[-1] if best is None else min(best, chain[-1])
        want[k - 1] = best

    if want[0] is None:
        assert 1 not in got                       # no step-1 event: no row
    else:
        exp = tuple(
            base + dt.timedelta(seconds=w) if w is not None else None for w in want
        )
        assert got[1] == exp


@settings(max_examples=25, deadline=None)  # pure python+duckdb: no Spark jobs
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("abcdefgh \t\nXYZ019.,-#"),
            min_size=0,
            max_size=24,
        ),
        min_size=0,
        max_size=12,
    )
)
def test_embed_fallback_oracle_is_float32_bit_exact(texts):
    """The embed_documents/search_end_to_end oracles hinge on the
    DuckDB SQL replica of _hash_featurize being BIT-EXACT at the
    float32 component level (r11). Property-checked over random
    texts — including empties, runs of spaces, punctuation-glued
    tokens and repeated tokens — not just the fixture corpus."""
    import duckdb
    import numpy as np

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.streaming.pipeline import (
        EMBED_DIM,
        _hash_featurize,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO docs VALUES (?, ?)", list(enumerate(texts)) or [(0, "")]
    )
    rows = con.sql(
        r"""
        WITH tok AS (SELECT doc_id,
                            unnest(regexp_split_to_array(text, '\s+')) AS t
                     FROM docs),
        h AS (SELECT doc_id,
                     ('0x' || substr(md5(t), 1, 15))::BIGINT % 384 AS idx
              FROM tok WHERE t <> ''),
        k AS (SELECT doc_id, idx, count(*)::BIGINT AS k FROM h GROUP BY 1, 2),
        n AS (SELECT doc_id, sqrt(sum(k * k)) AS nrm FROM k GROUP BY 1)
        SELECT k.doc_id, k.idx,
               CAST(-(k.k::DOUBLE) / n.nrm AS FLOAT) AS c
        FROM k JOIN n USING (doc_id)
        """
    ).fetchall()
    duck = {}
    for did, idx, c in rows:
        duck.setdefault(did, {})[idx] = c
    vecs = _hash_featurize(texts or [""]).astype(np.float32)
    for did, v in enumerate(vecs):
        py = {j: float(v[j]) for j in range(EMBED_DIM) if v[j] != 0}
        assert py == duck.get(did, {}), (did, texts[did] if texts else "")


@settings(**_SETTINGS)
@given(
    vecs=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.floats(
                    min_value=-1e3, max_value=1e3,
                    allow_nan=False, allow_infinity=False, width=32,
                ),
                min_size=0, max_size=9,
            ),
        ),
        min_size=1, max_size=12,
    ),
    dim=st.integers(min_value=1, max_value=9),
)
def test_explode_cosine_kernel_bit_matches_hof_fold(spark_g, vecs, dim):
    """The r12 JVM explode cosine kernel's bit-exactness claim is
    STRUCTURAL (exploded elements fold in pos order inside the partial
    hash aggregate); this pins it over random vectors, not just the
    fixture: raw doubles equal the HOF ``cosine_sim`` fold exactly,
    including NULL vectors (NULL score) and ragged/empty vectors.
    Vectors are truncated/padded to a common dim because the kernels'
    contract is uniform-dim input; empties stay empty to keep the
    zero-norm branch covered."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.vector import (
        cosine_scores_explode,
        cosine_sim,
        lit_double_array,
    )

    shaped = [
        None if v is None else ([float(x) for x in (v + [0.0] * dim)[:dim]] if v else [])
        for v in vecs
    ]
    df = spark_g.createDataFrame(
        [(i, v) for i, v in enumerate(shaped)], "vec_id long, embedding array<float>"
    )
    q = [1.0 + 0.5 * j for j in range(dim)]
    a = {
        r["vec_id"]: r["score"]
        for r in df.select(
            "vec_id",
            cosine_sim(F.col("embedding"), lit_double_array(q)).alias("score"),
        ).collect()
    }
    x = {
        r["vec_id"]: r["score"]
        for r in cosine_scores_explode(df, ["vec_id"], "embedding", q).collect()
    }
    assert set(a) == set(x)
    for k in a:
        assert a[k] == x[k], (k, shaped[k], a[k], x[k])  # bit-equal, not approx


def test_arrow_stack_pads_empty_vectors_in_a_mixed_batch():
    """An Arrow batch can hold empty vectors next to full-width ones
    (which rows share a batch depends on partitioning): the kernels'
    stacking pads empties, like NULLs, to zero rows of the batch's
    width instead of failing the whole batch."""
    import pandas as pd

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.functions.vector import (
        _stack,
    )

    for batch in ([[], [0.0, 2.0]], [None, [], [0.0, 2.0]]):
        mat, mask = _stack(pd.Series(batch))
        assert mat.tolist()[-2:] == [[0.0, 0.0], [0.0, 2.0]]
        assert mask.tolist() == [x is None for x in batch]


def test_alpha_sampling_matches_brute_force_and_limits(spark):
    """alpha_sampling (NEW r15 — XLM-R temperature sampling): exact
    match against a pure-Python recount of the planted fixture, plus
    the two limit identities that define the knob — alpha=1 leaves
    natural proportions (factor 1 everywhere), alpha=0 targets the
    uniform distribution."""
    import math

    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.sampling import (
        alpha_sampling,
    )

    sizes = {"en": [50, 70, 80], "fr": [20, 20], "zh": [5]}
    rows = [(s, n) for s, ns in sizes.items() for n in ns]
    df = spark.createDataFrame(rows, ["source", "n_tok"])

    got = {
        r["source"]: r.asDict()
        for r in alpha_sampling(df, "source", "n_tok", alpha=0.3).collect()
    }
    per = {s: sum(ns) for s, ns in sizes.items()}
    total = sum(per.values())
    pa = {s: math.exp(0.3 * math.log(n / total)) for s, n in per.items()}
    z = sum(pa.values())
    for s, n in per.items():
        g = got[s]
        assert g["n_tokens"] == n
        assert abs(g["p_natural"] - n / total) < 1e-12
        assert abs(g["q_alpha"] - pa[s] / z) < 1e-12
        assert abs(g["sample_factor"] - (pa[s] / z) / (n / total)) < 1e-12
        assert abs(g["expected_tokens"] - (pa[s] / z) * total) < 1e-9
    # temperature flattens: the smallest source is up-sampled, the
    # largest down-sampled, and q preserves the size ordering
    assert got["zh"]["sample_factor"] > 1.0 > got["en"]["sample_factor"]
    assert got["en"]["q_alpha"] > got["fr"]["q_alpha"] > got["zh"]["q_alpha"]
    # alpha=1: q == p exactly (factor 1); alpha=0: q uniform
    nat = alpha_sampling(df, "source", "n_tok", alpha=1.0).collect()
    assert all(abs(r["sample_factor"] - 1.0) < 1e-12 for r in nat)
    uni = alpha_sampling(df, "source", "n_tok", alpha=0.0).collect()
    assert all(abs(r["q_alpha"] - 1.0 / len(sizes)) < 1e-12 for r in uni)


def test_gopher_rules_match_brute_force(spark):
    """gopher_rules (NEW r15 — the Rae et al. 2021 A1.1 gate battery):
    every rule and the conjunction match a pure-Python re-evaluation
    on planted documents that each violate exactly one rule."""
    from cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark.operators.text import (
        GOPHER_STOPWORDS,
        gopher_rules,
    )

    passing = "the quick brown fox jumps over lazy dogs again and " * 5  # 50 words
    docs = [
        (1, passing.strip()),
        (2, "the short doc"),  # violates word count
        (3, ("a " * 49 + "the").strip()),  # mean word len 1.08 -> fails
        (4, (passing + "# " * 20).strip()),  # symbol ratio > 0.1
        (5, (passing + "123 456 789 000 111 222 333 444 555 666 777 888 999 101 202").strip()),
        (6, "\n".join(["- " + passing.strip()] * 3)),  # all bullet lines
        (7, "\n".join([passing.strip() + " ..."] * 3)),  # all ellipsis lines
        (8, ("word " * 60).strip()),  # no stopwords
    ]
    got = {r["doc_id"]: r.asDict() for r in gopher_rules(
        spark.createDataFrame(docs, ["doc_id", "text"]), "doc_id", "text"
    ).collect()}

    import re

    for i, text in docs:
        toks = re.split(r"\s+", text.strip())
        lines = text.split("\n")
        n_words = len(toks)
        mean_wl = sum(len(t) for t in toks) / n_words
        n_sym = text.count("#") + text.count("...")
        alpha_frac = sum(1 for t in toks if re.search("[A-Za-z]", t)) / n_words
        bullet = sum(1 for l in lines if re.match(r"^(-|\*|•)", l.lstrip())) / len(lines)
        ellip = sum(1 for l in lines if l.rstrip().endswith("...")) / len(lines)
        stop = len({w for w in GOPHER_STOPWORDS if w in set(text.lower().split(" "))})
        want = {
            "r_word_count": 50 <= n_words <= 100_000,
            "r_mean_word_len": 3.0 <= mean_wl <= 10.0,
            "r_symbol_ratio": n_sym / n_words <= 0.1,
            "r_alpha_words": alpha_frac >= 0.8,
            "r_bullet_lines": bullet <= 0.9,
            "r_ellipsis_lines": ellip <= 0.3,
            "r_stopwords": stop >= 2,
        }
        g = got[i]
        assert g["n_words"] == n_words, (i, g["n_words"], n_words)
        assert abs(g["mean_word_len"] - round(mean_wl, 6)) < 1e-9, i
        for rule, exp in want.items():
            assert g[rule] == exp, (i, rule, g[rule], exp)
        assert g["keep"] == all(want.values()), i
    # each planted violation trips (doc 1 passes, the rest don't)
    assert got[1]["keep"] and not any(got[i]["keep"] for i in range(2, 9))
