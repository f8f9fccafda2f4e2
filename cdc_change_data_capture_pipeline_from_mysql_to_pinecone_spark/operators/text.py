"""Text-analysis operators (north-star "text analysis" surface).

Language ID (stopword heuristic), quality scoring, token counting,
and rolling-hash fingerprinting over a documents table — all JVM-side
``pyspark.sql.functions`` expressions (no Python in the hot path), so
they run inside whole-stage codegen and scale linearly with input
splits: no shuffle at all until an aggregation is requested.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deliberately small + deterministic (oracle-reproducible); a real
# deployment would swap in fastText or CLD3 behind the same column
# contract.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "que", "de", "es"],
}


def tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count (BPE-ish subword estimate ≈ chars/4 is
    exposed separately as bpe_token_estimate)."""
    return F.size(tokens(text))


def bpe_token_estimate(text: Column) -> Column:
    """Cheap BPE token-count estimate: ceil(len/4) — the standard
    chars-per-token rule of thumb, good enough for budget filters."""
    return F.ceil(F.length(text) / F.lit(4)).cast("long")


#: GPT-2-style pretokenizer pattern, RE2-compatible (no lookahead):
#: optional-space word | optional-space number | optional-space other.
BPE_SPLIT_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_regex_token_count(text: Column) -> Column:
    """BPE-ish pretokenizer count: the GPT-2-style split regex applied
    with regexp_extract_all — closer to a real tokenizer's pretoken
    stream than whitespace splitting, still pure JVM regex."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_SPLIT_PATTERN), 0)).cast("long")


def _marker_toks(text_lower: Column) -> Column:
    """Token array with single-space word boundaries, space-padded.
    Semantics are EXACTLY the old per-marker ``contains(' w ')`` chain
    (= the oracles' LIKE '% w %'): with the text space-padded, ' w '
    is a substring iff w appears as a complete token of
    split-on-single-space — tabs/newlines stay INSIDE tokens on both
    forms, and multi-space runs contribute empty tokens that match no
    marker. No array_distinct: array_intersect dedupes on its own."""
    padded = F.concat(F.lit(" "), text_lower, F.lit(" "))
    return F.split(padded, " ", -1)


def _marker_hits(text_lower: Column, words: list[str]) -> Column:
    """Number of DISTINCT marker words present — the old
    ``sum(contains(' w '))`` collapsed to one tokenize pass +
    array_intersect: len(words) separate substring scans per language
    left a ~5x gap to DuckDB's vectorized LIKE at sf10 (VERDICT r10
    task 5; measured -34% on the lang_id shape, identical output)."""
    return F.size(
        F.array_intersect(_marker_toks(text_lower), F.array(*[F.lit(w) for w in words]))
    )


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax over per-language stopword hits,
    'und' (undetermined) when nothing matches. One pass, pure exprs.
    The big token array intersects the UNION of all marker lexicons
    ONCE; per-language hits then intersect that ≤20-element ``found``
    array — measured -37% vs four full-width intersects at sf10
    (0.40 -> 0.25 s expression increment), bit-identical output."""
    lowered = F.lower(text)
    all_markers = sorted({w for ws in _LANG_MARKERS.values() for w in ws})
    found = F.array_intersect(
        _marker_toks(lowered), F.array(*[F.lit(w) for w in all_markers])
    )
    scores = [
        F.struct(
            F.size(
                F.array_intersect(found, F.array(*[F.lit(w) for w in words]))
            ).alias("hits"),
            F.lit(code).alias("code"),
        )
        for code, words in sorted(_LANG_MARKERS.items())
    ]
    best = F.array_max(F.array(*scores))
    return F.when(best.getField("hits") > 0, best.getField("code")).otherwise(F.lit("und"))


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Quality-scoring features per document: length, token counts,
    mean word length, punctuation/digit/uppercase ratios, stopword
    ratio, and a composite [0,1] quality score (heuristic used by
    C4/RefinedWeb-style cleaning pipelines)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    toks = tokens(t)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[\.,;:!\?]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    stop_hits = _marker_hits(F.lower(t), _LANG_MARKERS["en"])
    mean_word_len = (F.length(F.regexp_replace(t, r"\s+", "")) / n_tokens).cast("double")
    punct_ratio = (n_punct / n_chars).cast("double")
    digit_ratio = (n_digit / n_chars).cast("double")
    score = (
        F.when(n_tokens >= 5, 0.4).otherwise(0.0)
        + F.when((mean_word_len >= 3) & (mean_word_len <= 12), 0.3).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, 0.2).otherwise(0.0)
        + F.when(stop_hits > 0, 0.1).otherwise(0.0)
    )
    return df.select(
        "*",
        n_chars.alias("q_chars"),
        n_tokens.alias("q_tokens"),
        F.round(mean_word_len, 4).alias("q_mean_word_len"),
        F.round(punct_ratio, 4).alias("q_punct_ratio"),
        F.round(digit_ratio, 4).alias("q_digit_ratio"),
        stop_hits.alias("q_stopword_hits"),
        F.round(score, 2).alias("q_score"),
    )


def normalize_text(text: Column) -> Column:
    """Cleaning normal-form: lowercase, strip punctuation, collapse
    whitespace — the canonical form dedup/fingerprinting hash."""
    lowered = F.lower(F.trim(text))
    no_punct = F.regexp_replace(lowered, r"[\.,;:!\?]", "")
    return F.regexp_replace(no_punct, r"\s+", " ")


def remove_stopwords(toks: Column, stopwords: list[str] | None = None) -> Column:
    """Drop stopwords from a token array. A filter lambda, not
    array_except: except() is set-semantics and would also drop
    duplicate content tokens — here multiplicity and order survive."""
    words = stopwords if stopwords is not None else sorted(
        {w for ws in _LANG_MARKERS.values() for w in ws}
    )
    return F.filter(toks, lambda x: ~x.isin(words))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized,
    lowercased text — stable under reflow/casing changes, the id used
    for exact-dedup classes."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(normalized)


def token_budget_chunks(
    df: DataFrame,
    partition_col: str,
    order_col: str,
    text_col: str = "text",
    budget: int = 512,
) -> DataFrame:
    """Pack consecutive documents into chunks of ~``budget`` tokens
    (LLM-context packing): a document starts a new chunk when the
    running token total *before* it crosses a budget boundary. The
    boundary rule is a pure prefix-sum — ``chunk_id =
    floor(tokens_before / budget)`` — so it is deterministic,
    SQL-expressible, and needs one window over one shuffle on the
    partition column (vs. the sequential greedy packer, which cannot
    be parallelized at all).

    Generalizes the reference's fixed 100-row chunking
    (service.py:109-145) from row count to token budget.
    """
    from pyspark.sql import Window

    n_tok = F.size(tokens(F.col(text_col)))
    w = (
        Window.partitionBy(partition_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    # Integer `div`, not `/`: same exact-at-any-scale rule as
    # pack_sequences below (ADVICE r13 / VERDICT r14 "What's wrong" #1).
    return (
        df.withColumn("n_tokens", n_tok.cast("long"))
        .withColumn("_before", before.cast("long"))
        .withColumn("chunk_id", F.expr(f"_before div {int(budget)}"))
        .drop("_before")
    )


def pack_sequences(
    df: DataFrame,
    order_col: str,
    text_col: str = "text",
    budget: int = 2048,
    num_partitions: int | None = None,
) -> DataFrame:
    """Corpus-wide packing into fixed-token-budget TRAINING SEQUENCES
    in total ``order_col`` order — the pack-index every pretraining
    loader builds: concatenate docs in corpus order, cut every
    ``budget`` tokens, record for each doc which sequence its first
    token lands in (``seq_id``) and at what offset (``seq_offset``).
    Docs may straddle a boundary (loaders split them at read time);
    the assignment rule is the same pure prefix-sum as
    :func:`token_budget_chunks` — ``seq_id = floor(tokens_before /
    budget)`` — deterministic and SQL-expressible.

    What's different from token_budget_chunks is SCALE SHAPE: that
    operator windows per partition KEY; this one needs a running sum
    in TOTAL corpus order, and the naive form (one window over a
    global ORDER BY) sorts the whole corpus through ONE partition —
    the canonical scale killer. Instead it reuses
    relational.assign_dense_ids' mechanism with SUM in place of
    COUNT: range-repartition on the order key, one eager
    materialization (the offsets job and the final job must see the
    SAME sampled range boundaries), per-partition parallel running
    sums, then broadcast per-partition token-total offsets (one tiny
    collect of num_partitions longs). At 100 TB that is a
    distributed-sort-shaped plan: every stage data-parallel, driver
    state O(partitions).

    ``order_col`` must be a total order (unique) for deterministic
    ids."""
    from pyspark.sql import Window

    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.withColumn("n_tokens", token_count(F.col(text_col)).cast("long"))
        .repartitionByRange(parts, F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = ranged.groupBy("_pid").agg(F.sum("n_tokens").alias("_t")).collect()
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(totals, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = acc
        acc += r["_t"] or 0
    omap = F.create_map(
        *[F.lit(x) for pid_off in sorted(offsets.items()) for x in pid_off]
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) + omap[F.col("_pid")]
    # Integer `div`, not `/`: Spark's `/` is double division, exact only
    # below 2^53 cumulative tokens; `div` on longs matches the oracle's
    # integer `//` at any corpus size (ADVICE r13).
    return (
        ranged.withColumn("_before", before.cast("long"))
        .withColumn("seq_id", F.expr(f"_before div {int(budget)}"))
        .withColumn("seq_offset", F.expr(f"_before % {int(budget)}"))
        .drop("_pid", "_before")
    )


PII_PATTERNS = (
    # order matters: URLs before bare domains-in-emails etc.
    (r"https?://\S+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
)


def scrub_pii(text: Column) -> Column:
    """Redact URLs / emails / phone-shaped numbers — the standard
    pre-training scrub pass. Pure chained ``regexp_replace`` (JVM
    regex, codegen'd, no UDF): at 100 TB this is a map-only pass that
    pipelines into whatever scan feeds it. Patterns are deliberately
    simple and auditable; a production pass would extend the table,
    not the mechanism."""
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def repetition_ratio(df: DataFrame, id_col: str, text_col: str, n: int = 2) -> DataFrame:
    """Boilerplate/degenerate-text signal: fraction of the document's
    word n-grams occupied by its single most frequent n-gram (1.0 =
    pure repetition; ~1/count = diverse).

    Row-local form (r16, guide §2.4 "remove shuffles outright"): every
    n-gram of a document lives in that document's row, and the output
    carries no gram strings — so the whole statistic computes per row
    with ZERO exchanges. Sort the shingle array; the most frequent
    gram's count is the longest run of equal neighbors (run starts =
    positions where s[i] != s[i-1]; run lengths = deltas of
    consecutive starts). Two Generate barriers (the r15 pattern)
    materialize the sorted array and the run-start positions once so
    CollapseProject cannot re-evaluate the sort or the filter chain
    per reference. The pre-r16 form exploded (id, gram) pairs through
    a grouped count plus a second per-id aggregate — two exchanges
    whose payload was the gram STRINGS; interleaved per-rep-rebuilt
    A/B at sf10: 31.6 -> 26.0 s (0.82x), identical 500k rows
    (OPTIMIZATION_r16.md §3). At sf0.1 the per-row
    interpreted element ops read 1.13x — the win is the removed
    at-scale shuffle, not small-frame CPU.

    NULL-text documents are absent from the output (their shingle
    array is NULL), matching the old form's explode semantics."""
    from ..functions.hashing import word_shingles

    bar = df.select(
        F.col(id_col),
        F.explode(F.array(F.array_sort(word_shingles(F.col(text_col), n)))).alias(
            "_s"
        ),
    )
    s = F.col("_s")
    sz = F.size(s)
    starts = F.filter(
        F.sequence(F.lit(1), sz), lambda i: (i == 1) | (s[i - 1] != s[i - 2])
    )
    bar2 = bar.select(
        F.col(id_col), sz.alias("_n"), F.explode(F.array(starts)).alias("_starts")
    )
    bounds = F.concat(
        F.slice(F.col("_starts"), 2, F.size(F.col("_starts"))),
        F.array(F.col("_n") + 1),
    )
    max_run = F.array_max(F.zip_with(bounds, F.col("_starts"), lambda b, a: b - a))
    return bar2.filter(F.col("_n") > 0).select(
        F.col(id_col),
        F.round(max_run.cast("double") / F.col("_n").cast("double"), 4).alias(
            "rep_ratio"
        ),
        max_run.cast("long").alias("top_gram_count"),
        F.col("_n").cast("long").alias("total_grams"),
    )


def ngram_contamination(
    corpus: DataFrame,
    probe: DataFrame,
    corpus_id: str,
    probe_id: str,
    corpus_text: str,
    probe_text: str,
    n: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark-contamination check: which corpus documents share at
    least ``min_shared`` distinct word n-grams with any probe document
    (eval-set leakage detection for training corpora).

    Both sides explode to distinct n-grams and equi-join ON THE NGRAM
    — the shuffle key is the n-gram hash, candidate volume is bounded
    by real overlaps, and no document body ever crosses the wire twice.
    At 100 TB the probe side (an eval set) is small: Catalyst
    broadcasts it and the pass is map-only over the corpus."""
    from ..functions.hashing import word_shingles

    c = corpus.select(
        F.col(corpus_id),
        F.explode(F.array_distinct(word_shingles(F.col(corpus_text), n))).alias("_g"),
    )
    p = probe.select(
        F.col(probe_id),
        F.explode(F.array_distinct(word_shingles(F.col(probe_text), n))).alias("_g"),
    )
    return (
        c.join(p, "_g")
        .groupBy(corpus_id, probe_id)
        .agg(F.count(F.lit(1)).cast("long").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_shared)
    )


def duplicated_passages(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-PASSAGE detection — the corpus
    blocklist builder of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    word ``n``-gram passages appearing in at least ``min_docs``
    DISTINCT documents, with how many documents carry each and the
    lowest carrying id as a deterministic exemplar. Doc-level dedup
    (exact/MinHash/SimHash, operators.dedup) misses exactly this —
    boilerplate headers, license blocks, quoted chunks embedded in
    otherwise-unique documents; the output passage list is what a
    training loader filters or down-weights at read time.

    Output: (passage, n_docs, first_doc).

    Precondition: ``id_col`` is unique per input row (one row per
    document). ``n_docs`` is a plain COUNT over per-row-distinct
    grams, which equals the distinct-document count only under that
    contract; feeding duplicate-id rows over-counts carriers. Use
    ``countDistinct`` only if that contract must be relaxed — it
    trades the map-side partial combine for a distinct buffer.

    Shape for 100 TB: no join at all — one explode of per-doc DISTINCT
    n-grams (array_distinct makes each doc vote once, so COUNT is the
    distinct-doc count without a count-distinct buffer), then ONE
    hash aggregation keyed on the passage with map-side partial
    (count, min) combine. Shuffle volume is the distinct-gram stream —
    linear in corpus tokens; Zipf passage skew is absorbed by the
    partial agg (a billion-copy boilerplate line crosses the wire once
    per map partition, not once per occurrence). The full suffix-array
    construction of the paper is the offline-index alternative; this
    n-gram formulation is the streaming-friendly one and is exactly
    SQL-expressible for the oracle."""
    from ..functions.hashing import word_shingles

    grams = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), n))).alias(
            "passage"
        ),
    )
    return (
        grams.groupBy("passage")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min(id_col).cast("long").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def apply_passage_blocklist(
    df: DataFrame,
    blocklist: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    max_coverage: float = 0.2,
    passage_col: str = "passage",
) -> DataFrame:
    """APPLY a duplicated-passage blocklist to the corpus — the second
    half of exact-substring dedup (Lee et al. 2022): score every
    document by how much of it is blocklisted passage material and
    flag the ones to keep. :func:`duplicated_passages` builds the
    list; this consumes it. Per document: the count of its distinct
    word ``n``-grams, how many of those appear in ``blocklist``, the
    coverage ratio, and ``keep = coverage <= max_coverage`` (the
    drop-or-down-weight decision a training loader makes at read
    time — span REMOVAL needs token offsets and lives in the loader;
    the corpus-side contract is this per-doc coverage verdict).

    Output: (id_col, n_passages, n_dup_passages, dup_coverage, keep).

    Precondition: ``blocklist`` is unique on ``passage_col`` (true by
    construction for duplicated_passages output — it is a GROUP BY on
    the passage); a duplicated blocklist row would fan out the join
    and over-count.

    Shape for 100 TB: explode per-doc DISTINCT grams (same stream the
    builder aggregated), LEFT equi-join ON THE GRAM against the
    blocklist — shuffle key is the gram hash, AQE broadcasts the
    blocklist when it fits — then one per-doc hash agg with map-side
    partial (count, conditional count). No collect, no doc body ever
    crosses the wire, and the Zipf head costs one blocklist row per
    map partition, exactly like the builder."""
    from ..functions.hashing import word_shingles

    grams = df.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(word_shingles(F.col(text_col), n))
        ).alias("_g"),
    )
    bl = blocklist.select(
        F.col(passage_col).alias("_g"), F.lit(True).alias("_dup")
    )
    per_doc = (
        grams.join(bl, "_g", "left")
        .groupBy(id_col)
        .agg(
            F.count("_g").cast("long").alias("n_passages"),
            F.count(F.when(F.col("_dup"), F.lit(1)))
            .cast("long")
            .alias("n_dup_passages"),
        )
    )
    coverage = F.when(
        F.col("n_passages") > 0,
        F.col("n_dup_passages") / F.col("n_passages"),
    ).otherwise(F.lit(0.0))
    return per_doc.withColumn(
        "dup_coverage", coverage.cast("double")
    ).withColumn("keep", F.col("dup_coverage") <= F.lit(float(max_coverage)))


def importance_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    target_text_col: str | None = None,
    smoothing: float = 1.0,
) -> DataFrame:
    """DSIR-style data-selection importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    unigram feature space): score every corpus document by
    sum over its tokens of ln(p_target(tok) / p_corpus(tok)) — the
    log importance ratio between the TARGET distribution (a small
    exemplar set of the domain to up-sample) and the corpus's own
    unigram distribution, both add-``smoothing`` smoothed over the
    UNION vocabulary. High weight = looks like the target; the
    resampling step that consumes these weights is
    :func:`operators.sampling.weighted_sample`.

    Output: (id_col, n_tokens, weight).

    Shape for 100 TB: two token explodes, two token-keyed counts
    (map-side combining hash aggs — vocab is Zipf-bounded, orders
    smaller than the corpus), ONE vocab-sized full-outer join to
    align the two distributions, 1-row constants on a broadcast cross
    join, then a token-keyed join back over the corpus stream (AQE
    broadcasts the log-ratio table when it fits) and a per-doc sum.
    No collect, no RNG, no driver state beyond the plan."""
    s = float(smoothing)
    tcol = target_text_col or text_col
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok"))
    ttoks = target.select(F.explode(tokens(F.col(tcol))).alias("_tok"))
    cv = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_cc"))
    tv = ttoks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_tc"))
    vocab = cv.join(tv, "_tok", "full_outer").select(
        "_tok",
        F.coalesce("_cc", F.lit(0)).alias("_cc"),
        F.coalesce("_tc", F.lit(0)).alias("_tc"),
    )
    consts = vocab.agg(
        F.sum("_cc").alias("_nc"),
        F.sum("_tc").alias("_nt"),
        F.count(F.lit(1)).alias("_v"),
    )
    log_ratio = F.log(
        (F.col("_tc") + F.lit(s)) / (F.col("_nt") + F.lit(s) * F.col("_v"))
    ) - F.log(
        (F.col("_cc") + F.lit(s)) / (F.col("_nc") + F.lit(s) * F.col("_v"))
    )
    lr = vocab.crossJoin(F.broadcast(consts)).select(
        "_tok", log_ratio.alias("_lr")
    )
    return (
        toks.join(lr, "_tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("_lr").alias("weight"),
        )
    )


def unigram_surprisal(
    df: DataFrame, id_col: str, text_col: str, smoothing: float = 1.0
) -> DataFrame:
    """Per-document mean token surprisal under the corpus's OWN
    unigram LM with add-``smoothing`` smoothing — the CCNet-style
    perplexity quality filter, self-trained: documents full of
    corpus-rare tokens (OCR noise, gibberish, wrong-language shards)
    score high; stereotyped boilerplate scores low. Output:
    (id, n_tokens, surprisal = mean over tokens of
    -ln((count(tok) + s) / (N + s*V))).

    Shape for 100 TB: one explode of the token stream, a token-keyed
    count (map-side combining hash agg — vocab is Zipf-bounded, orders
    smaller than the corpus), a token-keyed join back (AQE broadcasts
    the vocab when it fits, shuffles on the token key when not), and a
    per-doc mean. Corpus constants (N, V) ride a 1-row broadcast cross
    join — no collect, no driver round-trip, so the whole plan is one
    job a scheduler can pipeline."""
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok"))
    vocab = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_cnt"))
    consts = vocab.agg(
        F.sum("_cnt").alias("_n"), F.count(F.lit(1)).alias("_v")
    )
    nll = -F.log(
        (F.col("_cnt") + F.lit(smoothing))
        / (F.col("_n") + F.lit(smoothing) * F.col("_v"))
    )
    scored = (
        toks.join(vocab, "_tok")
        .crossJoin(F.broadcast(consts))
        .select(F.col(id_col), nll.alias("_nll"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("_nll").alias("surprisal"),
    )


def bpe_pair_counts(df: DataFrame, text_col: str) -> DataFrame:
    """One BPE-training step (Sennrich et al. 2016): corpus frequency
    of each adjacent character pair in the pretoken stream, the
    argmax of which is the next merge. Output: (pair, cnt).

    Scale shape — the classic two-level trick: aggregate the corpus to
    a WORD-frequency table first (vocab-sized, Zipf-bounded), then
    expand each distinct pretoken's character pairs once and weight by
    the word count. Pair expansion is O(vocab * word_len), not
    O(corpus tokens): at 100 TB the first hash agg does the data
    reduction with map-side combine and everything after is
    vocab-sized. Pretokens come from the GPT-2-style split regex
    (leading space kept — ' t' and 't' are distinct symbols, as in the
    real tokenizer)."""
    pre = df.select(
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_PATTERN), 0)).alias(
            "_tok"
        )
    )
    words = pre.groupBy("_tok").agg(F.count(F.lit(1)).alias("_n"))
    pairs = F.transform(
        F.sequence(F.lit(1), F.length("_tok") - 1),
        lambda i: F.substring(F.col("_tok"), i, 2),
    )
    return (
        words.filter(F.length("_tok") >= 2)
        .select(F.explode(pairs).alias("pair"), F.col("_n"))
        .groupBy("pair")
        .agg(F.sum("_n").alias("cnt"))
    )

def bigram_surprisal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 0.4,
    train_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean bigram surprisal under a bigram LM with
    Stupid Backoff (Brants et al., EMNLP'07 — the scoring rule built
    FOR distributed corpus-scale LMs: raw counts, no normalized
    discounting state):

        S(w_i | w_{i-1}) = count(w_{i-1} w_i) / count(w_{i-1})   if bigram attested
                           alpha * count(w_i) / N                else if w_i attested
                           alpha^2 / N                           else (OOV floor)

    surprisal = mean over positions 2..n of -ln S. Counts come from
    ``train_df`` (default: ``df`` itself — note self-scoring attests
    every bigram, so backoff only fires with a held-out train corpus).
    Sharper junk detector than the unigram filter: scrambled word
    salad has normal unigram stats but unattested bigrams, so it
    backs off everywhere and scores high. Docs with fewer than 2
    tokens drop out (no scored positions).

    Scale shape: unigram and bigram count tables are Zipf-bounded hash
    aggs with map-side combine; the scored bigram stream left-joins
    both count tables on token keys (AQE broadcasts what fits); N
    rides a 1-row broadcast. One declarative DAG — no collect."""
    train = df if train_df is None else train_df

    def _bigrams(frame, with_id):
        toks = tokens(F.col(text_col))
        k = F.size(toks)
        # zip-with over two shifted slices (r16, the word_shingles
        # lesson): the old transform(sequence(1, k-1), i ->
        # struct(element_at(i), element_at(i+1))) paid two interpreted
        # element lookups per position; two slices + an element-wise
        # struct build does the same with two array allocations per ROW.
        pairs = F.zip_with(
            F.slice(toks, 1, k - 1),
            F.slice(toks, 2, k - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
        cols = [F.col(id_col)] if with_id else []
        # size >= 2 guard: keeps slice lengths positive for 0/1-token
        # docs (and preserves the old form's zero-bigram semantics)
        return (
            frame.filter(F.size(toks) >= 2)
            .select(*cols, F.explode(pairs).alias("_b"))
            .select(*cols, F.col("_b.w1").alias("_w1"), F.col("_b.w2").alias("_w2"))
        )

    uni = train.select(F.explode(tokens(F.col(text_col))).alias("_tok")).groupBy(
        "_tok"
    ).agg(F.count(F.lit(1)).alias("_uc"))
    consts = uni.agg(F.sum("_uc").alias("_n"))
    bi = _bigrams(train, with_id=False).groupBy(
        F.col("_w1").alias("_bw1"), F.col("_w2").alias("_bw2")
    ).agg(F.count(F.lit(1)).alias("_bc"))

    score = (
        _bigrams(df, with_id=True)
        .join(bi, (F.col("_w1") == F.col("_bw1")) & (F.col("_w2") == F.col("_bw2")), "left")
        .join(uni.select(F.col("_tok").alias("_t1"), F.col("_uc").alias("_uc1")),
              F.col("_w1") == F.col("_t1"), "left")
        .join(uni.select(F.col("_tok").alias("_t2"), F.col("_uc").alias("_uc2")),
              F.col("_w2") == F.col("_t2"), "left")
        .crossJoin(F.broadcast(consts))
    )
    s = (
        F.when(F.col("_bc").isNotNull(), F.col("_bc") / F.col("_uc1"))
        .when(F.col("_uc2").isNotNull(), F.lit(alpha) * F.col("_uc2") / F.col("_n"))
        .otherwise(F.lit(alpha) * F.lit(alpha) / F.col("_n"))
    )
    return score.select(F.col(id_col), (-F.log(s)).alias("_nll")).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("_nll").alias("surprisal"),
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a bag of query
    terms — the lexical ranking half of a retrieval stack (the other
    half, vector ANN, lives in operators.vectors; hybrid search is
    their score-join). Lucene's non-negative idf variant:
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``.

    Scale shape: tokens explode once and are FILTERED TO QUERY TERMS
    before anything aggregates, so the per-(doc, term) tf table is
    |terms|-bounded per doc, never vocabulary-sized; the two corpus
    constants (N, avgdl) come from one 1-row aggregate and the
    per-term document frequencies from a |terms|-row aggregate — both
    broadcast back (literally: broadcast joins on 1 and |terms| rows).
    One shuffle on (id, term). Output: (id, n_terms_matched, score)
    for docs matching >= 1 term.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col), F.col(text_col)).filter(F.col(text_col).isNotNull())
    docs = base.select(F.col(id_col), F.size(toks).alias("_dl"), toks.alias("_t"))
    consts = docs.agg(
        F.count(F.lit(1)).alias("_n"), F.avg("_dl").alias("_avgdl")
    )
    hits = (
        docs.select(F.col(id_col), "_dl", F.explode("_t").alias("_tok"))
        .filter(F.col("_tok").isin(query_terms))
        .groupBy(id_col, "_tok")
        .agg(F.count(F.lit(1)).alias("_tf"), F.first("_dl").alias("_dl"))
    )
    dfreq = hits.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    scored = (
        hits.join(F.broadcast(dfreq), "_tok")
        .join(F.broadcast(consts))
        .withColumn(
            "_idf",
            F.log(F.lit(1.0) + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)),
        )
        .withColumn(
            "_term_score",
            F.col("_idf")
            * (F.col("_tf") * (k1 + 1))
            / (F.col("_tf") + k1 * (1 - b + b * F.col("_dl") / F.col("_avgdl"))),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_terms_matched"),
        F.sum("_term_score").alias("score"),
    )


#: The Gopher stopword list (Rae et al. 2021, A1.1): a document must
#: contain at least 2 of these to pass the stopword rule.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_stopwords: int = 2,
) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, Appendix
    A1.1 — the rule set MassiveText filtering popularized; adopted by
    Dolma/RedPajama-v2 and most open pretraining pipelines since).
    Emits one boolean per rule plus the conjunction ``keep``, so a
    recipe owner can relax single rules without re-running the pass:

    * ``r_word_count``   — word count in [min_words, max_words]
    * ``r_mean_word_len``— mean word length in [3, 10]
    * ``r_symbol_ratio`` — (# '#' + # '...') / words <= 0.1
    * ``r_alpha_words``  — >= 80% of words contain a letter
    * ``r_bullet_lines`` — <= 90% of lines start with a bullet
    * ``r_ellipsis_lines``— <= 30% of lines end with '...'
    * ``r_stopwords``    — >= min_stopwords distinct GOPHER_STOPWORDS
      present (the paper's threshold, and the default, is 2)

    Complements :func:`quality_features` (the C4/RefinedWeb-style
    composite score): that one ranks, this one gates, and the two
    papers draw the thresholds differently. All rules are single-pass
    string expressions inside whole-stage codegen — no shuffle, no
    Python, scan-pipelined at any corpus size. Counting '#'/'...' via
    length-after-replace keeps both engines' non-overlapping
    left-to-right replace semantics aligned (an oracle can reproduce
    every rule bit-for-bit)."""
    t = F.col(text_col)
    toks = tokens(t)
    n_words = F.size(toks)
    mean_wl = F.length(F.regexp_replace(t, r"\s+", "")).cast("double") / n_words
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / F.lit(3)
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / n_words
    alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    alpha_frac = alpha_words.cast("double") / n_words
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(F.filter(lines, lambda l: F.ltrim(l).rlike(r"^(-|\*|•)")))
    ellipsis_lines = F.size(F.filter(lines, lambda l: F.rtrim(l).rlike(r"\.\.\.$")))
    stop_hits = _marker_hits(F.lower(t), GOPHER_STOPWORDS)
    rules = {
        "r_word_count": (n_words >= min_words) & (n_words <= max_words),
        "r_mean_word_len": (mean_wl >= 3.0) & (mean_wl <= 10.0),
        "r_symbol_ratio": symbol_ratio <= 0.1,
        "r_alpha_words": alpha_frac >= 0.8,
        "r_bullet_lines": bullet_lines.cast("double") / n_lines <= 0.9,
        "r_ellipsis_lines": ellipsis_lines.cast("double") / n_lines <= 0.3,
        "r_stopwords": stop_hits >= min_stopwords,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    return df.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        *[c.alias(name) for name, c in rules.items()],
        keep.alias("keep"),
    )


def passage_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
    max_coverage: float = 0.2,
) -> DataFrame:
    """Build-and-apply exact-substring dedup in ONE corpus pass — the
    fused form of :func:`duplicated_passages` +
    :func:`apply_passage_blocklist` for the self-contained case where
    the blocklist is derived from the same corpus it is applied to.

    The two-operator composition scans and shingles the corpus TWICE
    (the blocklist aggregate and the join probe have different
    subtrees, so Spark cannot reuse the exchange); here a COUNT window
    partitioned on the gram replaces both the blocklist aggregation
    and the join — each gram's partition already holds every carrier
    row, so ``carriers >= min_docs`` is the blocklist-membership test
    computed in place. One scan, one shuffle on the gram (the same
    key and volume the join form shuffles anyway), one per-doc agg.
    Use the two-operator form when the blocklist is EXTERNAL state
    (the incrementally-maintained CDC blocklist) — there the second
    scan is inherent.

    Output and semantics are identical to apply_passage_blocklist
    over duplicated_passages of the same frame (pinned by unit test):
    (id_col, n_passages, n_dup_passages, dup_coverage, keep)."""
    from pyspark.sql import Window

    from ..functions.hashing import word_shingles

    grams = df.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(word_shingles(F.col(text_col), n))
        ).alias("_g"),
    )
    # count("_g") (non-null) keeps the NULL-text partition at 0
    # carriers, matching the join form's unmatched-left semantics.
    carriers = F.count("_g").over(Window.partitionBy("_g"))
    per_doc = (
        grams.withColumn("_carriers", carriers)
        .groupBy(id_col)
        .agg(
            F.count("_g").cast("long").alias("n_passages"),
            F.count(F.when(F.col("_carriers") >= min_docs, F.lit(1)))
            .cast("long")
            .alias("n_dup_passages"),
        )
    )
    coverage = F.when(
        F.col("n_passages") > 0,
        F.col("n_dup_passages") / F.col("n_passages"),
    ).otherwise(F.lit(0.0))
    return per_doc.withColumn(
        "dup_coverage", coverage.cast("double")
    ).withColumn("keep", F.col("dup_coverage") <= F.lit(float(max_coverage)))
