"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (north-star extensions): language ID,
quality scoring, token counting, document fingerprinting — each a pure
DataFrame expression chain over a ``documents``-shaped table
(doc_id, text, ...), fully codegen'd, no Python in the path, so the
per-row cost at 100 TB is a scan + map stage with zero shuffles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.functions.hashing import md5_hash64
from diagnosisextraction_ml_spark.functions.stopwords import (
    DUTCH_STOPWORDS,
    ENGLISH_STOPWORDS,
)
from diagnosisextraction_ml_spark.functions.text import normalize_ws, tokenize_expr

# A BPE-ish word-piece pattern: runs of letters, runs of digits, or a
# single non-space symbol — the shape GPT-style pre-tokenizers use.
BPE_ISH_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

# PII/boilerplate redaction patterns, applied IN ORDER (URLs first —
# they may contain '@' and digit runs that the later rules would
# otherwise mangle). Each regex stays inside the Java-regex ∩ RE2
# common subset (char classes, alternation, bounded repetition — no
# backrefs/lookaround), so the Spark expression and the DuckDB oracle
# twin are generated from these same strings.
REDACT_RULES: list[tuple[str, str]] = [
    (r"https?://[^\s]+", "<url>"),
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<email>"),
    (r"[0-9]{7,}", "<number>"),  # before <phone>, which would subsume pure runs
    (r"[0-9][0-9 ()\-]{5,}[0-9]", "<phone>"),
]


def _txt(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count (argless-split semantics: empty → 0)."""
    return F.size(tokenize_expr(F.lower(col)))


def token_count_bpe_ish(col: Column | str) -> Column:
    """Approximate subword count via the BPE-ish regex."""
    c = _txt(col)
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def stopword_ratio_of(toks: Column, stopwords: Sequence[str]) -> Column:
    """Fraction of (pre-tokenized, lowercase) tokens that are stopwords."""
    sw = F.array(*[F.lit(w) for w in stopwords])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, n_sw / F.size(toks)).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str, stopwords: Sequence[str]) -> Column:
    """Fraction of lowercase whitespace tokens that are stopwords."""
    return stopword_ratio_of(tokenize_expr(F.lower(col)), stopwords)


def punct_ratio(col: Column | str) -> Column:
    """Fraction of non-space characters that are punctuation/symbols."""
    c = _txt(col)
    nonspace = F.length(F.regexp_replace(c, r"\s", ""))
    punct = F.length(F.regexp_replace(c, r"[a-zA-Z0-9\s]", ""))
    return F.when(nonspace > 0, punct / nonspace).otherwise(F.lit(0.0))


def quality_from_parts(n_chars: Column, punct: Column, sw: Column) -> Column:
    """Quality score from pre-computed parts (length, punct-, stopword-ratio)."""
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    punct_penalty = F.lit(1.0) - F.least(punct * 2.0, F.lit(1.0))
    sw_score = F.least(sw * 4.0, F.lit(1.0))
    score = F.round((len_score + punct_penalty + sw_score) / 3.0, 6)
    return F.when(n_chars == 0, F.lit(0.0)).otherwise(score)


def quality_score(col: Column | str, stopwords: Sequence[str] = ENGLISH_STOPWORDS) -> Column:
    """Composite [0,1] quality heuristic (length, punct, stopwords).

    The C4/Gopher-style cheap filters: very short docs, symbol-heavy
    docs, and docs with no function words score low.
    """
    c = _txt(col)
    return quality_from_parts(
        F.length(c), punct_ratio(c), stopword_ratio(c, stopwords)
    )


def lang_id_of(toks: Column) -> Column:
    """Heuristic language ID (en/nl/other) from pre-tokenized lowercase
    tokens: count hits on each language's high-frequency function
    words; highest count wins, ties → 'other'. Pure expressions →
    codegen."""
    en = F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS[:40]])
    nl = F.array(*[F.lit(w) for w in DUTCH_STOPWORDS[:40]])
    n_en = F.size(F.filter(toks, lambda t: F.array_contains(en, t)))
    n_nl = F.size(F.filter(toks, lambda t: F.array_contains(nl, t)))
    return (
        F.when((n_en > n_nl) & (n_en > 0), F.lit("en"))
        .when((n_nl > n_en) & (n_nl > 0), F.lit("nl"))
        .otherwise(F.lit("other"))
    )


def fingerprint_expr(col: Column | str) -> Column:
    """Order-sensitive 60-bit document fingerprint.

    md5 of the whitespace-normalized text — the cross-engine-stable
    stand-in for a rolling hash (same fingerprint ⇔ same normalized
    byte sequence), used for exact dedup and change detection.
    """
    return md5_hash64(normalize_ws(_txt(col)))


def document_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """All per-document text stats in one map stage, tokenizing once.

    The lowercased token array is the shared input every per-document
    stat derives from, so it is projected once and feeds all consumers:
    the hot map stage splits each text a single time instead of once
    per statistic. Structured as three stacked projections sharing the
    token array and the raw ratios. Catalyst's CollapseProject keeps a non-cheap alias
    that is referenced more than once (``__toks`` feeds four stats,
    ``__sw``/``__punct`` feed two each) instead of inlining it, so the
    physical plan evaluates each shared expression a single time while
    the three Projects still fuse into one WholeStageCodegen span
    (asserted in tests/test_plans.py). A narrow input is first
    round-robined up to session parallelism (functions.partitioning.
    fan_out — the per-doc tokenize/regex CPU must not pin to a
    single-file scan's 1-2 cores; no-op on wide scans, i.e. at scale),
    so the only Exchange the plan may contain is that fan-out.
    """
    from diagnosisextraction_ml_spark.functions.partitioning import fan_out

    c = F.col(text_col)
    with_toks = fan_out(df).select(
        F.col(id_col), c.alias("__text"), tokenize_expr(F.lower(c)).alias("__toks")
    )
    t, toks = F.col("__text"), F.col("__toks")
    mid = with_toks.select(
        F.col(id_col),
        F.length(t).alias("n_chars_computed"),
        F.size(toks).alias("n_tokens_ws"),
        token_count_bpe_ish(t).alias("n_tokens_bpe"),
        stopword_ratio_of(toks, ENGLISH_STOPWORDS).alias("__sw"),
        punct_ratio(t).alias("__punct"),
        lang_id_of(toks).alias("lang_pred"),
        fingerprint_expr(t).alias("fingerprint"),
    )
    return mid.select(
        F.col(id_col),
        F.col("n_chars_computed"),
        F.col("n_tokens_ws"),
        F.col("n_tokens_bpe"),
        F.round(F.col("__sw"), 6).alias("stopword_ratio_en"),
        F.round(F.col("__punct"), 6).alias("punct_ratio"),
        quality_from_parts(
            F.col("n_chars_computed"), F.col("__punct"), F.col("__sw")
        ).alias("quality"),
        F.col("lang_pred"),
        F.col("fingerprint"),
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 200,
) -> DataFrame:
    """Gopher-style per-document repetition signals (LLM quality gate).

    - ``distinct_token_ratio`` — |distinct tokens| / |tokens|: low
      values flag keyword-stuffed / looping generations.
    - ``top_bigram`` + ``top_bigram_frac`` — the most frequent token
      bigram and its share of all bigrams (Rae et al.'s "top n-gram
      fraction" filter). Ties resolve to the lexicographically
      smallest maximal bigram — order-free, so both engines agree
      without relying on distinct-preservation order.

    Pure per-row expressions — zero shuffles, stays in the same
    codegen map stage as ``document_stats``. The distinct-gram count
    is O(|grams|·|distinct|) per row, so tokens are capped at
    ``max_tokens`` (the standard practice: repetition filters read a
    document prefix, not 100 MB outliers — the cap also bounds the
    worst-case row cost at scale).
    """
    toks_all = tokenize_expr(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col), F.slice(toks_all, 1, max_tokens).alias("__toks")
    )
    toks = F.col("__toks")
    grams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    mid = base.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens_capped"),
        F.round(
            F.when(
                F.size(toks) > 0,
                F.size(F.array_distinct(toks)) / F.size(toks),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("distinct_token_ratio"),
        grams.alias("__grams"),
    )
    g = F.col("__grams")
    # stacked projections share __dg/__counts (computed once each —
    # CollapseProject keeps multiply-referenced non-cheap aliases)
    mid2 = mid.withColumn("__dg", F.array_distinct(g))
    mid3 = mid2.withColumn(
        "__counts",
        F.transform(F.col("__dg"), lambda x: F.size(F.filter(g, lambda y: y == x))),
    )
    counts = F.col("__counts")
    mx = F.array_max(counts)
    top = F.array_min(
        F.filter(F.col("__dg"), lambda x, i: F.element_at(counts, i + 1) == mx)
    )
    return mid3.select(
        F.col(id_col),
        "n_tokens_capped",
        "distinct_token_ratio",
        F.when(F.size(g) > 0, top).otherwise(F.lit("")).alias("top_bigram"),
        F.round(
            F.when(F.size(g) > 0, mx / F.size(g)).otherwise(F.lit(0.0)), 6
        ).alias("top_bigram_frac"),
    )


def top_k_words(
    df: DataFrame,
    text_col: str = "text",
    k: int = 50,
    stopwords: Sequence[str] = (),
    lowercase: bool = True,
) -> DataFrame:
    """A3 — corpus-wide top-k word frequency.

    Ref: plotSampleDistribution (src/NLP_functions.py:571-594).
    explode → filter → groupBy(word) → count → top-k, with a
    deterministic (count desc, word asc) tie-break. The groupBy gets a
    map-side partial aggregation, so the shuffle carries one row per
    (partition, word) — Zipf-small — and the final top-k is a
    TakeOrdered, not a full sort.
    """
    # Deliberately NOT fanned out (cf. document_stats): this shape is
    # aggregation-dominated, and widening a narrow input 32× also
    # multiplies the map-side partial-aggregate rows per word by 32 —
    # measured A/B (sf0.1, narrow 1.47s vs fanned 2.30s): the bigger
    # partial shuffle costs more than the tokenize parallelism buys.
    c = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = F.explode(tokenize_expr(c)).alias("word")
    words = df.select(toks)
    if stopwords:
        words = words.filter(~F.col("word").isin(list(stopwords)))
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(k)
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks.

    The standard LLM-training-data op: whitespace tokens re-joined
    into windows of ``chunk_tokens`` advancing by
    ``chunk_tokens - overlap``. Pure expressions (sequence of window
    starts → slice + join per window) so the fan-out is declared to
    Catalyst before the explode — no UDF, no shuffle; output is
    (id, chunk_idx, chunk, n_tokens).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokenize_expr(F.col(text_col))
    sz = F.size(toks)
    # window starts: 0, step, 2·step, … while start < max(sz, 1)
    n_chunks = F.greatest(F.ceil((sz - F.lit(overlap)) / F.lit(step)), F.lit(1)).cast("int")
    starts = F.sequence(F.lit(0), (n_chunks - 1) * step, F.lit(step))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            (s / step).cast("int").alias("chunk_idx"),
            F.array_join(F.slice(toks, s + 1, chunk_tokens), " ").alias("chunk"),
            F.least(sz - s, F.lit(chunk_tokens)).alias("n_tokens"),
        ),
    )
    return (
        df.select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(
            id_col,
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk").alias("chunk"),
            F.col("c.n_tokens").alias("n_tokens"),
        )
        .filter(F.col("chunk") != "")
    )


def pack_token_stream(
    df: DataFrame,
    seq_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_docs: int = 65536,
) -> DataFrame:
    """GPT-style concat-and-split sample packing — the layout step
    between a cleaned corpus and a pretraining data loader.

    The complement of :func:`pack_sequences` (greedy next-fit bins,
    whole documents, padding waste where docs underfill a bin): here
    the token STREAM is split, documents straddle sequence boundaries,
    and there is zero padding except at most one ragged final pack per
    shard — the two standard packing modes a training pipeline picks
    between (split-docs for pretraining throughput, whole-docs when
    attention must not cross document boundaries).

    Documents are conceptually concatenated in ``id`` order and the
    token stream split every ``seq_len`` tokens; the output is the
    SEGMENT MAP: one row per (document, pack) overlap telling the
    loader which token span of which document fills which slice of
    which fixed-length sequence. (Emitting the map instead of
    re-joined text keeps the operator metadata-only — the loader
    slices original docs, nothing re-materializes the corpus.)

    Scale design — no corpus-global order anywhere: packing runs
    WITHIN SHARDS of ``shard_docs`` consecutive ids
    (``shard = id div shard_docs``). The running-token offset is a
    window cumsum partitioned by shard (bounded by shard size, never
    corpus size), and each document expands to the packs it overlaps
    with one ``sequence`` Generate — pure expressions end to end.
    Shards match how real pipelines pack (per output file / per
    worker); the cost is at most one ragged final pack per shard,
    exactly the waste a per-file packer accepts. Empty docs carry no
    tokens and are dropped (they cannot occupy pack space).

    Output: (shard, pack_id, doc_id, doc_tok_start, pack_tok_start,
    n_toks) — all BIGINT; ``pack_id`` is shard-local, exact-integer,
    and engine-reproducible (the DuckDB twin replays it hash-exact).
    """
    if seq_len <= 0 or shard_docs <= 0:
        raise ValueError("seq_len and shard_docs must be positive")
    from pyspark.sql import Window

    L = F.lit(int(seq_len)).cast("long")
    t = token_count_ws(F.col(text_col)).cast("long")
    base = df.select(
        F.col(id_col),
        F.expr(f"CAST({id_col} AS BIGINT) div {int(shard_docs)}").alias("shard"),
        t.alias("__t"),
    ).filter(F.col("__t") > 0)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = base.withColumn(
        "__off", F.coalesce(F.sum("__t").over(w), F.lit(0).cast("long"))
    )
    first = F.expr("__off div " + str(int(seq_len)))
    last = F.expr(f"(__off + __t - 1) div {int(seq_len)}")
    seg = offs.select(
        "shard",
        F.col(id_col),
        "__t",
        "__off",
        F.explode(F.sequence(first, last)).alias("pack_id"),
    )
    start = F.greatest(F.col("__off"), F.col("pack_id") * L)
    end = F.least(F.col("__off") + F.col("__t"), (F.col("pack_id") + 1) * L)
    return seg.select(
        "shard",
        F.col("pack_id").cast("long").alias("pack_id"),
        F.col(id_col),
        (start - F.col("__off")).cast("long").alias("doc_tok_start"),
        (start - F.col("pack_id") * L).cast("long").alias("pack_tok_start"),
        (end - start).cast("long").alias("n_toks"),
    )


def redact_expr(col: Column | str) -> Column:
    """Scalar redaction expression — the :data:`REDACT_RULES` chain."""
    out = _txt(col)
    for pattern, token in REDACT_RULES:
        out = F.regexp_replace(out, pattern, token)
    return out


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "redacted",
) -> DataFrame:
    """Scrub URLs / emails / phone-ish digit runs / long numbers.

    The standard pre-training privacy pass: each rule rewrites matches
    to a typed placeholder (``<url>``, ``<email>``, ``<phone>``,
    ``<number>``) so downstream tokenization sees a stable vocabulary
    item instead of quasi-unique strings (which would poison dedup
    shingles and inflate the token vocabulary). Pure codegen'd
    ``regexp_replace`` chain — zero shuffles, no UDF; the patterns are
    deliberately conservative (RE2-compatible, no lookaround) and
    shared verbatim with the DuckDB oracle twin.
    """
    return df.select(F.col(id_col), redact_expr(text_col).alias(out_col))


def lexical_dispersion(
    df: DataFrame, terms: Sequence[str], text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """M14 — token positions of selected terms across the corpus.

    Ref: plotLexicalDispersion (src/NLP_functions.py:523-567). Output:
    (doc_id, term, position) — the plot's raw points, computed with
    posexplode, filtered to the requested terms before the shuffle.
    """
    toks = tokenize_expr(F.lower(F.col(text_col)))
    exploded = df.select(F.col(id_col), F.posexplode(toks).alias("position", "term"))
    return exploded.filter(F.col("term").isin(list(terms)))


def greedy_next_fit_bins(counts, budget: int) -> list[int]:
    """Pure next-fit packing core (one stream): bin index per item, in
    input order. A new bin opens exactly when the current one cannot
    take the next item; oversized items occupy a bin alone."""
    bins: list[int] = []
    bin_id, fill = 0, 0
    for i, nt in enumerate(counts):
        nt = int(nt)
        if i == 0:
            fill = nt
        elif fill + nt <= budget:
            fill += nt
        else:
            bin_id += 1
            fill = nt
        bins.append(bin_id)
    return bins


def pack_sequences(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shards: int = 8,
) -> DataFrame:
    """Greedy next-fit sequence packing for training batches.

    The standard pre-tokenization step that turns variable-length
    documents into fixed-budget training sequences: documents are
    packed, in deterministic id order, into bins of at most ``budget``
    whitespace tokens — a document that would overflow the current bin
    closes it and starts the next (an oversized document gets a bin of
    its own).

    Scale design: packing is inherently sequential, so it runs *per
    shard* — documents are Knuth-bucketed into ``n_shards`` independent
    streams, each packed inside one Arrow-batched ``applyInPandas``
    group. Shard count = parallelism (set it near the cluster's core
    count at 100 TB); per-group state is two integers; and only the
    (id, shard, token-count) triple ever shuffles — text never crosses
    the wire. The shard assignment is part of the contract: the same
    document lands in the same shard, and therefore the same bin, on
    any cluster and any partitioning.

    Output: (id, shard, n_tokens, bin_id) with ``bin_id`` local to the
    shard — (shard, bin_id) is the global sequence key.
    """
    from diagnosisextraction_ml_spark.functions.hashing import knuth_bucket

    base = df.select(
        F.col(id_col),
        knuth_bucket(F.col(id_col), n_shards).cast("int").alias("shard"),
        token_count_ws(text_col).cast("long").alias("n_tokens"),
    )

    def _pack(pdf):
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        return pdf.assign(bin_id=greedy_next_fit_bins(pdf["n_tokens"], budget))

    schema = f"{id_col} long, shard int, n_tokens long, bin_id long"
    return base.groupBy("shard").applyInPandas(_pack, schema)


def doc_commonness(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-statistic quality signal: mean document frequency of a
    document's distinct tokens.

    The CCNet-style idea of scoring documents against a corpus-level
    language statistic, kept in exact integer arithmetic (mean document
    frequency instead of a float LM perplexity) so the score is
    bit-reproducible in any engine: gibberish/OCR noise scores low
    (tokens appear almost nowhere else), boilerplate scores high —
    both tails are the usual filter targets.

    Scale design: distinct tokens per doc (map-side), one groupBy
    token to build the document-frequency table, one equi-join back
    keyed on token, one groupBy doc. The token join is skewed by
    nature (stopwords touch every doc) — at 100 TB run with AQE skew
    join on (session default here); the df table is (token, count)
    only, never text. Division of two exact counts → exact ratio.
    """
    toks = F.array_distinct(tokenize_expr(F.lower(F.col(text_col))))
    doc_tokens = df.select(F.col(id_col), F.explode(toks).alias("token"))
    token_df = doc_tokens.groupBy("token").agg(F.count("*").alias("token_docfreq"))
    return (
        doc_tokens.join(token_df, "token")
        .groupBy(id_col)
        .agg(
            F.sum("token_docfreq").alias("sum_docfreq"),
            F.count("*").alias("n_distinct_tokens"),
        )
        .withColumn(
            "mean_token_docfreq", F.col("sum_docfreq") / F.col("n_distinct_tokens")
        )
    )


def value_histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 20,
) -> DataFrame:
    """Fixed-grid histogram of a numeric column — corpus-QA staple
    (score/length/quality distributions before choosing filter cuts).

    One ``width_bucket`` projection + one groupBy (map-side combine):
    the shuffle carries ≤n_bins+2 rows per partition regardless of
    corpus size. Bins are [lo, hi) in ``n_bins`` equal steps; bucket 0
    collects underflow, bucket ``n_bins+1`` overflow, so the histogram
    is total — nothing silently dropped. Empty bins are absent from
    the output (join against a bin spine if a dense grid is needed;
    driver-side plotting fills gaps anyway).

    Output: (bin, lo_edge, hi_edge, n) ordered by bin.
    """
    step = (hi - lo) / n_bins
    bucket = F.width_bucket(F.col(col), F.lit(lo), F.lit(hi), F.lit(n_bins))
    out = (
        df.select(bucket.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
        .select(
            "bin",
            (F.lit(lo) + (F.col("bin") - 1) * F.lit(step)).alias("lo_edge"),
            (F.lit(lo) + F.col("bin") * F.lit(step)).alias("hi_edge"),
            "n",
        )
        .orderBy("bin")
    )
    return out


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """Vocabulary-coverage curve by frequency cutoff — the tokenizer-prep
    decision table: for every distinct token count ``c``, the vocabulary
    size and corpus coverage you get by keeping all tokens with count
    ≥ c (coverage = 1 − OOV rate under that cutoff).

    Grouping by *distinct count* (not token rank) makes the cumulative
    curve deterministic under ties; the cumsum runs on the curve
    engine's two-level bucketed machinery
    (:func:`..operators.evaluate._bucketed_cumsum` — no global window,
    no single-partition Exchange), so the plan scales like every other
    curve in the repo. Token counting itself is one map-side-combined
    groupBy; the per-count table is Zipf-tiny.

    Output: (min_count, n_words, cum_vocab, cum_occurrences, coverage)
    ordered by min_count descending in value (cumulatives run from the
    most frequent tokens down).
    """
    from diagnosisextraction_ml_spark.operators.evaluate import _bucketed_cumsum

    toks = F.explode(tokenize_expr(F.lower(F.col(text_col)))).alias("word")
    wc = df.select(toks).groupBy("word").agg(F.count("*").alias("c"))
    per_count = wc.groupBy("c").agg(F.count("*").alias("n_words")).select(
        F.col("c").alias("min_count"),
        F.col("n_words"),
        (F.col("c") * F.col("n_words")).cast("double").alias("occurrences"),
    ).withColumn("n_words_d", F.col("n_words").cast("double"))
    cum = _bucketed_cumsum(
        per_count,
        "min_count",
        {"n_words_d": "cum_vocab_d", "occurrences": "cum_occ_d"},
        descending=True,
        n_buckets=n_buckets,
        score_range=(0.0, 1e6),
    )
    return cum.select(
        "min_count",
        "n_words",
        F.col("cum_vocab_d").cast("long").alias("cum_vocab"),
        F.col("cum_occ_d").cast("long").alias("cum_occurrences"),
        (F.col("cum_occ_d").cast("long") / F.col("__tot_occurrences").cast("long")).alias(
            "coverage"
        ),
    )


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    k: int = 500,
    stopwords: Sequence[str] = (),
) -> DataFrame:
    """Zipf-law exponent fit: OLS slope of log-freq vs log-rank.

    A natural-corpus sanity signal for training data (Zipf slope ≈ −1;
    templated/generated corpora drift toward 0 or oscillate): take the
    deterministic top-k words, rank them WITHOUT a global window (the
    k-row relation collapses to one sorted array and ranks fall out of
    ``posexplode`` — the engine's standard rank-a-tiny-relation idiom),
    map to integer micro-nat log points, and fit with the exact-OLS
    engine (``rollup.grouped_ols_trend``, scale=10⁶ because x is
    micro-scaled too). Everything after the Zipf-small top-k is
    metadata-sized; the result is hash-exact cross-engine.

    Output: one row (n_words, slope_micro ≈ −1e6·α).
    """
    from diagnosisextraction_ml_spark.operators.rollup import grouped_ols_trend

    top = top_k_words(df, text_col, k=k, stopwords=stopwords)
    arr = top.agg(
        F.array_sort(
            F.collect_list(F.struct((-F.col("n")).alias("negn"), "word", "n"))
        ).alias("a")
    )
    ranked = arr.select(F.posexplode("a").alias("pos", "s")).select(
        (F.col("pos") + 1).alias("rank"), F.col("s.n").alias("n")
    )
    pts = ranked.select(
        F.lit("corpus").alias("g"),
        F.expr("CAST(round(1000000 * ln(CAST(rank AS DOUBLE)), 0) AS BIGINT)").alias("x"),
        F.expr("CAST(round(1000000 * ln(CAST(n AS DOUBLE)), 0) AS BIGINT)").alias("y"),
    )
    fit = grouped_ols_trend(pts, ["g"], "x", "y", scale=1_000_000)
    return fit.select(
        F.col("n_points").alias("n_words"), "slope_micro"
    )


def corpus_kl_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise KL divergence between sub-corpus unigram distributions.

    The distribution-shift detector for corpus mixing: KL(P‖Q) over
    add-1-smoothed unigram distributions (smoothing over each PAIR's
    union vocabulary, so both sides are proper distributions on the
    same support). Both directions come from one pivoted relation.

    Exactness: the per-token log ratio is an integer micro-nat
    (``round(10⁶·ln((aᵢ+1)·B / ((bᵢ+1)·A)))``), weighted by the exact
    integer count (aᵢ+1) and summed as BIGINTs — no float accumulation
    order anywhere; the final division by A is one sign-split integer
    division. KL(P‖Q) = (1/A)·Σ (aᵢ+1)·ln-term by construction.

    Scale: token counts aggregate per (group, word) with map-side
    combine (Zipf-small); pair expansion touches only the count
    relation (never documents); per-pair totals are a tiny broadcast.

    Output: (group_a, group_b, vocab_size, kl_ab_micro, kl_ba_micro)
    with group_a < group_b.
    """
    counts = (
        df.select(
            F.col(group_col).alias("g"),
            F.explode(tokenize_expr(F.lower(F.col(text_col)))).alias("word"),
        )
        .groupBy("g", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    ).localCheckpoint()

    groups = counts.select("g").distinct()
    ga = groups.select(F.col("g").alias("group_a"))
    gb = groups.select(F.col("g").alias("group_b"))
    pairs = ga.join(F.broadcast(gb), F.col("group_a") < F.col("group_b"))
    members = pairs.select(
        "group_a", "group_b", F.explode(F.array("group_a", "group_b")).alias("g")
    )
    sides = members.join(counts, "g").select(
        "group_a",
        "group_b",
        "word",
        F.when(F.col("g") == F.col("group_a"), F.col("n")).otherwise(F.lit(0)).alias("na"),
        F.when(F.col("g") == F.col("group_b"), F.col("n")).otherwise(F.lit(0)).alias("nb"),
    )
    vocab = sides.groupBy("group_a", "group_b", "word").agg(
        F.sum("na").alias("a"), F.sum("nb").alias("b")
    )
    totals = vocab.groupBy("group_a", "group_b").agg(
        (F.sum("a") + F.count(F.lit(1))).alias("ta"),  # Σa + V  (add-1 mass)
        (F.sum("b") + F.count(F.lit(1))).alias("tb"),
        F.count(F.lit(1)).alias("vocab_size"),
    )
    terms = vocab.join(F.broadcast(totals), ["group_a", "group_b"]).select(
        "group_a",
        "group_b",
        "vocab_size",
        "ta",
        "tb",
        F.expr(
            "(a + 1) * CAST(round(1000000 * ln((CAST(a + 1 AS DOUBLE) * CAST(tb AS DOUBLE))"
            " / (CAST(b + 1 AS DOUBLE) * CAST(ta AS DOUBLE))), 0) AS BIGINT)"
        ).alias("term_ab"),
        F.expr(
            "(b + 1) * CAST(round(1000000 * ln((CAST(b + 1 AS DOUBLE) * CAST(ta AS DOUBLE))"
            " / (CAST(a + 1 AS DOUBLE) * CAST(tb AS DOUBLE))), 0) AS BIGINT)"
        ).alias("term_ba"),
    )
    summed = terms.groupBy("group_a", "group_b", "vocab_size", "ta", "tb").agg(
        F.sum("term_ab").alias("sab"), F.sum("term_ba").alias("sba")
    )

    def _div(num: str, den: str) -> Column:
        return F.expr(
            f"CASE WHEN {num} < 0 THEN -1 ELSE 1 END"
            f" * CAST(abs({num}) DIV {den} AS BIGINT)"
        )

    return summed.select(
        "group_a",
        "group_b",
        "vocab_size",
        _div("sab", "ta").alias("kl_ab_micro"),
        _div("sba", "tb").alias("kl_ba_micro"),
    )


def pmi_token_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_vocab: int = 200,
    min_pair_docs: int = 5,
    top_k: int = 100,
    stopwords: Sequence[str] = (),
) -> DataFrame:
    """Top collocations by pointwise mutual information (document level).

    PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) ) over document co-occurrence —
    the classic collocation / phrase-mining signal. The quadratic pair
    space is bounded up front by a ``k_vocab`` cap (deterministic
    top-k tokens by document frequency, broadcast as a semi-filter), so
    per-doc pair expansion is ≤ C(k_vocab, 2) regardless of corpus
    size — the same in-basket discipline as association_rules, which
    this generalizes from counts to an information measure.

    Exactness: all counts are exact BIGINTs; PMI is ONE micro-nat
    rounding of a ratio of exact integers — hash-stable cross-engine.

    Output: top_k rows (token_a, token_b, n_ab, n_a, n_b, n_docs,
    pmi_micro) ordered by (pmi_micro desc, token_a, token_b).
    """
    dt = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(F.array_distinct(tokenize_expr(F.lower(F.col(text_col))))).alias(
                "token"
            ),
        )
        .filter(~F.col("token").isin(list(stopwords)) if stopwords else F.lit(True))
        .distinct()
    )
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    vocab = (
        dt.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df_tok"))
        .orderBy(F.desc("df_tok"), F.asc("token"))
        .limit(k_vocab)
    ).localCheckpoint()  # consumed 3x (filter + two count joins)
    dtv = dt.join(F.broadcast(vocab.select("token")), "token")
    per_doc = dtv.groupBy("doc").agg(F.array_sort(F.collect_set("token")).alias("ts"))
    pairs = (
        per_doc.select(F.explode("ts").alias("token_a"), "ts")
        .select(
            "token_a",
            F.explode(F.filter("ts", lambda x: x > F.col("token_a"))).alias(
                "token_b"
            ),
        )
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_docs)
    )
    va = vocab.select(F.col("token").alias("token_a"), F.col("df_tok").alias("n_a"))
    vb = vocab.select(F.col("token").alias("token_b"), F.col("df_tok").alias("n_b"))
    out = (
        pairs.join(F.broadcast(va), "token_a")
        .join(F.broadcast(vb), "token_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token_a",
            "token_b",
            "n_ab",
            "n_a",
            "n_b",
            "n_docs",
            F.expr(
                "CAST(round(1000000 * ln((CAST(n_ab AS DOUBLE) * CAST(n_docs AS DOUBLE))"
                " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 0) AS BIGINT)"
            ).alias("pmi_micro"),
        )
    )
    return out.orderBy(
        F.desc("pmi_micro"), F.asc("token_a"), F.asc("token_b")
    ).limit(top_k)


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token-distribution entropy in micro-nats — the
    standard gibberish/boilerplate signal (near-zero entropy =
    repeated tokens / templated text; anomalously high for length =
    random-token noise).

    H = ln(n) − (Σ c·ln c)/n over the doc's token counts, computed so
    the value is partition- and engine-independent: each (doc, token)
    term c·ln(c) is quantized to integer micro-nats BEFORE the per-doc
    sum (float Σ would depend on accumulation order), then one integer
    division — the engine's usual discipline for ln paths. One explode
    + two map-side-combined groupBys; only (id, token-count) pairs
    shuffle.

    Output: (id, n_tokens, n_distinct, entropy_micro).
    """
    tok = df.select(
        F.col(id_col), F.explode(tokenize_expr(F.lower(F.col(text_col)))).alias("t")
    )
    per = tok.groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("c"))
    clnc = F.round(
        F.lit(1_000_000.0)
        * F.col("c").cast("double")
        * F.log(F.col("c").cast("double")),
        0,
    ).cast("long")
    agg = per.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(clnc).alias("__sclnc"),
    )
    h = (
        F.round(F.lit(1_000_000.0) * F.log(F.col("n_tokens").cast("double")), 0)
        .cast("long")
        - F.expr("__sclnc div n_tokens")
    )
    return agg.select(
        F.col(id_col),
        "n_tokens",
        "n_distinct",
        h.cast("long").alias("entropy_micro"),
    )
