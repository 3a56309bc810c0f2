"""Hashed linear quality classifier — train AND score as relational algebra.

The standard quality/language-filtering step of an LLM data pipeline
(fastText-style classifiers as in the CCNet / GPT-3 data work) is a
linear model over token features: train on weak labels (a "looks like
the reference corpus" class vs the rest), then score every document
and keep the high-scoring tail. The reference repo has no equivalent
(it classifies EHR entries with TF-IDF + sklearn); this operator is a
north-star extension sized for the 100 TB corpus case.

Design — both phases are pure DataFrame algebra, no model object, no
Python in the hot path:

- **Features**: whitespace tokens hashed into ``n_buckets`` via the
  repo's cross-engine md5 hash (functions/hashing.py) — the hashing
  trick, so the "model" is a bounded (bucket → weight) table no matter
  the vocabulary size.
- **Training** is a closed-form Naive-Bayes log-odds fit: one
  ``groupBy(bucket)`` aggregation (map-side partial combine) produces
  the per-bucket class counts; the ≤n_buckets-row result is persisted
  so the grand totals derive from the cached counts instead of a
  second corpus scan (without the persist, Catalyst duplicates the
  whole scan→explode→agg subtree under the totals branch), then
  ``weight = ln(pos_n+α) − ln(pos_tot+αB) − ln(neg_n+α) + ln(neg_tot+αB)``.
  Weights are quantized to integer **micro-nats** (``round(1e6·w)``) so
  downstream sums are exact 64-bit integer arithmetic — reproducible
  bit-for-bit across engines, partitionings, and cluster sizes, which
  is what makes the whole classifier DuckDB-oracle-checkable.
- **Scoring** joins exploded tokens against the broadcast weight table
  and sums per document: one broadcast hash join + one partial-agg
  shuffle keyed by doc id. At 100 TB the weight table is ≤n_buckets
  rows (a few MB broadcast), the shuffle carries one (doc, sum, count)
  row per document, and everything stays in whole-stage codegen.

The score is mean micro-nat log-odds per token (length-normalized, like
per-token perplexity); ``pred`` is its sign.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.functions.hashing import md5_hash64
from diagnosisextraction_ml_spark.functions.text import tokenize_expr

DEFAULT_BUCKETS = 4096


def _token_buckets(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int, extra: list[str] | None = None
) -> DataFrame:
    """(id, [extra cols], bucket) — one row per whitespace token.

    Not fanned out (cf. document_stats vs top_k_words): the consumers
    aggregate immediately on bucket/id, and an A/B at sf0.1 measured
    the wider partial-aggregate shuffle canceling the tokenize
    parallelism (4.14s narrow vs 4.07s fanned — a wash, not worth the
    extra Exchange in every plan)."""
    toks = F.explode(tokenize_expr(F.lower(F.col(text_col)))).alias("token")
    base = df.select(F.col(id_col), *[F.col(c) for c in (extra or [])], toks)
    return base.select(
        F.col(id_col),
        *[F.col(c) for c in (extra or [])],
        (md5_hash64(F.col("token")) % F.lit(n_buckets)).alias("bucket"),
    )


def fit_token_logodds(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    alpha: int = 1,
) -> DataFrame:
    """Fit the (bucket, weight_micro) table from 0/1 weak labels.

    One corpus pass: ``groupBy(bucket)`` with map-side combine yields
    per-bucket class counts; the ≤n_buckets-row result is persisted and
    the grand totals are aggregated from it (not from a re-scan), then
    broadcast back onto the bucket rows. ``weight_micro`` is the
    α-smoothed log-odds in integer micro-nats.

    The corpus pass is EAGER: the ≤n_buckets-row class-count table is
    materialized JVM-side via ``localCheckpoint`` (all arithmetic runs
    in Spark expressions, so values stay engine-exact vs the SQL
    oracle; no driver/Arrow round-trip). The checkpointed blocks are
    freed by the ContextCleaner once the returned DataFrame is
    unreachable — not synchronously at return — so repeated fits in a
    long session carry a small, GC-bounded block residue (≤n_buckets
    rows each); the returned plan still references the blocks, which
    is why there is no explicit unpersist here. The weight projection
    over it stays lazy (metadata-cheap); the table is broadcast-joined
    in downstream scoring.
    """
    tok = _token_buckets(df, text_col, id_col, n_buckets, extra=[label_col])
    b = tok.select(F.col("bucket"), F.col(label_col).cast("long").alias("pos"))
    # ONE eager materialization (r15; formerly persist(counts) →
    # totals job → weights localCheckpoint → unpersist — two
    # materializations plus cache bookkeeping for the same
    # ≤n_buckets-row table): the corpus pass lands in the checkpointed
    # counts; totals and the weight arithmetic are metadata-cheap jobs
    # over it. All arithmetic stays in Spark expressions (engine-exact
    # vs the SQL oracle; no driver/Arrow round-trip), and the weight
    # table stays lazy — its one consumer is the scoring broadcast.
    counts = (
        b.groupBy("bucket")
        .agg(
            F.sum("pos").alias("pos_n"),
            F.sum(F.lit(1) - F.col("pos")).alias("neg_n"),
        )
        .localCheckpoint()
    )
    totals = counts.agg(
        F.sum("pos_n").alias("pos_tot"), F.sum("neg_n").alias("neg_tot")
    )
    ab = alpha * n_buckets
    w = (
        F.log(F.col("pos_n") + F.lit(alpha))
        - F.log(F.col("pos_tot") + F.lit(ab))
        - F.log(F.col("neg_n") + F.lit(alpha))
        + F.log(F.col("neg_tot") + F.lit(ab))
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(F.lit(1_000_000) * w, 0).cast("long").alias("weight_micro"),
    )


def weights_as_map(weights: DataFrame) -> dict[int, int]:
    """Collect a fitted weight table to a {bucket: weight_micro} dict.

    The table is ≤n_buckets rows by construction (a few KB), so this is
    a safe driver pull — it is how the model ships to a streaming job
    or another cluster."""
    return {r["bucket"]: r["weight_micro"] for r in weights.collect()}


def score_token_logodds_rowwise(
    df: DataFrame,
    weight_map: dict[int, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    default_weight_micro: int = 0,
) -> DataFrame:
    """Row-local scorer: same outputs as :func:`score_token_logodds`,
    computed per row with no shuffle — the deployment shape.

    An Arrow-batched pandas UDF holds the (≤n_buckets-entry) weight map
    and scores each document independently, so the operator is
    stateless: it runs unchanged on a Structured Streaming frame (the
    batch twin is pinned equal in tests), needs no watermark, and adds
    zero exchanges to the plan. md5 bucketing matches the relational
    scorer exactly (hashlib and Spark's ``md5`` agree byte-for-byte),
    and tokenization splits on ``\\s+`` with ``re.ASCII`` to match
    Java-regex whitespace semantics — batch-vs-rowwise results are
    identical for any text whose lowercase mapping agrees between
    Python and the JVM (all of ASCII/Latin; the exotic exceptions like
    dotted-İ are documented Unicode edge cases).
    """
    import re

    from pyspark.sql.functions import pandas_udf

    wm = dict(weight_map)
    default = int(default_weight_micro)
    ws = re.compile(r"\s+", re.ASCII)

    @pandas_udf("long")
    def _w_sum(texts: pd.Series) -> pd.Series:
        import hashlib

        out = []
        for t in texts:
            s = 0
            for tok in ws.split(str(t or "").lower()):
                if not tok:
                    continue
                # match md5_hash64: first 15 hex chars of md5 → int
                h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % n_buckets
                s += wm.get(h, default)
            out.append(s)
        return pd.Series(out)

    # token count stays a native JVM expression — only the weight-map
    # lookup needs Python
    n_tok = F.size(tokenize_expr(F.lower(F.col(text_col)))).cast("long")
    out = df.withColumn("n_tok", n_tok).withColumn("w_sum", _w_sum(F.col(text_col)))
    return out.select(
        F.col(id_col),
        "n_tok",
        "w_sum",
        (
            F.col("w_sum") / (F.lit(1_000_000.0) * F.greatest(F.col("n_tok"), F.lit(1)))
        ).alias("score"),
        (F.col("w_sum") > 0).cast("int").alias("pred"),
    )


def score_token_logodds(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    default_weight_micro: int = 0,
) -> DataFrame:
    """Score documents against a fitted weight table.

    Output: (id, n_tok, w_sum, score, pred) where ``w_sum`` is the
    exact integer micro-nat sum, ``score = w_sum / (1e6 · n_tok)`` the
    mean log-odds per token, ``pred = 1`` iff the sum is positive.
    Tokens hashing to a bucket absent from the weight table contribute
    ``default_weight_micro`` (0 = neutral prior).
    """
    tok = _token_buckets(df, text_col, id_col, n_buckets)
    joined = tok.join(F.broadcast(weights), "bucket", "left")
    return (
        joined.groupBy(F.col(id_col))
        .agg(
            F.count("*").alias("n_tok"),
            F.sum(
                F.coalesce(F.col("weight_micro"), F.lit(default_weight_micro))
            ).alias("w_sum"),
        )
        .select(
            F.col(id_col),
            "n_tok",
            "w_sum",
            (F.col("w_sum") / (F.lit(1_000_000.0) * F.col("n_tok"))).alias("score"),
            (F.col("w_sum") > 0).cast("int").alias("pred"),
        )
    )
