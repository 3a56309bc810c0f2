"""BM25 and query-likelihood full-text retrieval as relational algebra.

North-star extension (no reference counterpart — the reference's only
retrieval is the word-match regex, src/TextClassification.py:57-75):
corpus search is a first-class need of a training-data pipeline
(querying for contamination, curating topical subsets, building
retrieval-augmented eval sets). Okapi BM25 with the Lucene idf variant
and Dirichlet-smoothed query likelihood are the standard ranking
functions, and both decompose cleanly into DataFrame algebra.

Each scorer has one plan, whatever the batch's query or term count:

- **One corpus scan** (:func:`_scan_term_tf`): per-doc ``dl`` and the
  tf of every distinct batch term as narrow columns, no shuffle.
- **One 1-row stats aggregate** (N, Σdl and per-term df or cf),
  broadcast back — Catalyst plans the constant-key join as a
  BroadcastNestedLoopJoin whose build side is a single row.
- **Matched postings only**: the per-doc tf vector is exploded to the
  (doc, term) rows with tf > 0, and each row's term score is computed
  once, however many queries share the term.
- **Queries are data, not expressions**: the metadata-sized
  (query_id, term) relation is broadcast-joined to the matched rows,
  then one long sum per (query, doc) and one per-query top-k window.
  Generated code grows with the distinct terms (capped at
  ``MAX_SCAN_TERMS``), never with the number of queries.
- **Determinism**: idf and every ln are quantized to integer
  micro-nats the moment they leave ``ln`` (the engine's standard dodge
  for libm's last ulp); each term's partial score is one
  exactly-rounded double multiply-divide chain — written in the same
  association order in the DuckDB oracle — rounded back to integer
  micro-units, and the per-doc sum is then integer arithmetic, exact
  in any accumulation order. Top-k carries the (score desc, doc_id asc)
  total order.

``build_bm25_index`` is the amortized alternative for a standing
workload wider than ``MAX_SCAN_TERMS``: the index build is the same
shape as word-count (Zipf-small vocabulary aggregate + postings
shuffle partitioned by (term, doc)). Nothing is ever collected to the
driver.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.functions.text import tokenize_expr

BM25_K1 = 1.2
BM25_B = 0.75


def build_bm25_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, dfreq, stats) — the three index relations.

    postings: (id, term, tf, dl) — dl denormalized in so scoring is
    self-contained; dfreq: (term, df); stats: 1 row (n_docs, total_dl).
    """
    tok = docs.select(
        F.col(id_col), F.explode(tokenize_expr(F.lower(F.col(text_col)))).alias("term")
    )
    postings = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = postings.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    postings = postings.join(dl, [id_col])
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    return postings, dfreq, stats


# _scan_term_tf emits one counted-projection column per distinct term,
# so a batch of T distinct terms costs O(corpus_tokens × T) and very
# wide batches additionally risk Catalyst expression-size limits. The
# "metadata-sized" contract is enforced here, not just documented: a
# standing workload wider than this belongs on build_bm25_index's
# term-partitioned postings, amortized across queries.
MAX_SCAN_TERMS = 256


def _empty_topk(docs: DataFrame, id_col: str) -> DataFrame:
    """Zero-row (query_id, rank, id, score_micro) with the id column's
    real type taken from ``docs`` — the shape every ``*_topk`` returns,
    used for the empty-query-batch early exit, which then never scans
    the corpus."""
    return docs.select(
        F.lit("").alias("query_id"),
        F.lit(1).alias("rank"),
        F.col(id_col),
        F.lit(0).cast("long").alias("score_micro"),
    ).limit(0)


def _scan_term_tf(
    docs: DataFrame, terms: list[str], text_col: str, id_col: str
) -> DataFrame:
    """(id, dl, __tf0..__tfN) — per-doc term frequencies for a LITERAL
    term batch, computed in one corpus scan with zero shuffle and
    materialized once for the stats aggregate and the scoring pass.

    The query batch is metadata-sized by API contract, so per-doc tf of
    each term is a projection over the token array (|terms| counted
    scans of an in-memory array — whole-stage codegen, no (doc, term)
    row ever exists, nothing exchanges until the vocabulary-sized stats
    aggregate). This replaces a full-corpus postings build whose
    groupBy shuffled EVERY token of EVERY document to score a
    handful of terms — the dominant cost at every scale and pure waste
    at 100 TB. ``build_bm25_index`` remains the amortized path when a
    large standing query workload justifies a term-partitioned index.

    Docs with no tokens are excluded, matching the postings-relation
    semantics (they produce no postings, so they never reach stats or
    rankings). null text → empty array → excluded likewise.
    """
    # The tokenize + per-term counts are CPU-bound projection work that
    # runs at the input's parallelism — fan a narrow (small single-file)
    # scan out to the session default, same guard as dedup.shingles();
    # a wide scan or shuffle-produced input skips it.
    if len(terms) > MAX_SCAN_TERMS:
        raise ValueError(
            f"query batch has {len(terms)} distinct terms; the one-scan "
            f"scorer is contracted to metadata-sized batches "
            f"(<= {MAX_SCAN_TERMS}). Build a standing index with "
            f"build_bm25_index and score against postings instead."
        )
    from diagnosisextraction_ml_spark.functions.partitioning import fan_out

    docs = fan_out(docs)
    toks = tokenize_expr(F.lower(F.col(text_col)))

    def _eq(term: str):
        # single-parameter lambda: a two-parameter one would be taken
        # as Spark's (element, index) variant
        return lambda x: x == F.lit(term)

    # localCheckpoint: the result is consumed twice — the 1-row stats
    # aggregate AND the scoring pass. Left lazy, the tokenize +
    # per-term counts re-run for each consumer (two full corpus scans;
    # measured 1.94→1.44 s at sf0.1). The materialized relation is the
    # NARROW (id, dl, tf…) projection — tiny next to the text it
    # replaces — so the one-scan rule holds at 100 TB too.
    return (
        docs.select(
            F.col(id_col),
            F.size(toks).cast("long").alias("dl"),
            *[
                F.size(F.filter(toks, _eq(t))).cast("long").alias(f"__tf{i}")
                for i, t in enumerate(terms)
            ],
        )
        .filter(F.col("dl") > 0)
        .localCheckpoint()
    )


def _query_batch(
    docs: DataFrame, query_terms: list[tuple[str, str]]
) -> tuple[list[str], DataFrame]:
    """(distinct terms sorted, query relation) of a batch. The relation
    (query_id, __ti, __nt) has one row per (query, term) occurrence — a
    term repeated in a query counts twice — with __ti the term's index
    in the sorted list and __nt the query's term count |q|."""
    terms = sorted({t for _, t in query_terms})
    tidx = {t: i for i, t in enumerate(terms)}
    n_terms = Counter(qid for qid, _ in query_terms)
    qt = docs.sparkSession.createDataFrame(
        [(qid, tidx[t], n_terms[qid]) for qid, t in query_terms],
        "query_id string, __ti int, __nt int",
    )
    return terms, qt


def _term_array(prefix: str, n: int):
    return F.array(*[F.col(f"{prefix}{i}") for i in range(n)])


def _rank_topk(
    per_doc: DataFrame, k: int, id_col: str, score_col: str = "score_micro"
) -> DataFrame:
    """(query_id, rank, id, score) — the k best docs per query, ties on
    id asc."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc(score_col), F.asc(id_col))
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, score_col)
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[tuple[str, str]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents per query: (query_id, rank, id, score_micro).

    ``query_terms`` is [(query_id, term), ...] — already-tokenized
    queries (a retrieval batch is metadata-sized by definition).
    Scores are integer micro-nat-scaled BM25; ties break on id asc.

    Plan: one :func:`_scan_term_tf` corpus pass, one 1-row stats/df
    aggregate broadcast back, the per-doc tf vector exploded to
    matched (doc, term) rows, one per-term score per row, a broadcast
    join with the (query_id, term) relation, a long sum per (query,
    doc) and one per-query top-k window. The arithmetic is the exact
    expression chain of the indexed formulation (idf quantized to
    micro-nats first, one rounded double chain per term, integer
    per-doc sum), so scores are bit-identical to the DuckDB oracle
    twin, which builds postings.
    """
    if not query_terms:
        return _empty_topk(docs, id_col)
    terms, qt = _query_batch(docs, query_terms)
    base = _scan_term_tf(docs, terms, text_col, id_col)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(len(terms))
        ],
    )
    per_term = (
        base.crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.col("dl"),
            F.col("n_docs"),
            (
                F.col("total_dl").cast("double") / F.col("n_docs").cast("double")
            ).alias("__avgdl"),
            _term_array("__df", len(terms)).alias("__dfs"),
            F.posexplode(_term_array("__tf", len(terms))).alias("__ti", "__tf"),
        )
        .filter(F.col("__tf") > 0)
    )
    dft = F.element_at("__dfs", F.col("__ti") + F.lit(1)).cast("double")
    idf_micro = (
        F.round(
            F.lit(1_000_000.0)
            * F.log(
                (F.col("n_docs").cast("double") - dft + F.lit(0.5))
                / (dft + F.lit(0.5))
                + F.lit(1.0)
            ),
            0,
        )
        .cast("long")
    )
    tf_d = F.col("__tf").cast("double")
    score = (
        F.round(
            (idf_micro.cast("double") * (tf_d * F.lit(1.0 + BM25_K1)))
            / (
                tf_d
                + F.lit(BM25_K1)
                * (
                    F.lit(1.0 - BM25_B)
                    + F.lit(BM25_B)
                    * (F.col("dl").cast("double") / F.col("__avgdl"))
                )
            ),
            0,
        )
        .cast("long")
    )
    per_doc = (
        per_term.withColumn("__s", score)
        .join(F.broadcast(qt), "__ti")
        .groupBy("query_id", id_col)
        .agg(F.sum("__s").alias("score_micro"))
    )
    return _rank_topk(per_doc, k, id_col)


QLD_MU = 1000


def qld_topk(
    docs: DataFrame,
    query_terms: list[tuple[str, str]],
    k: int = 10,
    mu: int = QLD_MU,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing — the second
    classical ranking model next to :func:`bm25_topk` (Zhai & Lafferty
    2004; QL wins on verbose queries where BM25's saturation hurts).

    score(q, d) = Σ_{t∈q} ln((tf + μ·cf_t/|C|) / (|d| + μ)), computed
    through the standard rank-equivalent split so only MATCHED postings
    do term work:

        Σ_{t∈q∩d} ln(1 + tf·|C| / (μ·cf_t))  +  |q| · ln(μ / (|d|+μ))

    Same plan as :func:`bm25_topk`: collection frequencies ride the
    1-row stats aggregate, the first part is one score per matched
    (doc, term) row summed per (query, doc) after the broadcast join
    with the (query_id, term, |q|) relation; the second is a per-doc
    constant that rides each matched row and is added once at the
    aggregation. Both ln results are quantized to integer micro-nats
    immediately, so the per-doc sum is exact integer arithmetic and the
    ranking is bit-identical across engines/partitionings.

    Output: (query_id, rank, id, score_micro), ties on id asc.
    """
    if not query_terms:
        return _empty_topk(docs, id_col)
    terms, qt = _query_batch(docs, query_terms)
    base = _scan_term_tf(docs, terms, text_col, id_col)
    stats = base.agg(
        F.sum("dl").alias("total_dl"),
        *[F.sum(f"__tf{i}").alias(f"__cf{i}") for i in range(len(terms))],
    )
    dl_term = F.round(
        F.lit(1_000_000.0)
        * F.log(
            F.lit(float(mu)) / (F.col("dl").cast("double") + F.lit(float(mu)))
        ),
        0,
    ).cast("long")
    per_term = (
        base.crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.col("total_dl"),
            dl_term.alias("__dlt"),
            _term_array("__cf", len(terms)).alias("__cfs"),
            F.posexplode(_term_array("__tf", len(terms))).alias("__ti", "__tf"),
        )
        .filter(F.col("__tf") > 0)
    )
    # tf > 0 ⇒ cf ≥ tf > 0, so the log argument is always finite
    cft = F.element_at("__cfs", F.col("__ti") + F.lit(1)).cast("double")
    part = (
        F.round(
            F.lit(1_000_000.0)
            * F.log(
                F.lit(1.0)
                + (F.col("__tf").cast("double") * F.col("total_dl").cast("double"))
                / (F.lit(float(mu)) * cft)
            ),
            0,
        )
        .cast("long")
    )
    # __dlt and __nt are constant within a (query, doc) group: min
    # re-attaches them without a second join.
    per_doc = (
        per_term.withColumn("__p", part)
        .join(F.broadcast(qt), "__ti")
        .groupBy("query_id", id_col)
        .agg(
            (
                F.sum("__p")
                + F.min("__nt").cast("long") * F.min("__dlt")
            ).alias("score_micro")
        )
    )
    return _rank_topk(per_doc, k, id_col)


RRF_K = 60


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    rrf_k: int = RRF_K,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of ranker outputs (Cormack et al. 2009) —
    the standard way to combine BM25 + QL (+ dense) lists without
    score calibration: fused(d) = Σ_r 1/(rrf_k + rank_r(d)).

    Each input carries (query_id, rank, id) from a ``*_topk`` call.
    The contribution is quantized to exact micro-units per (ranker,
    doc) — round(10⁶/(rrf_k+rank)) — so the fused sum is integer
    arithmetic: deterministic ties, engine-identical hashes. Union +
    one groupBy; the inputs are already top-k-sized per query.

    Output: (query_id, rank, id, rrf_micro).
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    contrib = None
    for r in rankings:
        c = r.select(
            "query_id",
            F.col(id_col),
            F.round(F.lit(1_000_000.0) / (F.lit(float(rrf_k)) + F.col("rank")), 0)
            .cast("long")
            .alias("c"),
        )
        contrib = c if contrib is None else contrib.unionByName(c)
    fused = contrib.groupBy("query_id", id_col).agg(
        F.sum("c").alias("rrf_micro")
    )
    return _rank_topk(fused, k, id_col, "rrf_micro")
