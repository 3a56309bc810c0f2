"""Language identification — trained char-n-gram Naive Bayes as algebra.

North-star extension (the reference corpus is monolingual Dutch; a
training-data pipeline needs per-document language ID before any
language-specific filter). This is the classic fastText/CLD-family
recipe reduced to its relational core: character trigram profiles per
language, add-one-smoothed multinomial scoring, argmax over languages.
Like the quality classifier (operators/quality_model.py) it trains AND
scores as pure DataFrame algebra with integer micro-nat weights, so
the DuckDB oracle replays both phases hash-exactly.

Decomposition (B = hash buckets, L = languages):

- **Train** (one labeled-corpus pass): explode char trigrams →
  ``C(lang, bucket)`` counts (≤ L·B rows, map-side combined) and
  per-language totals ``T(lang)``. Weights: ``lp(lang,b) =
  ln((C+1)/(T+B))``; stored as the *delta* against the unseen-bucket
  floor ``lp0(lang) = ln(1/(T+B))`` so scoring never needs the dense
  L×B matrix — absent (lang, bucket) pairs contribute exactly 0.
- **Score**: ``score(doc, lang) = n_tri(doc)·lp0(lang) + Σ_b
  n_b·(lp(lang,b) − lp0(lang))`` — algebraically identical to the full
  multinomial log-likelihood. ``n_tri`` is a pure length projection;
  the Σ term broadcast-joins the raw trigram occurrences against the
  sparse model (≤ L·B rows by construction, independent of corpus
  size) and partial-aggregates straight to (doc, lang) sums;
  the base term attaches the L-row totals as a broadcast (Catalyst
  folds the constant-key join to a single-row-build
  BroadcastNestedLoopJoin — the scalar-subquery plan). Argmax is a
  row_number window partitioned by document, ties broken lang-asc.
- **Integer-exact**: micro-nat weights are integers the moment they
  leave ``ln``; every score is then integer arithmetic — identical in
  any accumulation order and across engines.

At 100 TB: the model is fixed-size whatever the corpus; scoring is one
broadcast join + one groupBy(doc, lang) shuffle whose width is L× the
document count of *matched* buckets. Documents with no trigrams (len
< n) are unclassifiable and drop out — the composed pipelines treat
absence as "unknown".
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.functions.hashing import md5_hash64

# The trigram explode runs at the input's parallelism: fan_out spreads a
# narrow (single-file) scan so the CPU is not pinned to 1-2 cores.
from diagnosisextraction_ml_spark.functions.partitioning import fan_out

LANGID_N = 3
LANGID_BUCKETS = 4096


def _grams_expr(n: int = LANGID_N) -> Column:
    """All char n-grams of the projected ``_lid_t`` column.

    The CASE guard matters: Spark's ``sequence(1, 0)`` counts *down*
    ([1, 0]), so short texts must never reach the transform. The
    oracle SQL carries the same guard (DuckDB's range would just be
    empty, but the branches stay mirrored).
    """
    return F.expr(
        f"CASE WHEN length(_lid_t) >= {n} THEN "
        f"transform(sequence(1, length(_lid_t) - {n - 1}),"
        f" i -> substring(_lid_t, i, {n})) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def _bucket_counts(
    df: DataFrame, text_col: str, keys: list[str], n_buckets: int
) -> DataFrame:
    """(keys..., lid_bucket, nb) — trigram bucket multiplicities."""
    t = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    return (
        fan_out(df).select(*keys, t.alias("_lid_t"))
        .select(*keys, F.explode(_grams_expr()).alias("g"))
        .select(*keys, (md5_hash64(F.col("g")) % F.lit(n_buckets)).alias("lid_bucket"))
        .groupBy(*keys, "lid_bucket")
        .agg(F.count(F.lit(1)).alias("nb"))
    )


def _lp_micro(num: Column, den: Column) -> Column:
    """round(1e6 · ln(num/den)) as long — the engine's micro-nat quantum."""
    return F.round(F.lit(1_000_000.0) * F.log(num / den), 0).cast("long")


def fit_langid(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    n_buckets: int = LANGID_BUCKETS,
) -> tuple[DataFrame, DataFrame]:
    """(model, base): sparse per-(lang, bucket) deltas + per-lang floor.

    model: (lang, lid_bucket, adj_micro) where adj_micro =
    lp(lang,b) − lp0(lang) ≥ 0; base: (lang, lp0_micro).
    """
    # localCheckpoint: cb feeds the per-lang totals AND the model join
    # (twice within one model evaluation), and the scorer broadcasts
    # model and base separately — left lazy, every one of those
    # evaluations re-ran the full training-corpus char-gram explode
    # (r15 plan audit: langid_char_ngram scanned documents 6×; 3 after
    # — train once, test's two projections). The materialized relation
    # is the (lang, bucket, c) count table, ≤ |langs|·n_buckets rows.
    cb = (
        _bucket_counts(df, text_col, [label_col], n_buckets)
        .withColumnRenamed("nb", "c")
        .localCheckpoint()
    )
    tot = cb.groupBy(label_col).agg(F.sum("c").alias("t"))
    den = F.col("t").cast("double") + F.lit(float(n_buckets))
    base = tot.select(
        label_col, _lp_micro(F.lit(1.0), den).alias("lp0_micro")
    )
    model = (
        cb.join(tot, [label_col])
        .select(
            label_col,
            "lid_bucket",
            (
                _lp_micro(F.col("c").cast("double") + F.lit(1.0), den)
                - _lp_micro(F.lit(1.0), den)
            ).alias("adj_micro"),
        )
    )
    return model, base


def score_langid(
    df: DataFrame,
    model: DataFrame,
    base: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    n_buckets: int = LANGID_BUCKETS,
) -> DataFrame:
    """(id, pred_lang, score_micro) — argmax language per document.

    Documents with no char n-grams drop out (unclassifiable).

    One-scan scoring (round 10, the BM25/QLD discipline): the old plan
    pre-aggregated per-(doc, bucket) multiplicities — a groupBy shuffle
    of EVERY trigram occurrence — before the model join. Neither side
    needs it: ``n_tri`` is a pure length projection
    (``max(len − n + 1, 0)``, zero shuffle), and
    ``Σ_b n_b·adj = Σ_occurrences adj``, so the occurrences can hit the
    broadcast model directly and partial-aggregate straight to
    (doc, lang) sums — the only trigram-volume shuffle left carries
    map-side-combined (doc, lang) partials, ≤ L rows per doc.
    (sf1: 10s → ~4s.)
    """
    t = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    docs = fan_out(df).select(F.col(id_col), t.alias("_lid_t"))
    ntri = docs.select(
        F.col(id_col),
        F.greatest(
            F.length("_lid_t") - F.lit(LANGID_N - 1), F.lit(0)
        ).cast("long").alias("n_tri"),
    ).filter(F.col("n_tri") > 0)
    occ = docs.select(
        F.col(id_col), F.explode(_grams_expr()).alias("g")
    ).select(
        F.col(id_col), (md5_hash64(F.col("g")) % F.lit(n_buckets)).alias("lid_bucket")
    )
    adj = (
        occ.join(F.broadcast(model), ["lid_bucket"])
        .groupBy(id_col, label_col)
        .agg(F.sum("adj_micro").alias("adj_sum"))
    )
    one = F.lit(1).alias("j")
    scores = (
        ntri.select("*", one)
        .join(F.broadcast(base.select("*", one)), ["j"])
        .join(adj, [id_col, label_col], "left")
        .select(
            id_col,
            label_col,
            (
                F.col("n_tri") * F.col("lp0_micro")
                + F.coalesce(F.col("adj_sum"), F.lit(0))
            ).alias("score_micro"),
        )
    )
    # argmax as a lexicographic struct-min aggregation (r15; the
    # rel_min_cost_supplier treatment): min(struct(-score, lang))
    # realizes exactly the (score DESC, lang ASC) total order of the
    # former ranked window, with map-side combine instead of sorting
    # and shuffling every (doc, lang) score row.
    return (
        scores.groupBy(id_col)
        .agg(
            F.min(
                F.struct(
                    (-F.col("score_micro")).alias("n"), F.col(label_col)
                )
            ).alias("__m")
        )
        .select(
            id_col,
            F.col(f"__m.{label_col}").alias("pred_lang"),
            (-F.col("__m.n")).alias("score_micro"),
        )
    )
