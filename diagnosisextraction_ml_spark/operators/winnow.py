"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003).

MOSS-style local fingerprinting: hash every character k-gram, slide a
window of ``w`` consecutive gram hashes over each document, and select
the minimum hash of every window (rightmost on ties). The selection is
position-robust — any shared substring of length ≥ k + w − 1 between
two documents is *guaranteed* to share at least one fingerprint — which
is what makes it the standard tool for plagiarism / benchmark-
contamination detection where the fixed-stride 13-gram overlap
(:func:`..operators.dedup.decontam_ngram_overlap`) can be defeated by
single-character edits shifting gram boundaries.

The reference repo has no equivalent (its dedup is patient-level row
identity); this sits in the LLM-data-pipeline extension surface next
to MinHash/SimHash and the 13-gram decontamination.

Cross-engine determinism: gram hashes are the repo's md5 hash
(functions/hashing.py) reduced to 40 bits and packed with the gram
position into one int64 — ``packed = hash40·2^22 + (2^22−1−pos)`` — so
a single integer ``min`` over the window frame implements "min hash,
rightmost position on ties" in both Spark and the DuckDB oracle with
no struct comparison. Positions are bounded at 2^22 characters
(4 Mi chars ≈ 8× a full novel); longer texts raise at plan-build time
via the caller contract rather than silently mis-packing.

Plan shape at 100 TB: one corpus scan → explode to gram rows (O(chars)
— same cost class as every shingle operator here) → ONE hash-partition
exchange keyed by doc id for the window min (each doc's grams sort
within a partition; doc ids are high-cardinality, so the exchange
parallelizes evenly) → per-doc distinct + aggregate. The contamination
join broadcasts the benchmark-side fingerprint set (benchmarks are
MB-sized against a 100 TB corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.functions.hashing import md5_hash64
from diagnosisextraction_ml_spark.functions.text import normalize_ws

DEFAULT_K = 8  # gram size (chars)
DEFAULT_W = 4  # window size (grams); guarantee length = k + w - 1
_POS_BITS = 22  # positions < 2^22 chars per document
_POS_MOD = 1 << _POS_BITS
_HASH_MOD = 1 << 40  # 40-bit gram hash; 40 + 22 = 62 bits packed


def _normalized(text_col: str):
    """Winnowing pre-pass: casefold + collapse runs of whitespace."""
    return normalize_ws(F.lower(F.col(text_col)))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_K,
    w: int = DEFAULT_W,
) -> DataFrame:
    """(id, pos, fp_hash) — the selected winnowing fingerprints.

    Every full window of ``w`` consecutive gram hashes contributes its
    minimum (rightmost on ties); a document with fewer than ``w`` grams
    contributes the minimum over all its grams, so every document with
    ≥ 1 gram (length ≥ k after normalization) has ≥ 1 fingerprint.
    """
    s = _normalized(text_col)
    base = df.select(
        F.col(id_col),
        s.alias("s"),
        (F.length(s) - F.lit(k - 1)).alias("n_grams"),
    ).filter(F.col("n_grams") >= 1)
    grams = base.select(
        F.col(id_col),
        "n_grams",
        F.explode(F.sequence(F.lit(1), F.col("n_grams"))).alias("pos"),
        F.col("s"),
    ).select(
        F.col(id_col),
        "n_grams",
        "pos",
        (
            (md5_hash64(F.col("s").substr(F.col("pos"), F.lit(k))) % _HASH_MOD)
            * _POS_MOD
            + (F.lit(_POS_MOD - 1) - F.col("pos"))
        ).alias("packed"),
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    # rows with pos >= least(w, n_grams) see a full window (or, for
    # docs shorter than w grams, the whole doc at the final row).
    selected = (
        grams.withColumn("wmin", F.min("packed").over(win))
        .filter(F.col("pos") >= F.least(F.lit(w), F.col("n_grams")))
        .select(F.col(id_col), F.col("wmin"))
        .distinct()
    )
    # integer div, not float: packed values use 62 bits, beyond the
    # 53-bit double mantissa.
    return selected.select(
        F.col(id_col),
        (F.lit(_POS_MOD - 1) - F.col("wmin") % _POS_MOD).alias("pos"),
        F.expr(f"wmin div {_POS_MOD}").alias("fp_hash"),
    )


def winnow_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_K,
    w: int = DEFAULT_W,
) -> DataFrame:
    """(id, n_grams, n_fp, density_micro) — fingerprint density per doc.

    Expected density is 2/(w+1) (the winnowing paper's Thm. 2); a far
    denser profile marks repetitive low-entropy text. Integer
    micro-ratio keeps the result hash-exact cross-engine.
    """
    fps = winnow_fingerprints(df, text_col, id_col, k, w)
    s = _normalized(text_col)
    per_doc = df.select(
        F.col(id_col), (F.length(s) - F.lit(k - 1)).alias("n_grams")
    ).filter(F.col("n_grams") >= 1)
    counts = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    return (
        per_doc.join(counts, id_col)
        .select(
            id_col,
            F.col("n_grams").cast("long").alias("n_grams"),
            "n_fp",
            F.expr("1000000 * n_fp div n_grams").alias("density_micro"),
        )
    )


def winnow_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_K,
    w: int = DEFAULT_W,
) -> DataFrame:
    """(id, n_fp, n_hit, overlap_micro) — benchmark-contamination score.

    A corpus document's distinct fingerprint *hashes* are matched
    against the union of the benchmark side's fingerprint hashes; the
    winnowing guarantee makes any verbatim overlap of
    ≥ k + w − 1 characters detectable regardless of position. The
    benchmark fingerprint set is broadcast (benchmarks are MB-sized
    against a 100 TB corpus); only per-doc (id, count) rows shuffle.
    """
    corpus_fps = (
        winnow_fingerprints(corpus, text_col, id_col, k, w)
        .select(F.col(id_col), "fp_hash")
        .distinct()
    )
    bench_fps = (
        winnow_fingerprints(benchmark, text_col, id_col, k, w)
        .select("fp_hash")
        .distinct()
    )
    hits = (
        corpus_fps.join(F.broadcast(bench_fps), "fp_hash")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    totals = corpus_fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    return (
        totals.join(hits, id_col, "left")
        .select(
            id_col,
            "n_fp",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.expr(
                "1000000 * coalesce(n_hit, 0) div n_fp"
            ).alias("overlap_micro"),
        )
    )
