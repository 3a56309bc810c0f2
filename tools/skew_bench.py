"""Adversarial-skew stress bench — measures the repo's skew defenses.

Every skew guard in the engine (salted group-concat, LSH ``max_bucket``
cap, map-side combine on token aggregations) is argued in docstrings;
this tool measures them. It synthesizes uniform and adversarially
skewed twins of three workloads and times the guarded vs unguarded
paths on identical hardware in one session (so numbers are directly
comparable):

1. **Hot patient** — one key owns 10% of a 2M-row entries table.
   ``merge_on_column`` (plain single-shuffle agg) vs
   ``merge_on_column_salted`` (two-phase, 16 salts).
2. **Hot LSH bucket** — 10% of 50k docs share a near-identical body
   (distinct trailing token, so ``collapse_exact`` cannot collapse
   them); they land in one LSH bucket of ~5k members ≈ 12.5M candidate
   pairs if uncapped. ``minhash_lsh_pairs`` with the default
   ``max_bucket=1000`` cap vs the cap disabled.
3. **Hot token** — one token is ~half of all corpus occurrences.
   ``fit_token_logodds`` + ``score_token_logodds`` on uniform vs
   skewed text: the hashed-bucket groupBy sees one hot bucket, which
   partial (map-side) aggregation should absorb entirely.

Usage: python tools/skew_bench.py [scratch_dir]
Prints one JSON line per measurement and a markdown table for PERF.md.
All data is deterministic (seedless arithmetic on ids).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.session import local_cpus

N_ENTRIES = 2_000_000
N_KEYS = 100_000
N_DOCS = 50_000
HOT_FRAC = 10  # 1/HOT_FRAC of rows/docs are hot


def _spark() -> SparkSession:
    cpus = local_cpus()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("skew-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )


def _time(label: str, df: DataFrame, repeats: int = 2) -> float:
    # min over repeats: the first execution of a query shape pays
    # codegen/footer warmup, which otherwise biases whichever case
    # happens to run first (observed: it made "uniform" look 4x slower
    # than the identical-shape "skewed" twin).
    best = None
    for _ in range(repeats):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        best = wall if best is None else min(best, wall)
    best = round(best, 2)
    print(json.dumps({"case": label, "sec": best, "repeats": repeats}), flush=True)
    return best


# ---------------------------------------------------------------------------
# Dataset builders (deterministic, written to scratch parquet so every
# timed run reads the same on-disk input instead of re-running the
# generator expressions inside the timed region)
# ---------------------------------------------------------------------------

def build_entries(spark: SparkSession, path: str, skewed: bool) -> None:
    base = spark.range(N_ENTRIES)
    if skewed:
        # first 10% of ids -> key 0; rest uniform over N_KEYS
        key = F.when(F.col("id") < N_ENTRIES // HOT_FRAC, F.lit(0)).otherwise(
            F.col("id") % N_KEYS
        )
    else:
        key = F.col("id") % N_KEYS
    df = base.select(
        key.cast("long").alias("PATNR"),
        F.concat(F.lit("entry text number "), F.col("id").cast("string")).alias("text"),
        (F.col("id") % 2).cast("int").alias("annotation"),
    )
    df.write.mode("overwrite").parquet(path)


def build_docs(spark: SparkSession, path: str, skewed: bool) -> None:
    # 60-word body per doc: uniform docs draw words from a 5k vocab by
    # id arithmetic; hot docs (first 10%) share one fixed body and get
    # a unique trailing token (distinct text => collapse_exact keeps
    # them; near-identical shingles => one hot LSH bucket).
    base = spark.range(N_DOCS)
    words = F.transform(
        F.sequence(F.lit(0), F.lit(59)),
        lambda i: F.concat(
            F.lit("w"), ((F.col("id") * 61 + i * 2654435761) % 5000).cast("string")
        ),
    )
    uniform_text = F.array_join(words, " ")
    hot_body = " ".join(f"common{j}" for j in range(60))
    hot_text = F.concat(F.lit(hot_body + " uniq"), F.col("id").cast("string"))
    if skewed:
        text = F.when(F.col("id") < N_DOCS // HOT_FRAC, hot_text).otherwise(uniform_text)
    else:
        text = uniform_text
    df = base.select(F.col("id").alias("doc_id"), text.alias("text"))
    df.write.mode("overwrite").parquet(path)


def build_label_docs(spark: SparkSession, path: str, skewed: bool) -> None:
    # 40 tokens per doc. Skewed: tokens alternate hot/varied -> the one
    # hot token is ~50% of all occurrences.
    base = spark.range(N_DOCS)
    if skewed:
        tok = lambda i: F.when(  # noqa: E731
            i % 2 == F.lit(0), F.lit("hottoken")
        ).otherwise(
            F.concat(F.lit("t"), ((F.col("id") * 31 + i * 7) % 20000).cast("string"))
        )
    else:
        tok = lambda i: F.concat(  # noqa: E731
            F.lit("t"), ((F.col("id") * 31 + i * 7) % 20000).cast("string")
        )
    words = F.transform(F.sequence(F.lit(0), F.lit(39)), tok)
    df = base.select(
        F.col("id").alias("doc_id"),
        F.array_join(words, " ").alias("text"),
        (F.col("id") % 3 == 0).cast("int").alias("is_pos"),
    )
    df.write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# Cases
# ---------------------------------------------------------------------------

def main() -> int:
    scratch = sys.argv[1] if len(sys.argv) > 1 else os.path.join(_REPO_ROOT, ".scratch", "skew")
    spark = _spark()
    spark.sparkContext.setLogLevel("ERROR")

    from diagnosisextraction_ml_spark.operators.dedup import minhash_lsh_pairs
    from diagnosisextraction_ml_spark.operators.prep import (
        merge_on_column,
        merge_on_column_salted,
    )
    from diagnosisextraction_ml_spark.operators.quality_model import (
        fit_token_logodds,
        score_token_logodds,
    )

    paths = {
        "entries_uniform": (build_entries, False),
        "entries_skewed": (build_entries, True),
        "docs_uniform": (build_docs, False),
        "docs_skewed": (build_docs, True),
        "ldocs_uniform": (build_label_docs, False),
        "ldocs_skewed": (build_label_docs, True),
    }
    for name, (builder, skewed) in paths.items():
        builder(spark, os.path.join(scratch, name), skewed)
    read = {k: spark.read.parquet(os.path.join(scratch, k)) for k in paths}
    results: dict[str, float] = {}

    # 1. group-concat: plain vs salted on uniform vs hot-patient
    for data in ("uniform", "skewed"):
        df = read[f"entries_{data}"]
        results[f"group_concat_plain_{data}"] = _time(
            f"group_concat_plain_{data}", merge_on_column(df)
        )
        results[f"group_concat_salted_{data}"] = _time(
            f"group_concat_salted_{data}", merge_on_column_salted(df)
        )

    # 2. LSH banding: capped vs uncapped on uniform vs hot-bucket corpus
    for data in ("uniform", "skewed"):
        df = read[f"docs_{data}"]
        results[f"lsh_capped_{data}"] = _time(
            f"lsh_capped_{data}", minhash_lsh_pairs(df, max_bucket=1000)
        )
    # uncapped only on skewed (uniform has no big buckets; capped==uncapped)
    results["lsh_uncapped_skewed"] = _time(
        "lsh_uncapped_skewed",
        minhash_lsh_pairs(read["docs_skewed"], max_bucket=1 << 40),
        repeats=1,  # ~200s; the 10x effect needs no min-of-2
    )

    # 3. quality classifier train+score on uniform vs hot-token corpus
    for data in ("uniform", "skewed"):
        df = read[f"ldocs_{data}"]
        best = None
        for _ in range(2):
            t0 = time.time()
            w = fit_token_logodds(df, "is_pos")  # eager
            scored = score_token_logodds(df, w)
            scored.write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            best = wall if best is None else min(best, wall)
        best = round(best, 2)
        print(json.dumps({"case": f"quality_fit_score_{data}", "sec": best, "repeats": 2}), flush=True)
        results[f"quality_fit_score_{data}"] = best

    # Markdown summary for PERF.md
    def r(a: str, b: str) -> str:
        return f"{results[a] / max(results[b], 1e-9):.2f}x"

    print()
    print("| case | uniform | skewed | skew/uniform |")
    print("|---|---|---|---|")
    print(
        f"| group_concat plain | {results['group_concat_plain_uniform']}s "
        f"| {results['group_concat_plain_skewed']}s "
        f"| {r('group_concat_plain_skewed', 'group_concat_plain_uniform')} |"
    )
    print(
        f"| group_concat salted | {results['group_concat_salted_uniform']}s "
        f"| {results['group_concat_salted_skewed']}s "
        f"| {r('group_concat_salted_skewed', 'group_concat_salted_uniform')} |"
    )
    print(
        f"| lsh_pairs capped (max_bucket=1000) | {results['lsh_capped_uniform']}s "
        f"| {results['lsh_capped_skewed']}s "
        f"| {r('lsh_capped_skewed', 'lsh_capped_uniform')} |"
    )
    print(
        f"| lsh_pairs uncapped | — | {results['lsh_uncapped_skewed']}s "
        f"| {r('lsh_uncapped_skewed', 'lsh_capped_uniform')} vs capped-uniform |"
    )
    print(
        f"| quality fit+score | {results['quality_fit_score_uniform']}s "
        f"| {results['quality_fit_score_skewed']}s "
        f"| {r('quality_fit_score_skewed', 'quality_fit_score_uniform')} |"
    )
    shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
