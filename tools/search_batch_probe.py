"""bm25/qld batch-size probe.

Each scorer has one plan at every batch size: one corpus scan, a 1-row
stats broadcast, matched (doc, term) rows joined to the broadcast
(query_id, term) relation, a long sum per (query, doc) and a per-query
top-k window (Spark 4's WindowGroupLimit ranks per map partition before
the exchange, so it carries at most k rows per query and partition).
This probe measures how that plan's cost grows with the query count:
it builds N-query batches of two of the corpus' frequent tokens (so
every query matches documents), times the full scorer at each N on one
corpus, and records the wall and the plan's WindowGroupLimit/Exchange
counts. The default sizes start at 3, the registry queries' batch.

Usage: python tools/search_batch_probe.py [sf_dir] [n_list] [repeats]
Defaults: the sf0.1 test data (TESTDATA.md), n_list 3,10,100,1000,
repeats 2.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_list = [int(x) for x in (sys.argv[2] if len(sys.argv) > 2 else "3,10,100,1000").split(",")]
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    from pyspark.sql import functions as F

    from diagnosisextraction_ml_spark import get_spark
    from diagnosisextraction_ml_spark.operators import search

    spark = get_spark("search-batch-probe")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # Vocabulary sample: the corpus' most frequent tokens (bounded by
    # the one-scan scorer's MAX_SCAN_TERMS contract). Deterministic.
    vocab = [
        r["tok"]
        for r in (
            docs.select(F.explode(F.split("text", r"\s+")).alias("tok"))
            .filter(F.col("tok") != "")
            .groupBy("tok").count()
            .orderBy(F.desc("count"), F.asc("tok"))
            .limit(search.MAX_SCAN_TERMS // 2)
            .collect()
        )
    ]

    def batch(n: int) -> list[tuple[str, str]]:
        # two terms per query, cycling the vocab sample — every query
        # matches real documents, distinct terms stay <= |vocab|.
        out = []
        for i in range(n):
            out.append((f"q{i:05d}", vocab[(2 * i) % len(vocab)]))
            out.append((f"q{i:05d}", vocab[(2 * i + 1) % len(vocab)]))
        return out

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    results = {}
    for fn_name, fn in (("bm25_topk", search.bm25_topk), ("qld_topk", search.qld_topk)):
        per_n = {}
        for n in n_list:
            qb = batch(n)
            spark.sparkContext.setJobDescription(f"{fn_name} batch n={n}")
            walls = []
            for _ in range(repeats):
                t0 = time.time()
                noop(fn(docs, qb, k=10))
                walls.append(round(time.time() - t0, 3))
            plan = fn(docs, qb, k=10)._jdf.queryExecution().executedPlan().toString()
            per_n[n] = {
                "wall_sec": min(walls),
                "walls": walls,
                "n_window_group_limit": plan.count("WindowGroupLimit"),
                "n_exchange": plan.count("Exchange"),
            }
        results[fn_name] = per_n
        spark.sparkContext.setJobDescription(None)

    print(json.dumps({"sf_dir": sf_dir, "results": results}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
