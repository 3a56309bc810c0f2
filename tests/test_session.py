"""Session factory defaults."""

from __future__ import annotations

import os

from diagnosisextraction_ml_spark.session import local_cpus


def test_local_cpus_defaults_to_host_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == str(len(os.sched_getaffinity(0)))


def test_local_cpus_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == "3"


# perfbench's headline_queries set: one pass compiles about 237
# whole-stage-codegen classes, more than Spark's default cache of 100.
HEADLINE_QUERIES = [
    "rel_q1_pricing",
    "rel_q5_region_revenue",
    "rel_pareto_share",
    "events_sessionize",
    "text_top_words",
    "dedup_lsh_band_pairs",
    "search_bm25_topk",
    "graph_pagerank_top",
    "assoc_rules_pairs",
]


def test_repeated_queries_reuse_generated_code(spark, sf_dir):
    """A pass over queries the session has already run twice compiles
    no new class: the codegen cache holds the whole working set."""
    from diagnosisextraction_ml_spark.plans.queries import queries

    registry = queries()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    counts = [compiles.getCount()]
    for _ in range(3):
        for name in HEADLINE_QUERIES:
            registry[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        counts.append(compiles.getCount())
    per_pass = [b - a for a, b in zip(counts, counts[1:])]
    assert per_pass[2] == 0, f"compiles per pass: {per_pass}"
