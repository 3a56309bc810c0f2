"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the host
cores this process may run on, single JVM), but every setting here is
chosen to also be the right default on a 1000-executor cluster reading
~100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  demote-to-broadcast) — on a real cluster this is what keeps the big
  joins/aggs healthy under skew without hand-tuning.
- Arrow on for pandas UDFs (the stemmer/edit-distance paths are
  Arrow-batched, never row-at-a-time).
- shuffle partitions default sized for local mode; on a cluster this is
  overridden by AQE's coalescing from
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
- generated-code cache sized to the engine's plan working set
  (``spark.sql.codegen.cache.maxEntries`` 2048, Spark's default is 100).
  Each JVM keeps an LRU cache of compiled generated classes. Measured
  working sets: about 237 classes for one pass of perfbench's nine
  ``headline_queries``, 80-100 per ``ehr_train_cv`` CV op and about
  650 for ``bench.py``'s 48 queries. At 100 entries every class is
  evicted before its reuse, so each repeated query or CV fold
  recompiles its plans, and the JIT then recompiles the new classes.
  On a cluster every executor JVM keeps its own cache, and a
  long-lived session cycles through the same working set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def local_cpus() -> str:
    """``$SPARK_GRAFT_CPUS``, else the number of cores this process may
    run on (its affinity mask, which honours taskset and cpusets)."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "diagnosisextraction_ml_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[<local_cpus()>]`` so the same entry
    points run unchanged on a cluster where the master is provided by
    spark-submit.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{local_cpus()}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- scale posture -------------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Pin the session timezone: timestamp parsing (unix_timestamp) and
        # window boundaries must not depend on the host's local zone — the
        # DuckDB oracle computes epoch() on naive timestamps (UTC), so a
        # non-UTC host would silently diverge on every ts-derived value.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for pandas UDFs / mapInPandas (the only Python
        # hot paths we allow are Arrow-batched).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Parquet scans: allow partition/file pruning to do its job.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Static conf: the per-JVM compiled-class cache (see module doc).
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # Keep the UI off in tests/bench (noise + port churn).
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Experiment hook: SPARK_GRAFT_EXTRA_CONF carries a JSON object of
    # additional spark confs (e.g. '{"spark.sql.adaptive.
    # coalescePartitions.parallelismFirst": "false"}') so A/B runs of
    # bench.py / the scale tools don't need code edits. Explicit
    # extra_conf from the caller wins over the env.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json

        for k, v in json.loads(env_conf).items():
            if not (extra_conf and k in extra_conf):
                builder = builder.config(k, str(v))
    return builder.getOrCreate()
