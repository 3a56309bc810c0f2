"""Bucketed-table layout — pre-shuffled storage for co-located joins.

At 100 TB the dominant cost of fact⋈fact joins is the shuffle. Spark's
bucketed tables write each side pre-hash-partitioned (and optionally
pre-sorted) on the join key, so a later equi-join on that key reads
both sides bucket-by-bucket with NO exchange — the shuffle is paid
once at write time and amortized over every subsequent join/agg on the
same key (the classic warehouse layout move; see also
``similarity.write_bucketed_corpus`` for the ANN variant with
partition pruning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed_table(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Save ``df`` as a parquet table bucketed (and sorted) by
    ``key``. Joins/aggregations on ``key`` between tables with the
    same bucket count then plan without a shuffle.

    Without ``path`` the table is managed (lives in
    ``spark.sql.warehouse.dir`` — typically ``./spark-warehouse``,
    which requires a writable CWD). With ``path`` it is EXTERNAL: the
    bucketed data lands at ``path`` regardless of warehouse location,
    the right mode when the session's CWD is not yours (driver
    harnesses, notebooks)."""
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
