"""Interchange formats — JSONL and ORC sources/sinks, partitioned parquet.

North-star extensions beyond the reference's CSV surface (the
reference reads only `;`/`|`-delimited CSV — src/run_Pipeline.py): the
formats a large-scale training-data pipeline actually exchanges.

- **JSONL** is the lingua franca of LLM corpus distribution (one JSON
  object per line, splittable, appendable). Reading always takes an
  **explicit schema**: `inferSchema`-style sampling is a full extra
  pass over 100 TB and can silently widen types between runs —
  schema-on-read must be pinned, not guessed.
- **ORC** comes for free from Spark's native vectorized reader/writer
  (predicate pushdown + column pruning, same as parquet) — included so
  a user with ORC-resident data needs no conversion step.
- **Hive-partitioned parquet** is the layout that turns a filter on
  the partition column into *partition pruning*: the scan lists only
  matching directories, so a day-filter over a year of data reads
  1/365th of the files. `read_partitioned` + a pruning assertion lives
  in tests/test_formats.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write one JSON object per line (Spark's native json sink).

    Each output task writes its partition independently — fully
    parallel, no driver involvement.
    """
    df.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Read JSONL with a **required** explicit schema.

    ``mode=FAILFAST`` surfaces corrupt lines immediately instead of
    nulling them — at corpus scale a silent null-out is how bad
    encodes survive into training data.
    """
    return spark.read.schema(schema).option("mode", "FAILFAST").json(path)


def write_orc(df: DataFrame, path: str) -> None:
    """Native ORC sink (vectorized, column-pruned on read-back)."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """Hive-layout parquet: one directory per partition-column value.

    The write shuffles nothing by itself (each task writes its rows
    into per-value files); callers with many small partitions per task
    should ``repartition(*partition_cols)`` first so each partition
    value is written by few tasks — the classic small-files guard.
    """
    df.write.mode("overwrite").partitionBy(*list(partition_cols)).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a hive-partitioned dataset; filters on partition columns
    prune directories before any file is opened (assert via
    ``.explain`` showing the partition filter — see tests)."""
    return spark.read.parquet(path)
