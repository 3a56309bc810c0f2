"""Hive-partitioned storage layout — partition pruning for time/category scans.

The complement to the bucketed layout (plans.queries._layout): bucketing
pre-pays the JOIN shuffle, directory partitioning pre-pays the SCAN.
At 100 TB a fact table carrying a time column is stored partitioned by
a coarse derivative of it (day, month) so that a query touching one
year reads one year's directories — the listing itself prunes, before
a single row is decoded. Spark shows the decision in the scan node's
``PartitionFilters:``; anything there never leaves storage.

Two rules make the layout safe rather than clever:

- The partition column is DERIVED (e.g. ``l_shipmonth =
  date_format(l_shipdate, 'yyyy-MM')``) and the original column is
  kept, so queries keep their exact predicates; the coarse partition
  predicate is an *implied* extra filter, never a replacement. Results
  are identical with or without the layout.
- Partition values are chosen to round-trip as STRINGS through Spark's
  partition-value type inference where possible (``yyyy-MM`` is not a
  parseable date so it stays a string); queries compare with string
  literals, which behave identically against an inferred DATE column
  (Spark casts the literal) and against the derived string column on
  the fallback path.

Granularity at 100 TB: aim for partitions of 100 MB-10 GB of parquet.
Day-partitioning a 100 TB/year table gives ~275 GB/day — right-sized;
minute-partitioning would create millions of tiny directories and the
listing would dominate. Too-fine partitioning is the classic failure
mode of this layout.

Within each partition the writer sorts on the fine-grained column the
partition value derives from, so row-group min/max statistics become
tight and predicate pushdown skips row groups INSIDE the surviving
directories — file-internal pruning composing with directory pruning
(tests/test_partitioned.py pins the ~4× span tightening). The writer
is ``plans.queries._layout``; this module keeps the read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_partitioned_table(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read a written layout. ``schema`` (the fallback DataFrame's
    schema) pins partition-value TYPES — Spark honors user-schema
    types for partition columns, so ``yyyy-MM-dd`` stays a string
    instead of inferring DATE — but Spark still APPENDS
    partition columns regardless of their declared position, so the
    read is re-projected to the schema's field order (a pure Project;
    partition pruning under it is unaffected — the filter still binds
    to the partition attribute beneath)."""
    return spark.read.schema(schema).parquet(path).select(
        *[f.name for f in schema.fields]
    )
