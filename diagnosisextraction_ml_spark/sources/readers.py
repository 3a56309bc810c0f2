"""Sources (SURVEY.md §2.1 S1/S2/S5) — explicit-schema readers.

The reference relies on pandas dtype inference
(`pd.read_csv(..., sep=';')`, notebook cell 4). We fix schemas up
front: at 100 TB an `inferSchema` pass is a full extra scan of the
data, and silent dtype drift (bool→string) breaks downstream plans.

Parity notes:
- entry-level EHR table: ``PATNR`` double, ``annotation`` boolean,
  ``text`` string (reference `sample_data/dummydata.csv`).
- patient-level cache: ``Text`` string, ``PATNR`` double, ``Outcome``
  string, ``|``-separated (reference notebook cells 17/19).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# SURVEY §1.1 — entry-level EHR table (ref: NB cell 4).
EHR_ENTRY_SCHEMA = StructType(
    [
        StructField("PATNR", DoubleType(), True),
        StructField("annotation", BooleanType(), True),
        StructField("text", StringType(), True),
    ]
)

# SURVEY §1.2 — patient-level preprocessed cache (ref: NB cells 17/19).
EHR_PATIENT_SCHEMA = StructType(
    [
        StructField("Text", StringType(), True),
        StructField("PATNR", DoubleType(), True),
        StructField("Outcome", StringType(), True),
    ]
)

# FIXTURES.md §4 — golden prediction files (ref: writePredictionsToFile,
# src/TextClassification.py:431-444).
PREDICTIONS_SCHEMA = StructType(
    [
        StructField("PRED", DoubleType(), True),
        StructField("TRUE", IntegerType(), True),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_ehr_entries(
    spark: SparkSession, path: str, sep: str = ";", fill_empty_text: bool = True
) -> DataFrame:
    """S1 — read the `;`-separated entry-level EHR CSV.

    Ref: ``pd.read_csv(path, sep=';')`` + ``fillna('')`` (NB cells 4, 17).
    """
    df = spark.read.csv(path, sep=sep, header=True, schema=EHR_ENTRY_SCHEMA)
    if fill_empty_text:
        df = df.na.fill({"text": ""})  # S5
    return df


def read_patient_cache(spark: SparkSession, path: str) -> DataFrame:
    """S2 — re-read the `|`-separated preprocessed patient cache.

    Ref: ``pd.read_csv(path, sep='|')`` + ``fillna('')`` (NB cell 19).
    """
    df = spark.read.csv(path, sep="|", header=True, schema=EHR_PATIENT_SCHEMA)
    return df.na.fill({"Text": ""})


def read_predictions(spark: SparkSession, path: str) -> DataFrame:
    """Read a golden ``pred*.csv`` file (PRED|TRUE) — curve-engine oracle."""
    return spark.read.csv(path, sep="|", header=True, schema=PREDICTIONS_SCHEMA)


def _freshness_token(path: str) -> tuple:
    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return (None, None)


def session_memo(
    spark: SparkSession, path: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """The DataFrame over ``path`` memoized on ``spark`` itself, built
    by ``build()`` on a miss.

    spark.read.parquet() re-lists the path and re-reads footers for
    schema on EVERY call — measured 20-60 ms of driver-side work per
    table per query at sf0.1, and a full remote listing per query at
    warehouse scale; a catalog lookup of a published layout costs
    ~50-100 ms more. A catalog resolves a table once per session, and
    this memo is exactly that. No DATA is cached: an entry is a lazy
    plan, every action still scans the files.

    The memo lives on the session object, so a ``newSession()`` child
    (own conf, own temp views) never receives a DataFrame bound to its
    parent, and a stopped session takes its memo with it. It holds one
    entry per path, tagged with the path's freshness token (mtime_ns +
    size); a changed token — regenerated files, a republished or
    removed layout — REPLACES the entry instead of serving a stale file
    listing.
    """
    memo = vars(spark).setdefault("_table_memo", {})
    hit = memo.get(path)
    if hit is not None and hit[0] == _freshness_token(path):
        return hit[1]
    df = build()
    memo[path] = (_freshness_token(path), df)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated parquet table (TESTDATA.md).

    ``events.ts`` has drifted across testdata generations — normalize
    every on-disk shape to a canonical ``TimestampType`` so downstream
    plans (``unix_micros``, ``withWatermark``, ``session_window``) see
    one type regardless of which generation of parquet is on disk:

    - TIMESTAMP(NANOS): rejected by the parquet reader by default —
      read the nanos as long (legacy conf) and convert with *integer*
      arithmetic (``ts DIV 1000``: nanos ~1.7e18 exceed double's
      53-bit mantissa, so a float division would corrupt low digits).
    - TIMESTAMP_NTZ (``timestamp[us]``, isAdjustedToUTC=false — the
      current driver output): ``cast("timestamp")``. The session
      timezone is pinned UTC (session.py), so the cast is a pure
      relabel — bit-identical micros, matching the DuckDB oracle's
      ``CAST(ts AS TIMESTAMP)`` exactly.
    - TIMESTAMP: already canonical, no-op.
    """
    path = f"{os.path.realpath(sf_dir)}/{name}.parquet"
    return session_memo(spark, path, lambda: _read_parquet(spark, sf_dir, name))


def _read_parquet(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name != "events":
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every TESTDATA table as a dict name → DataFrame."""
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}
