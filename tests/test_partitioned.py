"""Hive-partitioned layout (sources/partitioned.py + queries._layout):
the coarse partition predicate must PRUNE at listing time (fewer
directories read), the exact predicates must stay pushed, and results
must be identical to the plain scan — including when the layout
machinery fails entirely (fallback path)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def _scan_lines(df, needle: str) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [l for l in plan.splitlines() if needle in l]


def test_q6_pruned_partition_filters_and_parity(spark, sf_dir):
    from diagnosisextraction_ml_spark.plans.queries import _layout, queries

    qs = queries()
    df = qs["rel_q6_revenue_pruned"](spark, sf_dir)
    scans = _scan_lines(df, "PartitionFilters")
    assert scans, "no FileScan with PartitionFilters in the plan"
    line = scans[0]
    # the month bounds prune; the exact shipdate predicates stay pushed
    assert "l_shipmonth" in line.split("PartitionFilters:")[1].split("]")[0]
    assert "GreaterThanOrEqual(l_shipda" in line or "l_shipdate" in line
    # file-level pruning is real: the year reads strictly fewer
    # directories than the table has, and exactly the matching months
    li = _layout(spark, sf_dir, "lineitem", part_col="l_shipmonth")
    total = li.select("l_shipmonth").distinct().count()
    pruned_files = (
        li.filter(
            (F.col("l_shipmonth") >= "1997-01") & (F.col("l_shipmonth") <= "1997-12")
        )
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    assert pruned_files < total
    assert pruned_files == 12  # testdata spans 1995-2001: full 1997
    # parity with the unpartitioned plain scan
    a = [tuple(r) for r in qs["rel_q6_forecast_revenue"](spark, sf_dir).collect()]
    b = [tuple(r) for r in df.collect()]
    assert a == b


def test_events_week_pruned_reads_seven_days(spark, sf_dir):
    from diagnosisextraction_ml_spark.plans.queries import _layout, queries

    qs = queries()
    df = qs["events_week_stats_pruned"](spark, sf_dir)
    scans = _scan_lines(df, "PartitionFilters")
    assert scans and "event_day" in scans[0].split("PartitionFilters:")[1].split("]")[0]
    ev = _layout(spark, sf_dir, "events", part_col="event_day")
    total = ev.select(F.input_file_name()).distinct().count()
    pruned = (
        ev.filter(F.col("event_day").between("2024-01-08", "2024-01-14"))
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    assert pruned == 7 and total >= 30  # one directory+file per day
    # parity with the same aggregate over the plain (unpartitioned) scan
    from diagnosisextraction_ml_spark.plans.queries import _t

    plain = (
        _t(spark, sf_dir, "events")
        .filter(
            (F.col("ts") >= F.lit("2024-01-08 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, plain.collect()))


def test_partitioned_fallback_is_identical(spark, sf_dir, monkeypatch):
    """Any layout failure must yield the plain scan with the derived
    column attached — same rows, same query results."""
    import diagnosisextraction_ml_spark.plans.queries as q

    qs = q.queries()
    want = [tuple(r) for r in qs["rel_q6_revenue_pruned"](spark, sf_dir).collect()]

    def boom() -> str:
        raise OSError("layout root unavailable")

    monkeypatch.setattr(q, "_bucketed_base_dir", boom)
    got_df = qs["rel_q6_revenue_pruned"](spark, sf_dir)
    # fallback plan has no partitioned scan — but identical results
    assert not _scan_lines(got_df, "PartitionFilters: [isnotnull(l_shipmonth")
    assert [tuple(r) for r in got_df.collect()] == want


def test_partitioned_layout_publish_is_atomic(spark, sf_dir):
    """A loser of the publish race (rename fails because the winner
    already landed) must silently read the winner's layout."""
    import os

    import diagnosisextraction_ml_spark.plans.queries as q

    ev = q._layout(spark, sf_dir, "events", part_col="event_day")
    n = ev.count()
    # simulate a losing racer: stage again while the published dir exists
    name = q._layout_name(sf_dir, "events", part_col="event_day")
    loc = os.path.join(q._bucketed_base_dir(), name)
    assert os.path.isdir(loc)
    again = q._layout(spark, sf_dir, "events", part_col="event_day")
    assert again.count() == n
    # no staging debris left behind
    parent = os.path.dirname(loc)
    assert not [d for d in os.listdir(parent) if d.startswith(f"{name}.stage")]


def test_dpp_months_dynamic_pruning_and_parity(spark, sf_dir):
    """rel_revenue_dpp_months: the month list is a runtime aggregate,
    so the fact scan must carry a dynamicpruningexpression partition
    filter (DPP), and results must equal the plain unpartitioned
    join."""
    from diagnosisextraction_ml_spark.plans.queries import _t, queries

    qs = queries()
    df = qs["rel_revenue_dpp_months"](spark, sf_dir)
    scans = _scan_lines(df, "PartitionFilters")
    assert any("dynamicpruningexpression" in l for l in scans)
    hot = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 499500)
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("m"))
        .distinct()
    )
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "l_shipmonth", F.date_format("l_shipdate", "yyyy-MM")
    )
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    plain = (
        li.join(hot, li["l_shipmonth"] == hot["m"])
        .groupBy(F.col("m").alias("ship_month"))
        .agg(
            F.sum(disc).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, plain.collect()))


def test_docs_lang_pruned_reads_one_language(spark, sf_dir):
    """docs_lang_pruned_stats: categorical pruning — the lang='en'
    predicate lists one of the five language directories."""
    from diagnosisextraction_ml_spark.plans.queries import _layout, queries

    qs = queries()
    df = qs["docs_lang_pruned_stats"](spark, sf_dir)
    scans = _scan_lines(df, "PartitionFilters")
    assert scans and "lang" in scans[0].split("PartitionFilters:")[1].split("]")[0]
    docs = _layout(spark, sf_dir, "documents", part_col="lang")
    langs = docs.select("lang").distinct().count()
    pruned = (
        docs.filter(F.col("lang") == "en")
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    total = docs.select(F.input_file_name()).distinct().count()
    assert langs == 5 and pruned < total
    # parity with the plain scan
    from diagnosisextraction_ml_spark.plans.queries import _t

    plain = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .withColumn(
            "avg_chars",
            F.round(F.col("total_chars").cast("double") / F.col("n_docs"), 6),
        )
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, plain.collect()))


def test_parquet_aggregate_pushdown_capability(spark, sf_dir, tmp_path):
    """Parquet footer-statistics aggregate pushdown: with
    spark.sql.parquet.aggregatePushdown on, MIN/MAX/COUNT over a
    parquet scan answer from row-group metadata (PushedAggregation in
    the scan node) — at 100 TB a table-wide COUNT/MIN/MAX reads
    footers, not data. Pinned here as a capability test (session conf,
    v2 scan) rather than a registered query: the registry's plans must
    not depend on a session flag."""
    src = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    path = str(tmp_path / "li_v2")
    src.write.mode("overwrite").parquet(path)
    prev = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    prev_v2 = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")  # v2 scans only
    try:
        df = spark.read.parquet(path).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_orderkey").alias("k0"),
            F.max("l_orderkey").alias("k1"),
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        # footer stats answer the whole aggregate (numeric columns only
        # — timestamp MIN/MAX is not pushdown-eligible in Spark 4.1)
        assert "PushedAggregation: [COUNT(*), MIN(l_orderkey), MAX(l_orderkey)]" in plan
        got = df.collect()[0]
        want = src.agg(
            F.count(F.lit(1)), F.min("l_orderkey"), F.max("l_orderkey")
        ).collect()[0]
        assert tuple(got) == tuple(want)
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev)
        if prev_v2 is None:
            spark.conf.unset("spark.sql.sources.useV1SourceList")
        else:
            spark.conf.set("spark.sql.sources.useV1SourceList", prev_v2)


@pytest.mark.slow
def test_partitioned_fact_two_process_concurrent_build(spark, sf_dir, tmp_path):
    """Same end-to-end race property as the bucketed layout's
    two-process test: a second OS process builds the SAME day-
    partitioned events layout concurrently; per-PID staging + one
    atomic rename means both read correct complete data and no staging
    debris survives."""
    import os
    import shutil
    import subprocess
    import sys

    import diagnosisextraction_ml_spark.plans.queries as q

    name = q._layout_name(sf_dir, "events", part_col="event_day")
    loc = os.path.join(q._bucketed_base_dir(), name)
    shutil.rmtree(loc, ignore_errors=True)  # force both sides to build

    script = tmp_path / "build_part_layout.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})\n"
        "from diagnosisextraction_ml_spark import get_spark\n"
        "from diagnosisextraction_ml_spark.plans import queries as q\n"
        "spark = get_spark('race-peer-p', master='local[2]', shuffle_partitions=4)\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        f"df = q._layout(spark, {sf_dir!r}, 'events', part_col='event_day')\n"
        "print('PEER_COUNT', df.count())\n"
    )
    peer = subprocess.Popen(
        [sys.executable, str(script)],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    df = q._layout(spark, sf_dir, "events", part_col="event_day")
    mine = df.count()
    out, _ = peer.communicate(timeout=300)
    assert peer.returncode == 0, out
    peer_count = int(
        [l for l in out.splitlines() if l.startswith("PEER_COUNT")][0].split()[1]
    )
    expect = q._t(spark, sf_dir, "events").count()
    assert mine == expect and peer_count == expect
    assert os.path.isdir(loc)
    assert not any(
        p.startswith(f"{name}.stage")
        for p in os.listdir(os.path.dirname(loc))
    )


def test_q12_combined_layout_prunes_and_joins_bucket_local(spark, sf_dir):
    """rel_q12_priority_lines_bucketed_pruned: the COMBINED layout must
    deliver both levers in one plan — month PartitionFilters on the
    lineitem scan AND zero orderkey Exchange on the join (broadcast
    off) — with results identical to plain Q12."""
    from diagnosisextraction_ml_spark.plans.queries import queries

    qs = queries()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = qs["rel_q12_priority_lines_bucketed_pruned"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning(l_orderkey") == 0
        assert plan.count("Exchange hashpartitioning(o_orderkey") == 0
        pf = [
            l
            for l in plan.splitlines()
            if "PartitionFilters" in l
            and "l_shipmonth" in l.split("PartitionFilters:")[1].split("]")[0]
        ]
        assert pf, "no month partition filter on the combined-layout scan"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    a = sorted(map(tuple, qs["rel_q12_priority_lines"](spark, sf_dir).collect()))
    b = sorted(map(tuple, df.collect()))
    assert a == b


def test_combined_layout_foreign_session_reregisters(spark, sf_dir):
    """A session whose catalog lacks the table must re-derive the
    combined table over the published directory via DDL + MSCK and
    read identical data. ``spark.newSession()`` SHARES SharedState
    (and therefore the external catalog) with its parent, so the
    catalog entry is explicitly dropped first — otherwise the
    tableExists early-return is taken and the DDL+MSCK path is never
    exercised (the two-process tests cover true catalog isolation)."""
    import diagnosisextraction_ml_spark.plans.queries as q

    base = q._layout(spark, sf_dir, "lineitem", "l_orderkey", "l_shipmonth")
    n = base.count()
    table = q._layout_name(sf_dir, "lineitem", "l_orderkey", "l_shipmonth")
    fresh = spark.newSession()
    fresh.sql(f"DROP TABLE IF EXISTS {table}")  # external: data stays
    assert not fresh.catalog.tableExists(table)
    again = q._layout(fresh, sf_dir, "lineitem", "l_orderkey", "l_shipmonth")
    assert fresh.catalog.tableExists(table)  # DDL+MSCK path ran
    assert again.count() == n


def test_layout_and_fallback_schemas_identical(spark, sf_dir):
    """The layout read and the plain-scan fallback must expose
    IDENTICAL schemas — names, types, AND order. Without the pinned
    read schema, Spark's partition-value inference types event_day
    (yyyy-MM-dd) as DATE and always appends partition columns at the
    end, so a query projecting the partition column (or ``*``) would
    silently differ between the two paths."""
    import diagnosisextraction_ml_spark.plans.queries as q

    for source, part_col in [
        ("lineitem", "l_shipmonth"),
        ("events", "event_day"),
        ("documents", "lang"),
    ]:
        layout = q._layout(spark, sf_dir, source, part_col=part_col)
        fb = q._t(spark, sf_dir, source).withColumn(
            part_col, q._PARTITION_EXPRS[(source, part_col)]()
        )
        assert layout.schema == fb.schema, (source, part_col)
    # pruning must survive the pinned-schema read + reorder Project
    ev = q._layout(spark, sf_dir, "events", part_col="event_day")
    n = (
        ev.filter(F.col("event_day") == "2024-01-08")
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    assert n == 1


def test_sort_within_partitions_tightens_rowgroup_stats(spark, sf_dir, tmp_path):
    """Why the layouts sort on write: parquet readers skip row groups
    whose min/max statistics exclude the pushed predicate, and that
    only helps if values are clustered. Sorted-within-partition files
    must carry row-group l_shipdate spans ~4× tighter than unsorted
    ones (pyarrow-metadata-verified) — the file-internal analogue of
    directory pruning."""
    import glob

    import pyarrow.parquet as pq

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    def avg_span_fraction(path: str) -> float:
        spans = []
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                for i in range(md.num_columns):
                    c = md.row_group(rg).column(i)
                    if c.path_in_schema == "l_shipdate":
                        st = c.statistics
                        spans.append((st.min, st.max))
        lo = min(a for a, _ in spans)
        hi = max(b for _, b in spans)
        full = (hi - lo).total_seconds()
        return sum((b - a).total_seconds() for a, b in spans) / len(spans) / full

    small_groups = {"parquet.block.size": 64 * 1024}  # force >1 row group/file
    un = str(tmp_path / "rg_unsorted")
    so = str(tmp_path / "rg_sorted")
    w = li.repartition(2).write.mode("overwrite")
    for k, v in small_groups.items():
        w = w.option(k, v)
    w.parquet(un)
    w2 = li.repartition(2).sortWithinPartitions("l_shipdate").write.mode("overwrite")
    for k, v in small_groups.items():
        w2 = w2.option(k, v)
    w2.parquet(so)
    f_un, f_so = avg_span_fraction(un), avg_span_fraction(so)
    assert f_un > 0.9  # unsorted: every row group spans ~everything
    assert f_so < 0.5  # sorted: tight, skippable spans
