"""Bucketed-table co-located join: the equi-join on the bucket key
must plan with zero Exchange operators."""

from __future__ import annotations

import pyspark.sql.functions as F

from diagnosisextraction_ml_spark.plans.queries import _layout


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    a = _layout(spark, sf_dir, "orders", "o_orderkey", n_buckets=8)
    b = _layout(spark, sf_dir, "lineitem", "l_orderkey", n_buckets=8)
    joined = (
        a.join(b, a.o_orderkey == b.l_orderkey)
        .groupBy("o_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    # disable broadcast so the join strategy itself is what's tested
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # co-located: no shuffle at all
        assert "SortMergeJoin" in plan
        # result parity with the plain (shuffled) join
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        plain = (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, plain.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q18_bucketed_agg_has_no_lineitem_shuffle(spark, sf_dir):
    """rel_q18_big_orders_bucketed's whole point: the full-fact
    groupBy(l_orderkey) must read pre-bucketed lineitem and aggregate
    with no Exchange below the aggregate (the join/top-k above it may
    shuffle the small sides)."""
    import pyspark.sql.functions as F

    from diagnosisextraction_ml_spark.plans.queries import _layout, queries

    li = _layout(spark, sf_dir, "lineitem", "l_orderkey", n_buckets=8)
    agg = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__sq"))
        .filter(F.col("__sq") > 150)
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # bucket-local aggregation
    assert "HashAggregate" in plan or "SortAggregate" in plan

    # the big⋈orders join reads the o_orderkey-bucketed copy: zero
    # orderkey Exchange on EITHER fact side (broadcast off so the join
    # strategy itself is what's tested)
    qs = queries()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        full = qs["rel_q18_big_orders_bucketed"](spark, sf_dir)
        fplan = full._jdf.queryExecution().executedPlan().toString()
        assert fplan.count("Exchange hashpartitioning(l_orderkey") == 0
        assert fplan.count("Exchange hashpartitioning(o_orderkey") == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # end-to-end parity with the plain variant
    a = [tuple(r) for r in qs["rel_q18_big_orders"](spark, sf_dir).collect()]
    b = [tuple(r) for r in qs["rel_q18_big_orders_bucketed"](spark, sf_dir).collect()]
    assert a == b


def test_q17_bucketed_no_fact_exchange(spark, sf_dir):
    """rel_q17_small_qty_revenue_bucketed: both partkey-keyed fact
    reads (per-part average + probe) must plan bucket-local — no
    hash-partitioning Exchange anywhere (the final one-row reduce's
    SinglePartition exchange is the only one allowed)."""
    from diagnosisextraction_ml_spark.plans.queries import queries

    qs = queries()
    df = qs["rel_q17_small_qty_revenue_bucketed"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    # parity with the plain variant
    a = [tuple(r) for r in qs["rel_q17_small_qty_revenue"](spark, sf_dir).collect()]
    b = [tuple(r) for r in df.collect()]
    assert a == b


def test_q8_bucketed_no_lineitem_exchange(spark, sf_dir):
    """rel_q8_market_share_bucketed: the fact side of the big join
    reads pre-bucketed lineitem — zero l_orderkey exchanges anywhere
    in the plan — and matches the plain variant row-for-row."""
    from diagnosisextraction_ml_spark.plans.queries import queries

    qs = queries()
    df = qs["rel_q8_market_share_bucketed"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(l_orderkey") == 0
    a = sorted(map(tuple, qs["rel_q8_market_share"](spark, sf_dir).collect()))
    b = sorted(map(tuple, df.collect()))
    assert a == b

def test_q21_bucketed_no_fact_exchange(spark, sf_dir):
    """rel_q21_waiting_suppliers_bucketed: all three lineitem legs
    (driving scan, EXISTS semi, NOT-EXISTS anti) AND the orders status
    semi read bucketed copies — zero orderkey exchanges on either fact,
    with broadcast disabled so the join strategy itself is what's
    tested — and the result matches the plain variant row-for-row."""
    from diagnosisextraction_ml_spark.plans.queries import queries

    qs = queries()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = qs["rel_q21_waiting_suppliers_bucketed"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning(l_orderkey") == 0
        assert plan.count("Exchange hashpartitioning(o_orderkey") == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    a = [tuple(r) for r in qs["rel_q21_waiting_suppliers"](spark, sf_dir).collect()]
    b = [tuple(r) for r in df.collect()]
    assert a == b


def test_q20_bucketed_no_fact_exchange(spark, sf_dir):
    """rel_q20_dominant_suppliers_bucketed: hash-partitioning on
    l_partkey alone satisfies the (l_partkey, l_suppkey) aggregate's
    required clustering AND the per-part window, so Q17's partkey
    layout serves Q20 with zero fact-side Exchange."""
    from diagnosisextraction_ml_spark.plans.queries import queries

    qs = queries()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = qs["rel_q20_dominant_suppliers_bucketed"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning(l_partkey") == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    a = sorted(map(tuple, qs["rel_q20_dominant_suppliers"](spark, sf_dir).collect()))
    b = sorted(map(tuple, df.collect()))
    assert a == b


def _bucketed_loc(sf_dir: str, source: str, key: str, n_buckets: int) -> str:
    import os

    from diagnosisextraction_ml_spark.plans.queries import (
        _bucketed_base_dir,
        _layout_name,
    )

    name = _layout_name(sf_dir, source, key, n_buckets=n_buckets)
    return os.path.join(_bucketed_base_dir(), name)


def test_layout_names_keep_published_dirs(sf_dir):
    """Layout directories already published on disk stay valid: each
    kind's name is the md5 of the same spec string as before the three
    layout builders merged into one."""
    import hashlib
    import os

    from diagnosisextraction_ml_spark.plans.queries import _layout_name

    rp = os.path.realpath(sf_dir)

    def tag(spec: str) -> str:
        return hashlib.md5(spec.encode()).hexdigest()[:10]

    assert _layout_name(sf_dir, "orders", "o_orderkey", n_buckets=4) == (
        f"orders_b_{tag(f'{rp}|o_orderkey|4')}"
    )
    assert _layout_name(sf_dir, "events", part_col="event_day") == (
        f"events_p_{tag(f'{rp}|event_day')}"
    )
    assert _layout_name(sf_dir, "lineitem", "l_orderkey", "l_shipmonth") == (
        f"lineitem_bp_{tag(f'{rp}|l_orderkey|l_shipmonth|32')}"
    )


def test_bucketed_fact_survives_data_removal(spark, sf_dir):
    """Catalog entry present but the external data swept away (tmp
    cleaner on a long-lived driver): the next call must notice the
    missing directory and rebuild — never return a table that fails at
    scan time. Exercised from a second session sharing the catalog."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from diagnosisextraction_ml_spark.plans import queries as q

    df = q._layout(spark, sf_dir, "orders", "o_custkey", n_buckets=4)
    expect = df.count()
    loc = _bucketed_loc(sf_dir, "orders", "o_custkey", 4)
    assert os.path.isdir(loc)
    shutil.rmtree(loc)  # simulate the tmp cleaner
    other = spark.newSession()  # shares the in-memory catalog
    df2 = q._layout(other, sf_dir, "orders", "o_custkey", n_buckets=4)
    assert df2.count() == expect  # rebuilt, not a dangling scan
    assert os.path.isdir(loc)
    # and it is really bucket-local again
    agg = df2.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    assert "Exchange" not in agg._jdf.queryExecution().executedPlan().toString()
    spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(loc)}")
    shutil.rmtree(loc, ignore_errors=True)


def test_bucketed_fact_rename_race_loser_reads_winner(spark, sf_dir, monkeypatch):
    """Two builders racing on the same layout: the publish is staging +
    atomic rename, so the loser's rename fails, its staging is
    discarded, and it reads the winner's (identical) data — correct
    results on both sides, no mid-rmtree window. Simulated by
    pre-publishing the winner's directory, then building again from a
    session whose directory check ran before the winner landed."""
    import os
    import shutil

    from diagnosisextraction_ml_spark.plans import queries as q

    # winner publishes
    df = q._layout(spark, sf_dir, "orders", "o_orderkey", n_buckets=4)
    expect = sorted(map(tuple, df.limit(5).collect()))
    loc = _bucketed_loc(sf_dir, "orders", "o_orderkey", 4)
    assert os.path.isdir(loc)
    mtime_before = os.path.getmtime(loc)
    # loser: its first look at the directory predates the winner's
    # rename, so it stages and tries to publish into the existing
    # location; it must swallow the rename failure, leave the winner's
    # data alone, and read it
    isdir, stale = os.path.isdir, [loc]

    def racing_isdir(path):
        if path == loc and stale:
            stale.pop()
            return False
        return isdir(path)

    monkeypatch.setattr(os.path, "isdir", racing_isdir)
    df2 = q._layout(spark.newSession(), sf_dir, "orders", "o_orderkey", n_buckets=4)
    monkeypatch.undo()
    assert not stale  # the loser really took the publish path
    assert os.path.getmtime(loc) == mtime_before  # winner's publish intact
    assert not any(
        p.endswith(f".stage.{os.getpid()}")
        for p in os.listdir(os.path.dirname(loc))
    )  # loser's staging cleaned up
    plan = df2._jdf.queryExecution().executedPlan().toString()
    assert os.path.basename(loc) in plan  # the layout, not the fallback
    assert sorted(map(tuple, df2.limit(5).collect())) == expect
    spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(loc)}")
    shutil.rmtree(loc, ignore_errors=True)


def test_bucketed_layout_dir_is_per_user_0700():
    import os
    import stat

    from diagnosisextraction_ml_spark.plans.queries import _bucketed_base_dir

    d = _bucketed_base_dir()
    import getpass

    assert getpass.getuser() in os.path.basename(d)
    mode = stat.S_IMODE(os.stat(d).st_mode)
    assert mode == 0o700


def test_bucketed_variants_no_fact_exchange_at_sf01(spark):
    """The fingerprint net pins plan shapes at sf0.001, but bucketed
    scan planning depends on file listings — re-assert zero fact-side
    Exchange for every bucketed variant at sf0.1 (VERDICT r12 item 5).
    The sf0.1 layouts get their own tables (the cache tag hashes the
    sf_dir realpath), so the shared-session catalog is undisturbed."""
    import os

    import pytest

    sf01 = "/root/testdata/sf0.1"
    if not os.path.isdir(sf01):
        pytest.skip("sf0.1 testdata not present")
    from diagnosisextraction_ml_spark.plans.queries import queries

    qs = queries()
    for name, keys in {
        "rel_q18_big_orders_bucketed": ["l_orderkey"],
        "rel_q17_small_qty_revenue_bucketed": ["l_partkey"],
        "rel_q8_market_share_bucketed": ["l_orderkey"],
        "rel_q21_waiting_suppliers_bucketed": ["l_orderkey", "o_orderkey"],
        "rel_q20_dominant_suppliers_bucketed": ["l_partkey"],
    }.items():
        plan = (
            qs[name](spark, sf01)._jdf.queryExecution().executedPlan().toString()
        )
        for key in keys:
            assert (
                plan.count(f"Exchange hashpartitioning({key}") == 0
            ), f"{name}: unexpected fact-side shuffle on {key}"


import pytest


@pytest.mark.slow
def test_bucketed_fact_two_process_concurrent_build(spark, sf_dir, tmp_path):
    """The REAL race: a second OS process (its own JVM, its own
    catalog) builds the same layout while this session builds it.
    Staging is per-PID and publish is one atomic rename, so whatever
    the interleaving, both processes must return correct results and
    the published directory must be a complete layout. (The in-process
    tests above pin each race arm deterministically; this pins the
    end-to-end property.)"""
    import os
    import shutil
    import subprocess
    import sys

    from diagnosisextraction_ml_spark.plans import queries as q

    loc = _bucketed_loc(sf_dir, "orders", "o_orderkey", 4)
    tbl = os.path.basename(loc)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(loc, ignore_errors=True)  # force both sides to build

    script = tmp_path / "build_layout.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})\n"
        "from diagnosisextraction_ml_spark import get_spark\n"
        "from diagnosisextraction_ml_spark.plans import queries as q\n"
        "spark = get_spark('race-peer', master='local[2]', shuffle_partitions=4)\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        f"df = q._layout(spark, {sf_dir!r}, 'orders', 'o_orderkey', n_buckets=4)\n"
        "print('PEER_COUNT', df.count())\n"
    )
    peer = subprocess.Popen(
        [sys.executable, str(script)],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    # build in this session while the peer JVM boots and builds
    df = q._layout(spark, sf_dir, "orders", "o_orderkey", n_buckets=4)
    mine = df.count()
    out, _ = peer.communicate(timeout=300)
    assert peer.returncode == 0, out
    peer_count = int([l for l in out.splitlines() if l.startswith("PEER_COUNT")][0].split()[1])
    expect = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert mine == expect and peer_count == expect
    assert os.path.isdir(loc)  # someone published
    # no staging debris from either process
    assert not any(".stage." in p for p in os.listdir(os.path.dirname(loc)))
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(loc, ignore_errors=True)


def test_q3_bucketed_no_fact_exchange(spark, sf_dir):
    """rel_q3_topk_bucketed: lineitem⋈orders reads the two co-bucketed
    orderkey copies, and the (o_orderkey, o_orderdate) aggregate's
    clustering is satisfied by the bucket partitioning — zero orderkey
    Exchange end to end (broadcast off), parity with plain Q3."""
    from diagnosisextraction_ml_spark.plans.queries import queries

    qs = queries()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = qs["rel_q3_topk_bucketed"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning(l_orderkey") == 0
        assert plan.count("Exchange hashpartitioning(o_orderkey") == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    a = [tuple(r) for r in qs["rel_q3_topk"](spark, sf_dir).collect()]
    b = [tuple(r) for r in df.collect()]
    assert a == b


def test_q4_bucketed_no_fact_exchange(spark, sf_dir):
    """rel_q4_priority_exists_bucketed: the EXISTS semi runs
    bucket-local (zero orderkey Exchange, broadcast off) and the date/
    quantity predicates still reach the bucketed scans' PushedFilters
    — bucketing and pushdown compose."""
    from diagnosisextraction_ml_spark.plans.queries import queries

    qs = queries()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = qs["rel_q4_priority_exists_bucketed"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning(l_orderkey") == 0
        assert plan.count("Exchange hashpartitioning(o_orderkey") == 0
        assert "GreaterThan(l_quantity,45" in plan  # pushdown survives
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    a = sorted(map(tuple, qs["rel_q4_priority_exists"](spark, sf_dir).collect()))
    b = sorted(map(tuple, df.collect()))
    assert a == b


def test_bucket_pruning_point_lookup(spark, sf_dir):
    """Bucket pruning: an equality predicate on the bucket key reads
    ONE bucket of 32 (SelectedBucketsCount in the scan) — the
    point-lookup path a 100 TB fact wants. The planner only keeps the
    bucketed scan when something needs it, so the capability is pinned
    with autoBucketedScan disabled (session flag — kept as a test, not
    a registered query, same policy as aggregate pushdown)."""
    import pyspark.sql.functions as F

    from diagnosisextraction_ml_spark.plans.queries import _layout

    prev = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        li = _layout(spark, sf_dir, "lineitem", "l_orderkey")
        df = li.filter(F.col("l_orderkey") == 42)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 32" in plan
        want = sorted(
            map(
                tuple,
                spark.read.parquet(f"{sf_dir}/lineitem.parquet")
                .filter(F.col("l_orderkey") == 42)
                .collect(),
            )
        )
        assert sorted(map(tuple, df.collect())) == want
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", prev
        )
