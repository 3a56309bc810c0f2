"""Keyed-snapshot upsert — the MERGE INTO / SCD-1 maintenance pattern.

North-star extension (no reference counterpart): production pipelines
maintain a "latest state per key" table (account state, feature
snapshot, crawl frontier) that each incoming batch upserts into. The
lakehouse engines spell this ``MERGE INTO``; the relational core is an
arg-max per key over ``snapshot ∪ batch``, and that is exactly what
this module computes — deterministically.

Scale design:

- **groupBy + max(struct), not a window.** The arg-max runs with
  map-side combine: each task first collapses its partition to one row
  per key, so the one Exchange carries ≤ |keys| rows per task. Spark
  plans the struct-max as a SortAggregate (struct buffers aren't
  hash-aggregable), but that sort is *per-partition and spillable* —
  unlike a ``row_number() OVER`` twin, which shuffles every key's full
  history before any reduction (fine for the oracle, wrong for
  100 TB).
- **The batch reduces before it meets the snapshot.** ``unionByName``
  feeds one aggregation, so a 10⁹-row batch against a 10¹²-row
  snapshot still shuffles each side exactly once on the key. With the
  snapshot stored bucketed on the key (plans.queries._layout) the
  snapshot side's Exchange disappears entirely and only the batch
  moves.
- **Determinism.** The struct compares ``order_cols`` first (newest
  wins), then ``tiebreak_cols`` (a unique id), so at equal timestamps
  the survivor is the same on any partitioning or cluster size —
  the same idiom as the engine's dedup canonical-keep.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def upsert_latest(
    snapshot: DataFrame,
    batch: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    tiebreak_cols: Sequence[str],
    payload_cols: Sequence[str],
) -> DataFrame:
    """Merge ``batch`` into ``snapshot``, keeping the latest row per key.

    Latest = max over ``(order_cols, tiebreak_cols)`` lexicographically;
    ``payload_cols`` ride along. Columns shared by both inputs must have
    identical names/types (``unionByName``). The output schema is
    ``key_cols + order_cols + tiebreak_cols + payload_cols`` — feeding
    it back in as next round's ``snapshot`` is the incremental loop.
    """
    key_cols = list(key_cols)
    picked = [*order_cols, *tiebreak_cols, *payload_cols]
    cols = [*key_cols, *picked]
    combined = snapshot.select(*cols).unionByName(batch.select(*cols))
    agg = combined.groupBy(*key_cols).agg(
        F.max(F.struct(*[F.col(c) for c in picked])).alias("__latest")
    )
    return agg.select(
        *key_cols, *[F.col(f"__latest.{c}").alias(c) for c in picked]
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """CDC between two keyed snapshots: added / removed / changed rows.

    The day-2 companion to :func:`upsert_latest`: given yesterday's and
    today's snapshot of the same keyed table, emit one row per key
    whose state differs — the change feed a downstream incremental
    consumer (or an audit log) wants. Unchanged keys are filtered out
    before anything wide happens.

    One full outer join on the key (co-partitioned shuffle, broadcast
    when one side is small — AQE's choice); per-column comparison is a
    null-safe equality per compare column, codegen'd, producing the
    exact list of changed column names rather than a boolean blob.

    Output: (key..., change_type in {'added','removed','changed'},
    changed_cols array<string> — empty for added/removed).
    """
    key_cols = list(key_cols)
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in key_cols]
    compare_cols = list(compare_cols)

    o = old.select(
        *key_cols,
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *key_cols,
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
        F.lit(1).alias("__in_new"),
    )
    j = o.join(n, key_cols, "full_outer")
    changed = F.filter(
        F.array(
            *[
                F.when(
                    ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")),
                    F.lit(c),
                ).otherwise(F.lit(""))
                for c in compare_cols
            ]
        ),
        lambda x: x != "",
    )
    change_type = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(F.size(changed) > 0, F.lit("changed"))
    )
    return (
        j.withColumn("change_type", change_type)
        .filter(F.col("change_type").isNotNull())
        .select(
            *key_cols,
            "change_type",
            F.when(
                F.col("change_type") == "changed", changed
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("changed_cols"),
        )
    )


def scd2_history(
    feed: DataFrame,
    key_cols: Sequence[str],
    state_col: str,
    ts_col: str,
    tiebreak_cols: Sequence[str],
) -> DataFrame:
    """Slowly-changing-dimension Type 2 build from a change feed.

    Given an append-only feed of observations (key, state, ts), collapse
    consecutive runs of the same state per key into validity intervals —
    the classic gaps-and-islands rewrite of a dimension history:

    - ``valid_from``: first observation ts of the run,
    - ``valid_to``: the next run's valid_from (NULL for the open/current
      run), so intervals are half-open ``[from, to)`` and partition each
      key's observed timeline,
    - ``is_current``: the run with NULL valid_to.

    Determinism: observations are ordered by (ts, tiebreak_cols) — at
    equal timestamps the unique tiebreak (e.g. the feed's event id)
    fixes which state "wins" the instant, on any partitioning.

    Scale: both windows and the final aggregation share ONE partitioning
    by key — Catalyst plans a single Exchange(key) feeding lag → cumsum
    → groupBy. Per-key history is typically small (dimension feeds), so
    the per-key sort is bounded; there is no unpartitioned window
    anywhere. Output is |runs| rows, ≤ |feed|.
    """
    key_cols = list(key_cols)
    order = [F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak_cols]]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    run = (
        feed.withColumn(
            "__chg",
            F.when(
                F.lag(state_col).over(w).eqNullSafe(F.col(state_col)), F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "__run",
            F.sum("__chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    runs = run.groupBy(*key_cols, "__run").agg(
        F.min(state_col).alias(state_col),  # constant within the run
        F.min(ts_col).alias("valid_from"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    w2 = Window.partitionBy(*key_cols).orderBy(F.col("__run").asc())
    return runs.select(
        *key_cols,
        F.col("__run").alias("run_id"),
        state_col,
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
        "n_obs",
    )
