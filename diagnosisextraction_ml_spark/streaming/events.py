"""Structured Streaming operators (north-star extension).

The reference is pure batch (SURVEY.md §2.8 "not present"), but a
training-data engine ingests continuously; these are the streaming
twins of the batch event/text operators. Each takes/returns streaming
DataFrames so sources and sinks stay caller-controlled (tests use an
in-memory sink; production uses Kafka/files + checkpointing).

Scale notes: watermarks bound state; the windowed counts are
partial-aggregated before the shuffle exactly like the batch groupBy.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.functions.text import normalize_ws
from diagnosisextraction_ml_spark.operators.textstats import quality_score


def _with_event_time(df: DataFrame, col: str) -> DataFrame:
    """Normalize an event-time column to ``TimestampType``.

    A caller streaming raw TIMESTAMP_NTZ parquet directly (bypassing
    ``load_table``'s normalization) would otherwise hit
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE at ``withWatermark``. The
    session timezone is pinned UTC, so the cast is a pure relabel.
    """
    if dict(df.dtypes).get(col) == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def read_events_stream(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream over an events-shaped directory."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-type sliding-window event counts with late-data watermark."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        _with_event_time(events, "ts")
        .withWatermark("ts", watermark)
        .groupBy(win.alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionized_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessionization via ``session_window`` — one function
    for both modes: under ``readStream`` the watermark bounds session
    state (sessions close once the watermark passes their gap), on a
    batch frame ``withWatermark`` is a no-op and the same expression
    computes identical sessions (the ``stream_sessionized_counts``
    batch twin is driver-oracle-checked against a lag+cumsum replay).

    Semantics pinned by the oracle: a new session starts iff the gap
    to the previous event is ≥ the threshold (session windows are
    half-open ``[first_ts, last_ts + gap)``); ``session_end`` is
    ``last_ts + gap``.
    """
    return (
        _with_event_time(events, "ts")
        .withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_quality_filter(docs: DataFrame, min_quality: float = 0.3) -> DataFrame:
    """Streaming text-quality gate — same expression as the batch op,
    applied to a stream (stateless map/filter: no watermark needed)."""
    return docs.withColumn("quality", quality_score(F.col("text"))).filter(
        F.col("quality") >= min_quality
    )


def streaming_dedup_exact(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on the normalized-text fingerprint.

    With ``ts_col``: ``dropDuplicatesWithinWatermark`` — state is
    bounded by the watermark (the 100 TB-stream-safe mode; a duplicate
    arriving later than the watermark is passed through, the standard
    trade). Without: global ``dropDuplicates`` (unbounded state —
    bounded corpora only).
    """
    fingerprinted = docs.withColumn("__fp", F.md5(normalize_ws(text_col)))
    if ts_col is not None:
        out = (
            _with_event_time(fingerprinted, ts_col)
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["__fp"])
        )
    else:
        out = fingerprinted.dropDuplicates(["__fp"])
    return out.drop("__fp")


def streaming_near_dup_gate(
    docs: DataFrame,
    seen_buckets: DataFrame | Callable[[], DataFrame],
    accept,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    k: int = 64,
    bands: int = 16,
    min_bands: int = 1,
):
    """Streaming NEAR-dup gate — the continuous-ingest composition of
    :func:`~..operators.dedup.dedup_incremental_near`: every microbatch
    is probed against the persisted historical LSH band index and only
    non-flagged documents reach ``accept(kept_df, batch_id)`` (the
    caller's sink — and the natural place to append
    ``index_band_buckets(kept_df)`` so the index rolls forward).

    ``seen_buckets`` may be a DataFrame or a ZERO-ARG CALLABLE
    returning one. Pass the callable when ``accept`` appends to the
    index: a file-backed DataFrame resolves its file listing when the
    DataFrame is CREATED, so a plain DataFrame captured at composition
    screens every microbatch against the index as of stream start —
    appends made inside ``accept`` only become visible if ``_gate``
    re-resolves the index per batch, i.e.
    ``lambda: spark.read.parquet(index_path)``.

    ``foreachBatch`` is the right tool here, not a stateful streaming
    operator: the dedup state (the band index) is a TABLE shared with
    the batch pipeline, not per-key stream state — foreachBatch gives
    each microbatch full batch-DataFrame semantics (the groupBy inside
    the probe) while the stream stays append-only and watermark-free.
    Within-batch near-dups are intentionally NOT collapsed (same as
    the batch op's contract — run the pair path on accepted data when
    ids matter).

    Returns the ``DataStreamWriter`` (caller adds trigger/checkpoint
    and calls ``start()``).
    """
    from diagnosisextraction_ml_spark.operators.dedup import (
        dedup_incremental_near,
    )

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        index = seen_buckets() if callable(seen_buckets) else seen_buckets
        flags = dedup_incremental_near(
            batch_df,
            index,
            text_col=text_col,
            id_col=id_col,
            shingle_n=shingle_n,
            k=k,
            bands=bands,
            min_bands=min_bands,
        )
        kept = batch_df.join(
            flags.filter(~F.col("is_near_dup")).select(id_col), id_col, "left_semi"
        )
        accept(kept, batch_id)

    return docs.writeStream.foreachBatch(_gate)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "30 minutes",
    watermark: str = "2 hours",
    left_prefix: str = "l_",
    right_prefix: str = "r_",
) -> DataFrame:
    """Stream-stream interval join: each left event pairs with the
    right-side events of the same key within ``(left_ts, left_ts +
    within]``.

    The canonical Structured Streaming two-stream join: watermarks on
    BOTH sides plus the time-range condition are what let the engine
    size and expire join state — without the range bound, stream-stream
    join state grows forever. State per key ≈ events inside the
    watermark horizon; the equi-key keeps it a hash join (same shape as
    the batch :func:`~.operators.joins.interval_join` bucket join —
    that op is this one's batch twin, and the test pins stream ≡ batch
    on the same data).

    Columns are prefixed (``l_``/``r_``) because both sides are
    events-shaped. Works identically on batch frames (``withWatermark``
    is a no-op there) — one function, both modes.
    """
    l = _with_event_time(
        left.select(*[F.col(c).alias(f"{left_prefix}{c}") for c in left.columns]),
        f"{left_prefix}{left_ts}",
    ).withWatermark(f"{left_prefix}{left_ts}", watermark)
    r = _with_event_time(
        right.select(*[F.col(c).alias(f"{right_prefix}{c}") for c in right.columns]),
        f"{right_prefix}{right_ts}",
    ).withWatermark(f"{right_prefix}{right_ts}", watermark)
    lt = F.col(f"{left_prefix}{left_ts}")
    rt = F.col(f"{right_prefix}{right_ts}")
    cond = (
        (F.col(f"{left_prefix}{on}") == F.col(f"{right_prefix}{on}"))
        & (rt > lt)
        & (rt <= lt + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond)


# Output/state schemas for the custom stateful operator below.
USER_TOTALS_SCHEMA = "user_id bigint, n_events bigint, total_value double"
_USER_STATE_SCHEMA = "n bigint, total double"


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user event count + value sum.

    ``applyInPandasWithState`` — the escape hatch for stateful logic
    Structured Streaming's built-in aggs can't express (the state here
    *could* be an agg; the point is the operator shape: user-managed
    state, arbitrary Python update logic, Arrow-batched input). State
    is one (n, total) pair per user — O(distinct users), bounded;
    partitioned by the group key so each executor owns its users'
    state. Emits the updated running totals for every user seen in the
    micro-batch (output mode "update").
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=USER_TOTALS_SCHEMA,
            stateStructType=_USER_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def windowed_distinct_registers(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    key_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming HLL: per-window approximate-distinct register table.

    The HyperLogLog register table (operators/sketch.py) is a
    max-monoid, which is exactly what Structured Streaming's
    incremental aggregation needs: state per (window, type) is bounded
    at 512 registers no matter how many events or distinct keys the
    window sees, and late data folds in with the same ``max`` that
    batch uses — so stream ≡ batch holds bit-exactly (pinned by
    tests/test_streaming.py against the ``stream_hourly_distinct``
    batch twin). Collapse to estimates downstream with
    :func:`~..operators.sketch.hll_estimate` over
    (window_start, ``type_col``).

    Output: (window_start, window_end, type, hll_reg, rho_max).
    """
    from diagnosisextraction_ml_spark.functions.hashing import md5_hash64
    from diagnosisextraction_ml_spark.operators.sketch import hll_reg_rho

    h = md5_hash64(F.col(key_col).cast("string"))
    reg, rho = hll_reg_rho()
    base = (
        _with_event_time(events, "ts")
        .withWatermark("ts", watermark)
        .select(F.col("ts"), F.col(type_col), h.alias("_hll_h"))
        .select(F.col("ts"), F.col(type_col), reg, rho)
    )
    return (
        base.groupBy(
            F.window("ts", window).alias("w"), F.col(type_col), F.col("hll_reg")
        )
        .agg(F.max("rho").alias("rho_max"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            type_col,
            "hll_reg",
            "rho_max",
        )
    )


CUSUM_SCHEMA = (
    "key string, n_seen bigint, s_micro bigint, cusum_up_micro bigint,"
    " cusum_down_micro bigint, drift_up boolean, drift_down boolean"
)
_CUSUM_STATE_SCHEMA = "n bigint, s bigint, smin bigint, smax bigint"


def cusum_drift_replay(
    events: DataFrame,
    mu_micro: int,
    threshold_micro: int,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """BATCH replay of :func:`streaming_cusum_drift`'s final state.

    One row per key with exactly the streaming op's last-micro-batch
    output (same column names and types as ``CUSUM_SCHEMA``), computed
    as a relational plan: the per-key running deviation sum is a
    (ts, tiebreak)-ordered window cumsum, and the state triple
    (S, min S, max S) collapses to one groupBy — so the stateful
    streaming operator's semantics are pinned by an oracle-checkable
    query, not only by the stream-vs-replay pytest. Parity caveat,
    stated plainly: the stream path rounds ``value·1e6`` with
    numpy ``rint`` (half-to-even) while this twin uses ``round``
    (half-away-from-zero) to stay bit-identical with the DuckDB
    oracle; they differ only for values landing exactly on a
    half-micro boundary, which the parity test's corpus (2-decimal
    values) cannot produce.

    Scale: window + groupBy both partition by key; the shuffle payload
    is (key, dev BIGINT) rows. Deviation sums stay in int64 (a 3e8-µ
    deviation per row needs ~3e10 rows on one key to approach 2^63).
    """
    from pyspark.sql import Window

    mu = int(mu_micro)
    thr = int(threshold_micro)
    dev = (
        F.round(F.col(value_col).cast("double") * 1_000_000, 0).cast("long")
        - F.lit(mu)
    )
    w_run = (
        Window.partitionBy("key")
        .orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = events.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col),
        F.col(tiebreak_col),
        dev.alias("__dev"),
    ).select("key", F.col("__dev"), F.sum("__dev").over(w_run).alias("__cs"))
    agg = staged.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_seen"),
        F.sum("__dev").alias("s_micro"),
        F.min("__cs").alias("__smin"),
        F.max("__cs").alias("__smax"),
    )
    zero = F.lit(0).cast("long")
    up = F.col("s_micro") - F.least(zero, F.col("__smin"))
    down = F.greatest(zero, F.col("__smax")) - F.col("s_micro")
    return agg.select(
        "key",
        "n_seen",
        "s_micro",
        up.alias("cusum_up_micro"),
        down.alias("cusum_down_micro"),
        (up >= F.lit(thr)).alias("drift_up"),
        (down >= F.lit(thr)).alias("drift_down"),
    )


def streaming_cusum_drift(
    events: DataFrame,
    mu_micro: int,
    threshold_micro: int,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Streaming CUSUM control chart against a fixed reference mean.

    The monitoring twin of :func:`~..operators.rollup.cusum_drift`:
    the batch op *estimates* μ from the window it sees; a monitor
    tracks deviation from a KNOWN target (μ fitted on history — the
    standard control-chart formulation), so the state is just the
    running deviation sum and its running extrema:

        C⁺ = S − min(0, min S),   C⁻ = max(0, max S) − S

    — three BIGINTs per key (micro value-units), updated with
    arrival-ordered integer arithmetic; ``applyInPandasWithState``
    because the running-extrema recursion is not a windowed aggregate.
    Within a micro-batch rows fold in (ts, tiebreak) order; across
    batches the fold follows arrival order, so stream ≡ replay holds
    exactly when ingestion is time-ordered (the usual monitoring
    setup; the test feeds time-ordered files and pins the final state
    to a literal replay).

    Emits one row per key per micro-batch with the post-batch state
    (output mode "update").
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    mu = int(mu_micro)
    thr = int(threshold_micro)

    def update(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        n, s, smin, smax = state.get if state.exists else (0, 0, 0, 0)
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values([ts_col, tiebreak_col])
            dev = np.rint(pdf[value_col].to_numpy() * 1_000_000).astype(
                np.int64
            ) - mu
            cs = s + np.cumsum(dev)
            smin = min(smin, int(np.minimum.accumulate(cs).min()))
            smax = max(smax, int(np.maximum.accumulate(cs).max()))
            s = int(cs[-1])
            n += len(pdf)
        state.update((n, s, smin, smax))
        up = s - min(0, smin)
        down = max(0, smax) - s
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_seen": [n],
                "s_micro": [s],
                "cusum_up_micro": [up],
                "cusum_down_micro": [down],
                "drift_up": [up >= thr],
                "drift_down": [down >= thr],
            }
        )

    return (
        events.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(ts_col).alias(ts_col),
            F.col(value_col).cast("double").alias(value_col),
            F.col(tiebreak_col).alias(tiebreak_col),
        )
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=CUSUM_SCHEMA,
            stateStructType=_CUSUM_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
