"""Structured Streaming tests — file source → windowed agg → memory
sink with availableNow (bounded) triggers."""

from __future__ import annotations

import pyspark.sql.functions as F

from diagnosisextraction_ml_spark.streaming.events import (
    read_events_stream,
    streaming_quality_filter,
    windowed_event_counts,
)


def _events_dir(spark, sf_dir, tmp_path) -> tuple[str, object]:
    """Re-write the events table as clean parquet (micros timestamps)
    so the stream reader needs no nanos-legacy handling."""
    from diagnosisextraction_ml_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").limit(2000)
    path = str(tmp_path / "events_stream")
    ev.repartition(4).write.mode("overwrite").parquet(path)
    return path, spark.read.parquet(path).schema


def test_windowed_counts_match_batch(spark, sf_dir, tmp_path):
    path, schema = _events_dir(spark, sf_dir, tmp_path)
    stream = read_events_stream(spark, path, schema, max_files_per_trigger=2)
    assert stream.isStreaming
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = (
        spark.read.parquet(path)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    want = {(r["ws"], r["event_type"]): r["n"] for r in batch.collect()}
    assert got == want


def test_windowed_counts_on_ntz_stream(spark, sf_dir, tmp_path):
    """A caller streaming raw TIMESTAMP_NTZ parquet directly (bypassing
    load_table's normalization) still gets a valid watermarked plan —
    the op casts NTZ event time to TIMESTAMP itself instead of dying
    with EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE."""
    from diagnosisextraction_ml_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").limit(500)
    ntz = ev.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    path = str(tmp_path / "events_ntz")
    ntz.repartition(2).write.mode("overwrite").parquet(path)
    on_disk_schema = spark.read.parquet(path).schema
    assert dict(spark.read.parquet(path).dtypes)["ts"] == "timestamp_ntz"

    stream = read_events_stream(spark, path, on_disk_schema, max_files_per_trigger=1)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts_ntz")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_counts_ntz").collect()
    }
    want = {
        (r["ws"], r["event_type"]): r["n"]
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_quality_filter(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox and the lazy dog jumped over it all day"), (2, "!!")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "docs_stream")
    docs.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(docs.schema).parquet(path)
    out = streaming_quality_filter(stream, min_quality=0.3)
    q = (
        out.writeStream.format("memory")
        .queryName("quality_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT doc_id FROM quality_gate").collect()
    assert [r["doc_id"] for r in rows] == [1]


def test_stateful_user_totals(spark, sf_dir, tmp_path):
    from diagnosisextraction_ml_spark.streaming.events import stateful_user_totals

    path, schema = _events_dir(spark, sf_dir, tmp_path)
    stream = read_events_stream(spark, path, schema, max_files_per_trigger=1)
    out = stateful_user_totals(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # the last update per user must equal the batch ground truth
    import pyspark.sql.functions as F

    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            "SELECT user_id, n_events, total_value FROM ("
            "  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn"
            "  FROM user_totals) WHERE rn = 1"
        ).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["t"])
        for r in spark.read.parquet(path)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert abs(got[u][1] - want[u][1]) < 1e-6


def test_streaming_dedup_exact(spark, tmp_path):
    from diagnosisextraction_ml_spark.streaming.events import streaming_dedup_exact

    docs = spark.createDataFrame(
        [(1, "same  text"), (2, "same text"), (3, "other text")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "dedup_docs")
    docs.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(docs.schema).parquet(path)
    out = streaming_dedup_exact(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT doc_id FROM dedup_stream").collect()
    ids = sorted(r["doc_id"] for r in rows)
    # one of the whitespace-equal pair survives, plus the distinct doc
    assert len(ids) == 2 and 3 in ids and (1 in ids or 2 in ids)


def test_streaming_dedup_watermark_straddle(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics: a duplicate arriving
    within the watermark horizon of the first occurrence is dropped;
    once the watermark has advanced past the first occurrence's expiry,
    the same text is treated as new and emitted again."""
    import os
    import time
    from datetime import datetime, timezone

    from diagnosisextraction_ml_spark.streaming.events import streaming_dedup_exact

    def t(h, m=0):
        return datetime(2021, 1, 1, h, m, tzinfo=timezone.utc).replace(tzinfo=None)

    path = str(tmp_path / "late_docs")
    os.makedirs(path)
    schema = "doc_id long, text string, ts timestamp"
    batches = [
        # batch 1: first occurrence of A at 00:00
        [(1, "dup text A", t(0))],
        # batch 2: duplicate 30 min later (within the 1 h horizon ->
        # dropped) + an unrelated doc at 04:00 that advances the
        # watermark to 03:00, past A's expiry (01:00)
        [(2, "dup text A", t(0, 30)), (10, "other doc", t(4))],
        # batch 3: expired state is evicted at the END of the
        # micro-batch that runs under the advanced watermark, so an
        # intervening batch must complete before A's slot frees up
        [(11, "yet another", t(4, 10))],
        # batch 4: A again at 05:00, state evicted -> emitted as new
        [(3, "dup text A", t(5))],
    ]
    # one file per micro-batch; file-source order follows modification
    # time, pinned explicitly so the batches replay in sequence
    for i, rows in enumerate(batches):
        f = str(tmp_path / f"b{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(f)
        part = [p for p in os.listdir(f) if p.endswith(".parquet")][0]
        dst = f"{path}/batch_{i}.parquet"
        os.rename(f"{f}/{part}", dst)
        os.utime(dst, (time.time() + i, time.time() + i))

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    )
    out = streaming_dedup_exact(stream, ts_col="ts", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_straddle")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = sorted(r["doc_id"] for r in spark.sql("SELECT doc_id FROM dedup_straddle").collect())
    # 1 survives, 2 is deduped within the horizon, 3 re-emits after
    # state expiry, 10/11 pass through
    assert ids == [1, 3, 10, 11]


def test_streaming_sessionized_counts_match_batch(spark, sf_dir, tmp_path):
    """session_window under readStream (complete mode) reproduces the
    batch sessionization exactly — same function, same sessions."""
    from diagnosisextraction_ml_spark.streaming.events import sessionized_event_counts

    path, schema = _events_dir(spark, sf_dir, tmp_path)
    stream = read_events_stream(spark, path, schema, max_files_per_trigger=2)
    out = sessionized_event_counts(stream, gap="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("session_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        map(tuple, spark.sql(
            "SELECT user_id, session_start, session_end, n_events FROM session_counts"
        ).collect())
    )
    want = sorted(
        map(tuple, sessionized_event_counts(spark.read.parquet(path)).collect())
    )
    assert got == want and len(got) > 0


def test_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (watermarks both sides + time-range
    condition) produces exactly the batch interval join's pairs on the
    same data."""
    from diagnosisextraction_ml_spark.streaming.events import stream_interval_join

    path, schema = _events_dir(spark, sf_dir, tmp_path)
    left = read_events_stream(spark, path, schema, max_files_per_trigger=2)
    right = read_events_stream(spark, path, schema, max_files_per_trigger=2)
    joined = stream_interval_join(
        left, right, on="user_id", within="10 minutes", watermark="2 hours"
    ).select("l_event_id", "r_event_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["l_event_id"], r["r_event_id"])
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }
    ev = spark.read.parquet(path)
    batch = stream_interval_join(
        ev, ev, on="user_id", within="10 minutes", watermark="2 hours"
    ).select("l_event_id", "r_event_id")
    want = {(r["l_event_id"], r["r_event_id"]) for r in batch.collect()}
    assert len(want) > 0
    assert got == want


def test_streaming_hll_registers_match_batch(spark, sf_dir, tmp_path):
    """Stream ≡ batch for the HLL register table (max-monoid state),
    and the estimates collapsed from streamed registers equal the
    batch hll_distinct estimates exactly."""
    from diagnosisextraction_ml_spark.operators import sketch
    from diagnosisextraction_ml_spark.streaming.events import (
        windowed_distinct_registers,
    )

    path, schema = _events_dir(spark, sf_dir, tmp_path)
    stream = read_events_stream(spark, path, schema, max_files_per_trigger=2)
    regs = windowed_distinct_registers(stream, window="1 hour", watermark="2 hours")
    q = (
        regs.writeStream.format("memory")
        .queryName("hll_regs")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql(
        "SELECT window_start, event_type, hll_reg, rho_max FROM hll_regs"
    )

    ev = spark.read.parquet(path).withColumn(
        "window_start", F.date_trunc("hour", F.col("ts"))
    )
    batch_regs = sketch.hll_registers(
        ev, F.col("user_id").cast("string"), ["window_start", "event_type"]
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch_regs.collect())
    )

    est_stream = sketch.hll_estimate(streamed, ["window_start", "event_type"])
    est_batch = sketch.hll_distinct(
        ev, F.col("user_id").cast("string"), ["window_start", "event_type"]
    )
    assert sorted(map(tuple, est_stream.collect())) == sorted(
        map(tuple, est_batch.collect())
    )


def test_streaming_cusum_matches_replay(spark, sf_dir, tmp_path):
    """Time-ordered files through the stateful CUSUM: the final state
    per key must equal a literal integer replay over the same order."""
    from diagnosisextraction_ml_spark.sources.readers import load_table
    from diagnosisextraction_ml_spark.streaming.events import (
        read_events_stream,
        streaming_cusum_drift,
    )

    ev = load_table(spark, sf_dir, "events").limit(1000)
    rows = ev.select("event_id", "ts", "event_type", "value").orderBy(
        "ts", "event_id"
    ).collect()
    # two sequential time-ordered files => arrival order == ts order
    path = str(tmp_path / "cusum_stream")
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], ev.select("event_id", "ts", "event_type", "value").schema) \
        .coalesce(1).write.mode("overwrite").parquet(path)
    spark.createDataFrame(rows[half:], ev.select("event_id", "ts", "event_type", "value").schema) \
        .coalesce(1).write.mode("append").parquet(path)

    mu = 50_000_000  # fixed reference mean: 50.0 in micro-units
    thr = 10**9
    schema = spark.read.parquet(path).schema
    stream = read_events_stream(spark, path, schema, max_files_per_trigger=1)
    out = streaming_cusum_drift(stream, mu, thr)
    q = (
        out.writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["key"]: (r["n_seen"], r["s_micro"], r["cusum_up_micro"], r["cusum_down_micro"])
        for r in spark.sql(
            "SELECT * FROM ("
            "  SELECT *, row_number() OVER (PARTITION BY key ORDER BY n_seen DESC) rn"
            "  FROM cusum_stream) WHERE rn = 1"
        ).collect()
    }

    # literal replay in the same (ts, event_id) order
    import numpy as np

    series: dict[str, list[float]] = {}
    for r in rows:
        series.setdefault(r["event_type"], []).append(r["value"])
    for k, vals in series.items():
        s = smin = smax = 0
        for v in vals:
            s += int(np.rint(v * 1_000_000)) - mu
            smin, smax = min(smin, s), max(smax, s)
        assert got[k] == (len(vals), s, s - min(0, smin), max(0, smax) - s), k

    # and the oracle-checkable batch twin reproduces the same state
    from diagnosisextraction_ml_spark.streaming.events import cusum_drift_replay

    batch = {
        r["key"]: (
            r["n_seen"], r["s_micro"], r["cusum_up_micro"], r["cusum_down_micro"]
        )
        for r in cusum_drift_replay(ev, mu, thr).collect()
    }
    assert batch == got


def test_streaming_near_dup_gate(spark, tmp_path):
    """foreachBatch near-dup gate: a stream doc identical to a history
    doc is dropped against the static band index; a novel doc passes;
    the accepted batch equals the batch operator's keep set."""
    from diagnosisextraction_ml_spark.operators.dedup import (
        dedup_incremental_near,
        index_band_buckets,
    )
    from diagnosisextraction_ml_spark.streaming.events import (
        streaming_near_dup_gate,
    )

    hist_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    history = spark.createDataFrame(
        [(1, hist_text)], "doc_id long, text string"
    )
    index = index_band_buckets(history, k=16, bands=4)

    batch = spark.createDataFrame(
        [(10, hist_text), (11, "red green blue cyan magenta yellow black")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "near_dup_docs")
    batch.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(batch.schema).parquet(path)

    accepted: list[tuple[int, str]] = []

    def accept(df, batch_id):
        accepted.extend((r["doc_id"], r["text"]) for r in df.collect())

    q = (
        streaming_near_dup_gate(stream, index, accept, k=16, bands=4)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert sorted(i for i, _ in accepted) == [11]
    # stream ≡ batch: same keep set as the batch composition
    flags = dedup_incremental_near(batch, index, k=16, bands=4)
    batch_keep = sorted(
        r["doc_id"]
        for r in batch.join(
            flags.filter(~F.col("is_near_dup")).select("doc_id"),
            "doc_id",
            "left_semi",
        ).collect()
    )
    assert batch_keep == [11]


def test_streaming_near_dup_gate_rolling_index(spark, tmp_path):
    """When accept() appends accepted docs' band buckets to a
    file-backed index AND the gate receives a CALLABLE index provider,
    a later microbatch must screen against the earlier batch's
    appends: batch 2's copy of a batch-1 doc is dropped even though
    neither was in the index at stream start."""
    from diagnosisextraction_ml_spark.operators.dedup import index_band_buckets
    from diagnosisextraction_ml_spark.streaming.events import (
        streaming_near_dup_gate,
    )

    doc_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    doc_b = "red green blue cyan magenta yellow black white grey brown"
    idx_path = str(tmp_path / "band_index")
    # seed the index with one unrelated historical doc so batch 1 reads
    # a non-empty parquet source
    index_band_buckets(
        spark.createDataFrame([(1, doc_b)], "doc_id long, text string"),
        k=16,
        bands=4,
    ).write.mode("overwrite").parquet(idx_path)

    src = str(tmp_path / "docs")
    schema = "doc_id long, text string"
    spark.createDataFrame([(10, doc_a)], schema).write.mode("overwrite").parquet(src)

    accepted: list[int] = []

    def accept(df, batch_id):
        kept = df.cache()
        accepted.extend(r["doc_id"] for r in kept.collect())
        index_band_buckets(kept, k=16, bands=4).write.mode("append").parquet(
            idx_path
        )
        kept.unpersist()

    def run_stream():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_near_dup_gate(
                stream,
                lambda: spark.read.parquet(idx_path),
                accept,
                k=16,
                bands=4,
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_roll"))
            .start()
        )
        q.awaitTermination(120)

    run_stream()  # batch 1: doc_a is novel → accepted + appended
    assert accepted == [10]
    spark.createDataFrame([(20, doc_a)], schema).write.mode("append").parquet(src)
    run_stream()  # batch 2: doc_a now in the rolled-forward index
    assert accepted == [10]  # 20 screened out by batch 1's append


def test_stream_sink_day_partitioned_layout(spark, sf_dir, tmp_path):
    """The partition-pruned layout is what a streaming event sink
    writes at 100 TB: writeStream.partitionBy(event_day) lands one
    directory per day, and a later batch reader with a day predicate
    prunes at listing time (PartitionFilters) — the same contract
    tests/test_partitioned.py pins for the partitioned _layout."""
    path, schema = _events_dir(spark, sf_dir, tmp_path)
    stream = read_events_stream(spark, path, schema, max_files_per_trigger=2)
    out = str(tmp_path / "events_day_sink")
    q = (
        stream.withColumn("event_day", F.date_format("ts", "yyyy-MM-dd"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_day_sink"))
        .partitionBy("event_day")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    # one directory per day, row parity with the source
    src = spark.read.parquet(path)
    assert back.count() == src.count()
    week = back.filter(F.col("event_day").between("2024-01-08", "2024-01-14"))
    plan = week._jdf.queryExecution().executedPlan().toString()
    line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "event_day" in line.split("PartitionFilters:")[1].split("]")[0]
    n_days_week = week.select(F.input_file_name()).distinct().count()
    n_days_all = back.select(F.input_file_name()).distinct().count()
    assert 0 < n_days_week < n_days_all
    # rows match the ts-predicate equivalent on the unpartitioned source
    want = src.filter(
        (F.col("ts") >= F.lit("2024-01-08 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
    ).count()
    assert week.count() == want


def test_stream_sink_then_versioned_compaction_end_to_end(spark, sf_dir, tmp_path):
    """The full day-2 ops loop: a streaming sink fragments a
    day-partitioned tree (one file per micro-batch per touched day) →
    writers quiesce → compact_partitioned publishes a verified new
    version behind the atomic pointer → readers still prune by day
    through the symlink and see identical rows, now ~1 file/day."""
    from diagnosisextraction_ml_spark.sources.maintenance import (
        compact_partitioned,
        partition_file_stats,
    )

    path, schema = _events_dir(spark, sf_dir, tmp_path)
    stream = read_events_stream(spark, path, schema, max_files_per_trigger=1)
    out = str(tmp_path / "events_compact_e2e")
    q = (
        stream.withColumn("event_day", F.date_format("ts", "yyyy-MM-dd"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_compact_e2e"))
        .partitionBy("event_day")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    src_rows = spark.read.parquet(path).count()
    before = partition_file_stats(out, "event_day")
    assert max(n for n, _ in before.values()) > 1  # stream fragmented it

    res = compact_partitioned(spark, out, "event_day")
    assert res["rows"] == src_rows
    assert res["files_after"] < res["files_before"]
    after = partition_file_stats(out, "event_day")
    assert all(n == 1 for n, _ in after.values())

    back = spark.read.parquet(out)
    assert back.count() == src_rows
    week = back.filter(F.col("event_day").between("2024-01-08", "2024-01-14"))
    plan = week._jdf.queryExecution().executedPlan().toString()
    line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "event_day" in line.split("PartitionFilters:")[1].split("]")[0]
    # and the streaming checkpoint still resumes cleanly post-compaction
    # (the sink path is the POINTER; a new micro-batch writes through it
    # into the current version)
    import os

    assert os.path.islink(out)
