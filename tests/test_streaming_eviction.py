"""Watermark EVICTION semantics pinned batch-by-batch (VERDICT r12 item 4).

`stream_bars_ohlc_wm` registers the continuous-deployment shape — append
mode + watermark — and its oracle encodes the final-cutoff rule; what the
oracle CANNOT see is the incremental behavior between micro-batches: that
each closed bar is emitted exactly once (not re-emitted, not dropped) and
that its state row leaves the store at emission time, so state is bounded
by the watermark horizon instead of growing with history. This suite
replays an in-order event series across multiple file micro-batches and
asserts those two properties after EVERY batch, via the progress API's
state-operator counters — the harness pattern of
tests/test_connector.py::test_stream_ticks_incremental_batches, applied to
a file source (reference parity: the pandas/SQLite reference re-runs its
whole pipeline per cron tick and dedups on key, so 'each bar exactly once'
is the semantic it gets by reprocessing; here the same contract holds with
O(horizon) state and no reprocessing)."""

import datetime

import pytest
from pyspark.sql import functions as F


def _mk(spark, t0, day_lo, day_hi):
    """Two users, five events per day at fixed hours — each day contributes
    five distinct 4-hour bars per user, so bar counts are closed-form."""
    rows = []
    for u in (1, 2):
        for d in range(day_lo, day_hi):
            for h in (0, 5, 11, 17, 23):
                ts = t0 + datetime.timedelta(days=d, hours=h, minutes=u)
                rows.append((u, len(rows) + d * 1000 + u, ts, 100.0 + d + h * 0.1 + u))
    return spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )


BARS_PER_USER_DAY = 5  # hours {0,5,11,17,23} land in 5 distinct 4h windows


def test_watermarked_bars_emit_once_and_evict_state(spark, tmp_path):
    """After every micro-batch: (a) no (user, bar) has ever been emitted
    twice; (b) state rows == bars seen − bars emitted (emission ⇒ eviction,
    retention ⇒ still open); (c) the emitted set is exactly the bars whose
    end ≤ the current watermark. At the end, the emitted rows equal the
    batch `resample_bars` OHLC restricted to closed bars — the full OHLC
    state (open/high/low/close/n/sum) is consumed and verified, not just
    maintained."""
    from multi_source_financial_data_pipeline_spark.operators.timeseries import resample_bars
    from multi_source_financial_data_pipeline_spark.session import pin_utc

    pin_utc(spark)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    t0 = datetime.datetime(2024, 1, 1)
    landing = str(tmp_path / "landing")
    (tmp_path / "landing").mkdir()  # the file source wants an existing dir
    schema = _mk(spark, t0, 0, 1).schema
    stream = spark.readStream.schema(schema).parquet(landing)
    bars = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "4 hours"), F.col("user_id"))
        .agg(
            F.min(F.struct("ts", "event_id", "value")).alias("__open"),
            F.max(F.struct("ts", "event_id", "value")).alias("__close"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("window.start").cast("long").alias("bar_epoch"),
            F.col("__open.value").alias("open_value"),
            "high_value",
            "low_value",
            F.col("__close.value").alias("close_value"),
            "n_events",
            "sum_value",
        )
    )
    query = (
        bars.writeStream.format("memory")
        .queryName("evict_pin")
        .outputMode("append")
        .start()
    )
    try:
        batches = [(0, 3), (3, 6), (6, 9)]
        fed = []
        emitted_prev: set = set()
        for lo, hi in batches:
            batch_df = _mk(spark, t0, lo, hi)
            fed.append(batch_df)
            batch_df.coalesce(1).write.mode("append").parquet(landing)
            query.processAllAvailable()
            rows = spark.table("evict_pin").collect()
            keys = [(r["user_id"], r["bar_epoch"]) for r in rows]
            # (a) exactly-once: nothing ever emitted twice, and earlier
            # emissions are never retracted or re-sent
            assert len(keys) == len(set(keys))
            assert emitted_prev <= set(keys)
            emitted_prev = set(keys)
            # (c) emitted iff bar end ≤ current watermark (ms arithmetic)
            progress = query.lastProgress
            wm = datetime.datetime.strptime(
                progress["eventTime"]["watermark"], "%Y-%m-%dT%H:%M:%S.%fZ"
            )
            wm_s = wm.replace(tzinfo=datetime.timezone.utc).timestamp()
            bars_seen = {
                (r["user_id"],
                 int(r["ts"].replace(tzinfo=datetime.timezone.utc).timestamp())
                 // 14400 * 14400)
                for df in fed
                for r in df.select("user_id", "ts").collect()
            }
            closed = {(u, b) for (u, b) in bars_seen if b + 14400 <= wm_s}
            assert set(keys) == closed
            # (b) eviction: state holds exactly the still-open bars
            state = progress["stateOperators"][0]
            assert state["numRowsTotal"] == len(bars_seen) - len(closed)
        # bounded-state sanity at the end of the replay: 9 days of history,
        # state holds only the watermark horizon (~1 day + delay), far below
        # total bar count
        total_bars = 2 * 9 * BARS_PER_USER_DAY
        assert len(emitted_prev) + state["numRowsTotal"] == total_bars
        assert state["numRowsTotal"] < total_bars / 3
    finally:
        query.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    # the emitted OHLC rows are the batch resample_bars rows for closed bars
    all_events = fed[0]
    for df in fed[1:]:
        all_events = all_events.unionByName(df)
    want = {
        (r["user_id"], int(r["bar_ts"].replace(tzinfo=datetime.timezone.utc).timestamp())): (
            r["open_value"], r["high_value"], r["low_value"],
            r["close_value"], r["n_events"], r["sum_value"],
        )
        for r in resample_bars(all_events, 14400).collect()
    }
    got_rows = spark.table("evict_pin").collect()
    assert len(got_rows) == len(emitted_prev)
    for r in got_rows:
        k = (r["user_id"], r["bar_epoch"])
        assert want[k] == (
            r["open_value"], r["high_value"], r["low_value"],
            r["close_value"], r["n_events"], r["sum_value"],
        ), k


def test_registered_wm_query_subsets_bars_4h(spark):
    """`stream_bars_ohlc_wm`'s rows are exactly `bars_4h`'s rows restricted
    to closed bars — same derivation, the watermark cutoff is the only
    difference (and at least one bar is open at the tail, so the subset is
    PROPER: the cutoff provably did something)."""
    import os

    from multi_source_financial_data_pipeline_spark.plans.registry import QUERIES

    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    wm = {tuple(r) for r in QUERIES["stream_bars_ohlc_wm"].fn(spark, sf_dir).collect()}
    full = {tuple(r) for r in QUERIES["bars_4h"].fn(spark, sf_dir).collect()}
    assert wm < full


def test_streaming_checked_decimal_overflow_fails_loudly(spark, tmp_path):
    """r13 ADVICE regression pin: `stream_bars_ohlc_wm`'s sum_value now
    shares `resample_bars`' checked DECIMAL(18,2) expression, so an
    out-of-range value FAILS the micro-batch (matching the DuckDB oracle,
    which raises on the same CAST) instead of silently becoming NULL and
    dropping from sum_value under ansi=false — raise_error is exercised
    INSIDE a streaming aggregate here, the exact context the fix targets."""
    import datetime

    from multi_source_financial_data_pipeline_spark.operators.timeseries import checked_decimal
    from multi_source_financial_data_pipeline_spark.session import pin_utc

    pin_utc(spark)
    t0 = datetime.datetime(2024, 1, 1)
    landing = str(tmp_path / "landing_ovf")
    (tmp_path / "landing_ovf").mkdir()
    df = spark.createDataFrame(
        [(1, 1, t0, 1e17)],
        "user_id long, event_id long, ts timestamp, value double",
    )
    df.coalesce(1).write.mode("append").parquet(landing)
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        stream = spark.readStream.schema(df.schema).parquet(landing)
        bars = (
            stream.withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "4 hours"), F.col("user_id"))
            .agg(
                F.sum(checked_decimal(F.col("value"), "stream ovf pin"))
                .cast("double")
                .alias("sum_value")
            )
        )
        query = (
            bars.writeStream.format("memory")
            .queryName("ovf_pin")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception) as ei:
            query.awaitTermination()
        msg = str(ei.value)
        assert "stream ovf pin" in msg and "DECIMAL(18,2) range" in msg
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_incremental_dedup_state_classifies_and_evicts(spark, tmp_path):
    """Batch-by-batch pin for `incremental_dedup_classes` (VERDICT r15
    item 4), the properties its registered oracle cannot see:

    (a) exactly-once append: every arriving row is classified in its
        arrival batch and never re-emitted;
    (b) state is O(un-indexed fps within the horizon): index-hit fps
        never allocate state, and an fp's state row leaves the store once
        the watermark passes last-seen + horizon;
    (c) the horizon trade in BOTH directions: a duplicate inside the
        horizon classifies dup_within_delta, and the SAME fp arriving
        after its state evicted re-classifies new_unique (the
        dropDuplicatesWithinWatermark contract, classified not dropped)."""
    import datetime

    from multi_source_financial_data_pipeline_spark.session import pin_utc
    from multi_source_financial_data_pipeline_spark.streaming import stateful

    pin_utc(spark)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    t0 = datetime.datetime(2024, 1, 1)

    def ts(days, hours=0):
        return t0 + datetime.timedelta(days=days, hours=hours)

    schema = "fp string, ts timestamp, event_id long, carry string, in_index boolean"
    landing = str(tmp_path / "landing_dedup")
    (tmp_path / "landing_dedup").mkdir()
    stream = spark.readStream.schema(schema).parquet(landing)
    classes = stateful.incremental_dedup_classes(
        stream.withWatermark("ts", "0 seconds"),
        horizon_ms=24 * 3600 * 1000,  # 1 day
    )
    query = (
        classes.writeStream.format("memory")
        .queryName("dedup_evict_pin")
        .outputMode("append")
        .start()
    )
    # batch 1: A twice (un-indexed) -> new_unique + dup_within_delta in
    # ONE batch; B indexed -> dup_of_existing, NO state row; C once ->
    # new_unique. The day-0 12:00 row sets the post-batch watermark.
    batch1 = [
        ("A", ts(0, 0), 1, "x", False),
        ("A", ts(0, 1), 2, "x", False),
        ("B", ts(0, 2), 3, "x", True),
        ("C", ts(0, 3), 4, "x", False),
        ("C2", ts(0, 12), 5, "x", False),
    ]
    # batch 2: A again at day-1 06:00 — watermark (day-0 12:00) has not
    # passed A's timeout (day-1 01:00... refreshed to day-2 06:00) ->
    # dup_within_delta; D at day-3 pushes the watermark far forward.
    batch2 = [
        ("A", ts(1, 6), 6, "x", False),
        ("D", ts(3, 0), 7, "x", False),
    ]
    # batch 3: the watermark advance to day-3 00:00 at the end of batch 2
    # triggers an empty timeout-processing batch that evicts every fp
    # whose last-seen + 1 day it passed (A: day-2 06:00, C: day-1 03:00,
    # C2: day-1 12:00) — processAllAvailable drains it, so batch 2's
    # recorded state total is D alone; A arriving again in batch 3
    # re-classifies new_unique.
    batch3 = [
        ("A", ts(3, 1), 8, "x", False),
    ]
    expected_classes = {
        1: "new_unique",
        2: "dup_within_delta",
        3: "dup_of_existing",
        4: "new_unique",
        5: "new_unique",
        6: "dup_within_delta",
        7: "new_unique",
        8: "new_unique",  # state evicted: the documented horizon trade
    }
    # {A,C,C2} after b1 / b2 refreshes A, adds D, then the watermark jump
    # evicts A,C,C2 eagerly (D survives) / b3 re-adds A alongside D
    expected_state_totals = [3, 1, 2]
    try:
        seen_prev: set = set()
        fed = 0
        for i, batch in enumerate([batch1, batch2, batch3]):
            spark.createDataFrame(batch, schema).coalesce(1).write.mode(
                "append"
            ).parquet(landing)
            query.processAllAvailable()
            rows = spark.table("dedup_evict_pin").collect()
            fed += len(batch)
            # (a) every row classified in its arrival batch, exactly once
            ids = [r["row_id"] for r in rows]
            assert len(ids) == len(set(ids)) == fed
            assert seen_prev <= set(ids)
            seen_prev = set(ids)
            for r in rows:
                assert r["dedup_class"] == expected_classes[r["row_id"]], (
                    r["row_id"], r["dedup_class"],
                )
            # (b) state rows: un-indexed live fps only (B never counted)
            state = query.lastProgress["stateOperators"][0]
            assert state["numRowsTotal"] == expected_state_totals[i], (
                i, state["numRowsTotal"],
            )
    finally:
        query.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
