"""Unit tests of the pandas-semantics edge cases SURVEY.md §7 calls the hard
parts: min_periods nulls, pooled z-score, keep-last dedup, business-day
calendar, strict tolerance — asserted against pandas itself on tiny literal
frames."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from multi_source_financial_data_pipeline_spark.operators.crossval import (
    compare_sources,
    first_request_wins,
    merge_discrepancy_flags,
)
from multi_source_financial_data_pipeline_spark.operators.timeseries import (
    timeseries_features,
)
from multi_source_financial_data_pipeline_spark.operators.validation import (
    dedup_keep_last,
    duplicate_stats,
    missing_business_days,
    pooled_zscore_outliers,
)


@pytest.fixture()
def prices(spark):
    rows = []
    for t, base in (("AAA", 100.0), ("BBB", 50.0)):
        for i in range(30):
            rows.append((t, f"2024-01-{i + 1:02d}", base + i * (1 if t == "AAA" else -0.5), i))
    df = spark.createDataFrame(rows, "ticker string, date string, close double, seq long")
    return df.withColumn("date", F.to_date("date"))


def test_min_periods_and_pct_change(spark, prices):
    out = timeseries_features(
        prices, key="ticker", order=("date",), value="close",
        ma_windows=(5, 20), vol_window=5,
    ).toPandas().sort_values(["ticker", "date"]).reset_index(drop=True)

    pdf = prices.toPandas().sort_values(["ticker", "date"]).reset_index(drop=True)
    pdf["ret"] = pdf.groupby("ticker")["close"].pct_change()
    pdf["ma5"] = pdf.groupby("ticker")["close"].transform(lambda s: s.rolling(5).mean())
    pdf["ma20"] = pdf.groupby("ticker")["close"].transform(lambda s: s.rolling(20).mean())
    pdf["vol5"] = pdf.groupby("ticker")["ret"].transform(lambda s: s.rolling(5).std())

    for col in ("ret", "ma5", "ma20", "vol5"):
        pd.testing.assert_series_equal(
            out[col], pdf[col], check_names=False, rtol=1e-12, atol=1e-12,
        )
    # min_periods head: first 4 ma5 per ticker are null, like pandas
    assert out.groupby("ticker")["ma5"].apply(lambda s: s.head(4).isna().all()).all()


def test_dedup_keep_last_positional(spark):
    df = spark.createDataFrame(
        [("A", "d1", 1.0, 0), ("A", "d1", 2.0, 1), ("A", "d2", 3.0, 2), ("B", "d1", 4.0, 3)],
        "ticker string, date string, close double, seq long",
    )
    out = dedup_keep_last(df, ["ticker", "date"], "seq").toPandas()
    pdf = df.toPandas().drop_duplicates(subset=["ticker", "date"], keep="last")
    assert sorted(out["close"]) == sorted(pdf["close"])  # 2.0 survives, not 1.0

    stats = duplicate_stats(df, ["ticker", "date"]).collect()[0]
    pdf_all = df.toPandas()
    # pandas duplicated(keep=False).sum() counts all members of dup groups
    assert stats["dup_rows"] == int(pdf_all.duplicated(["ticker", "date"], keep=False).sum())
    assert stats["dup_groups"] == 1


def test_pooled_zscore_is_global_not_per_key(spark):
    # one huge value in ticker B; pooled std is inflated by design
    rows = [("A", float(i), i) for i in range(20)] + [("B", 1000.0, 20)]
    df = spark.createDataFrame(rows, "ticker string, ret double, seq long")
    got = pooled_zscore_outliers(df, "ret", threshold=3.0).collect()[0]
    pdf = pd.DataFrame(rows, columns=["ticker", "ret", "seq"])
    z = (pdf["ret"] - pdf["ret"].mean()) / pdf["ret"].std()  # ddof=1 pooled
    assert got["n_outliers"] == int((z.abs() > 3.0).sum())
    assert got["n_total"] == len(pdf)


def test_missing_business_days_mon_fri_no_holidays(spark):
    # 2024-01-01 is a Monday; drop Wed Jan 3 and the weekend
    days = ["2024-01-01", "2024-01-02", "2024-01-04", "2024-01-05", "2024-01-08"]
    df = spark.createDataFrame([("T", d) for d in days], "ticker string, date string")
    df = df.withColumn("date", F.to_date("date"))
    out = {r["ticker"]: r["missing_bdays"] for r in missing_business_days(df, "ticker").collect()}
    cal = pd.bdate_range("2024-01-01", "2024-01-08")
    expected = len(set(cal.date) - set(pd.to_datetime(pd.Series(days)).dt.date))
    assert out == {"T": expected}
    assert expected == 1  # only Jan 3; weekend days are not business days


def test_tolerance_strictly_greater(spark):
    prim = spark.createDataFrame(
        [("T", "d1", 100.0), ("T", "d2", 100.0), ("T", "d3", 100.0)],
        "ticker string, date string, yahoo_close double",
    )
    sec = spark.createDataFrame(
        [("T", "d1", 99.5), ("T", "d2", 99.4), ("T", "d3", None)],
        "ticker string, date string, alpha_close double",
    )
    out = compare_sources(prim, sec, on=["ticker", "date"], tolerance_pct=0.5).toPandas()
    # d1 diff is exactly 0.5% -> NOT flagged (strict >); d3 null -> dropped
    assert list(out["date"]) == ["d2"]
    assert out["resolved_as"].iloc[0] == "Yahoo"
    assert math.isclose(out["resolved_close"].iloc[0], 100.0)


def test_flag_merge_back_fills_false(spark):
    base = spark.createDataFrame([("T", "d1"), ("T", "d2")], "ticker string, date string")
    disc = spark.createDataFrame([("T", "d2", 1.0)], "ticker string, date string, diff_pct double")
    out = merge_discrepancy_flags(base, disc, on=["ticker", "date"]).toPandas()
    flags = dict(zip(out["date"], out["discrepancy_flag"]))
    assert flags == {"d1": False, "d2": True}


def test_first_request_wins_excludes_only_existing_keys(spark):
    incoming = spark.createDataFrame(
        [("T", "d1", 1.0), ("T", "d2", 2.0), ("T", "d2", 2.5)],
        "ticker string, date string, close double",
    )
    existing = spark.createDataFrame([("T", "d1", 9.0)], "ticker string, date string, close double")
    kept = first_request_wins(incoming, existing, ["ticker", "date"]).toPandas()
    # d1 exists from an earlier request -> skipped; within-batch dup on d2 is
    # NOT deduped (reference probes existing data only, src/database.py:194)
    assert sorted(kept["close"]) == [2.0, 2.5]


def test_gap_fill_matches_pandas_resample_ffill(spark):
    """gap_fill_daily ≡ pandas per-key resample('D').last().ffill() over each
    key's [first, last] observed day — including multi-observation days
    (last-by-(ts, id) wins) and keys with no gaps at all."""
    from multi_source_financial_data_pipeline_spark.operators.timeseries import gap_fill_daily

    rows = [
        # key 1: gap days 2024-01-02..03, two observations on the 4th
        (1, "2024-01-01 10:00:00", 10.0, 1),
        (1, "2024-01-04 09:00:00", 40.0, 2),
        (1, "2024-01-04 16:00:00", 44.0, 3),
        (1, "2024-01-06 10:00:00", 60.0, 4),
        # key 2: contiguous, no gaps
        (2, "2024-02-01 00:00:00", 1.0, 5),
        (2, "2024-02-02 00:00:00", 2.0, 6),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, value double, event_id long"
    ).withColumn("ts", F.to_timestamp("ts")).withColumn("date", F.to_date("ts"))
    got = (
        gap_fill_daily(df, "user_id", "date", "value", order_cols=("ts", "event_id"))
        .toPandas()
        .sort_values(["user_id", "cal_date"])
        .reset_index(drop=True)
    )

    pdf = df.toPandas()
    want_parts = []
    for uid, g in pdf.groupby("user_id"):
        s = (
            g.sort_values(["ts", "event_id"])
            .set_index(pd.to_datetime(g.sort_values(["ts", "event_id"])["ts"]))["value"]
            .resample("D")
            .last()
        )
        observed = s.notna()
        want_parts.append(
            pd.DataFrame(
                {
                    "user_id": uid,
                    "cal_date": s.index.date,
                    "value_filled": s.ffill().to_numpy(),
                    "is_observed": observed.astype("int32").to_numpy(),
                }
            )
        )
    want = pd.concat(want_parts).sort_values(["user_id", "cal_date"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_concat_chunk_packing_prefix_sums(spark):
    """Packing offsets ≡ a literal per-shard prefix sum, and the seq spans
    follow from integer division — including a doc straddling a boundary
    and a doc exactly filling a sequence."""
    from multi_source_financial_data_pipeline_spark.operators.packing import (
        concat_chunk_packing,
    )

    rows = [  # shard A: token counts 3, 5 (straddles L=4), 4 (exact fill)
        (1, "a", "t t t"),
        (2, "a", "t t t t t"),
        (3, "a", "t t t t"),
        (4, "b", "t"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in concat_chunk_packing(
            df, seq_len=4, tokens=F.size(F.split(F.col("text"), r"\s+")),
            shard_col="source", order_col="doc_id",
        ).collect()
    }
    # doc1: [0,3) -> seq 0 only; doc2: [3,8) -> seqs 0..1; doc3: [8,12) -> seq 2
    assert (got[1]["start_offset"], got[1]["first_seq"], got[1]["last_seq"]) == (0, 0, 0)
    assert (got[2]["start_offset"], got[2]["first_seq"], got[2]["last_seq"]) == (3, 0, 1)
    assert got[2]["n_seqs_spanned"] == 2
    assert (got[3]["start_offset"], got[3]["first_seq"], got[3]["last_seq"]) == (8, 2, 2)
    assert (got[4]["start_offset"], got[4]["first_seq"]) == (0, 0)  # shard b restarts


def test_repetition_stats_literal_frames(spark):
    """Repetition metrics against hand-computed values: a fully repetitive
    doc, a no-repeat doc, and a doc too short for any gram."""
    from multi_source_financial_data_pipeline_spark.operators.text import repetition_stats

    rows = [
        (1, "x y x y x y x y"),   # bigrams: xy*4,yx*3 -> top 4/7; trigrams: 6 total, 2 distinct
        (2, "a b c d e f g h i j"),  # all grams unique, 9 bigrams -> top 1/9 < 0.18
        (3, "solo"),              # no bigrams/trigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    assert got[1]["top_bigram_frac"] == pytest.approx(4 / 7)
    assert got[1]["dup_trigram_frac"] == pytest.approx(1 - 2 / 6)
    assert got[1]["is_repetitive"] == 1
    assert got[2]["top_bigram_frac"] == pytest.approx(1 / 9)
    assert got[2]["dup_trigram_frac"] == 0.0
    assert got[2]["is_repetitive"] == 0
    assert got[3]["top_bigram_frac"] == 0.0 and got[3]["dup_trigram_frac"] == 0.0
    assert got[3]["is_repetitive"] == 0


def test_bollinger_and_rsi_match_pandas(spark):
    """Bollinger bands = rolling(20).mean() ± 2·rolling(20).std(ddof=1) with
    min_periods=20, and Cutler's RSI = 100·SMA(gain,14)/(SMA(gain,14) +
    SMA(loss,14)) over the diff series — asserted against pandas on a
    deterministic series shaped like the events table."""
    import numpy as np

    from multi_source_financial_data_pipeline_spark.plans.financial import (
        BOLL_K,
        BOLL_N,
        RSI_N,
        q_bollinger_bands,
        q_rsi,
    )

    n = 60
    vals = [100.0 + 7 * math.sin(i / 3.0) + (i % 5) for i in range(n)]
    rows = [
        (i, 7, f"2024-01-01 00:{i:02d}:00" if i < 60 else None, "view", vals[i], None)
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string, "
              "value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))

    import multi_source_financial_data_pipeline_spark.plans.financial as fin
    orig = fin.load_table
    fin.load_table = lambda _s, _d, _n: df
    try:
        boll = q_bollinger_bands(spark, "unused").toPandas().sort_values("event_id")
        rsi = q_rsi(spark, "unused").toPandas().sort_values("event_id")
    finally:
        fin.load_table = orig

    s = pd.Series(vals)
    mid = s.rolling(BOLL_N, min_periods=BOLL_N).mean()
    sd = s.rolling(BOLL_N, min_periods=BOLL_N).std(ddof=1)
    exp_mid = mid.round(6)
    exp_up = (mid + BOLL_K * sd).round(6)
    exp_lo = (mid - BOLL_K * sd).round(6)
    assert np.allclose(boll["mid"], exp_mid, equal_nan=True, atol=1e-9)
    assert np.allclose(boll["upper"], exp_up, equal_nan=True, atol=1e-9)
    assert np.allclose(boll["lower"], exp_lo, equal_nan=True, atol=1e-9)
    got_pos = list(boll["band_position"])
    for i in range(n):
        if math.isnan(exp_up.iloc[i]):
            assert got_pos[i] == "warmup"
        elif vals[i] > exp_up.iloc[i]:
            assert got_pos[i] == "above", i
        elif vals[i] < exp_lo.iloc[i]:
            assert got_pos[i] == "below", i
        else:
            assert got_pos[i] == "inside", i

    diff = s.diff()
    gain = diff.clip(lower=0.0)
    loss = (-diff).clip(lower=0.0)
    ag = gain.rolling(RSI_N, min_periods=RSI_N).sum()
    al = loss.rolling(RSI_N, min_periods=RSI_N).sum()
    exp_rsi = (100.0 * ag / (ag + al)).round(6)
    assert np.allclose(rsi["rsi"], exp_rsi, equal_nan=True, atol=1e-9)


def test_macd_matches_pandas_ewm(spark):
    """The coupled fold must equal pandas `ewm(span=n, adjust=False)` —
    the exact recursion the reference's pandas stack would run: fast/slow
    EMAs over the series, signal EMA over their difference."""
    import numpy as np

    from multi_source_financial_data_pipeline_spark.operators.grouped import macd_last

    rng = np.random.default_rng(7)
    rows = []
    for key in (1, 2):
        for i, v in enumerate(rng.normal(100, 5, 40)):
            rows.append((key, i, i, float(v)))
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long, value double")
    got = (
        macd_last(df, key="user_id", ts_col="ts", tiebreak="event_id", value_col="value")
        .toPandas().sort_values("key").reset_index(drop=True)
    )
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id", "value"])
    for i, key in enumerate((1, 2)):
        s = pdf[pdf.user_id == key].sort_values(["ts", "event_id"])["value"]
        macd = (
            s.ewm(span=12, adjust=False).mean() - s.ewm(span=26, adjust=False).mean()
        )
        signal = macd.ewm(span=9, adjust=False).mean()
        assert got.macd_line[i] == pytest.approx(macd.iloc[-1], rel=1e-12)
        assert got.signal_line[i] == pytest.approx(signal.iloc[-1], rel=1e-12)
        assert got.histogram[i] == pytest.approx(
            macd.iloc[-1] - signal.iloc[-1], rel=1e-12, abs=1e-12
        )


def test_kmv_estimate_properties(spark):
    """KMV sanity: when a type has fewer distinct users than k the estimate
    IS the exact count, and with n >> k the estimate lands within the
    textbook ~1/sqrt(k-1) relative-error envelope (×3 slack)."""
    from multi_source_financial_data_pipeline_spark.plans.eventstream import KMV_K

    rows = [(i, f"2024-01-01 00:00:{i % 60:02d}", i % 5, "small", 1.0, "{}") for i in range(40)]
    rows += [(1000 + i, f"2024-01-01 01:00:{i % 60:02d}", i, "big", 1.0, "{}") for i in range(2000)]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        from multi_source_financial_data_pipeline_spark.plans.eventstream import q_kmv_distinct

        out = {
            r["event_type"]: r
            for r in q_kmv_distinct(spark, d).collect()
        }
    assert out["small"]["n_exact"] == 5
    assert out["small"]["kmv_estimate"] == 5.0  # < k → exact passthrough
    big = out["big"]
    assert big["n_exact"] == 2000
    assert abs(big["kmv_estimate"] - 2000) / 2000 < 3.0 / (KMV_K - 1) ** 0.5


def test_grouped_fold_enforces_per_key_history_bound(spark):
    """The grouped-map folds materialize one key's FULL history per task
    (applyInPandas does not chunk), so per-key history is a hard bound —
    enforced with a clear error, not an opaque executor OOM. A key above
    `max_rows` must fail with the pre-aggregate guidance; the same data
    under the default bound folds fine."""
    from multi_source_financial_data_pipeline_spark.operators import grouped

    rows = [(7, float(i), i, 100.0 + i % 3) for i in range(50)]
    df = spark.createDataFrame(
        rows, "user_id long, day double, event_id long, value double"
    )
    out = grouped.ewma_last(df, "user_id", "day", "event_id", "value")
    assert out.count() == 1  # default bound: folds normally

    capped = grouped.ewma_last(
        df, "user_id", "day", "event_id", "value", max_rows=10
    )
    with pytest.raises(Exception) as ei:
        capped.collect()
    assert "per-key history bound" in str(ei.value)
    assert "pre-aggregate" in str(ei.value)

    # same contract on the most expensive member of the family
    capped_macd = grouped.macd_last(
        df, "user_id", "day", "event_id", "value", max_rows=10
    )
    with pytest.raises(Exception) as ei:
        capped_macd.collect()
    assert "per-key history bound" in str(ei.value)


def test_fold_family_optional_tiebreak_matches_tiebreak_form(spark):
    """`tiebreak=None` (VERDICT r11 item 7): when ts is unique per key —
    true by construction for bar series — the fold family accepts None
    instead of a semantically meaningless filler column, and produces
    bit-identical results to the 2-column-sort form."""
    from multi_source_financial_data_pipeline_spark.operators import grouped

    rows = [
        (k, float(i), i, 100.0 + ((i * 7 + k) % 13) * 0.5)
        for k in (1, 2, 3)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, day double, event_id long, value double"
    )
    for fn in (grouped.ewma_last, grouped.cusum_last, grouped.macd_last,
               grouped.rsi_wilder_last):
        with_tb = {
            r["key"]: r.asDict()
            for r in fn(df, "user_id", "day", "event_id", "value").collect()
        }
        without = {
            r["key"]: r.asDict()
            for r in fn(df, "user_id", "day", None, "value").collect()
        }
        assert with_tb == without, fn.__name__


def test_fold_tiebreak_none_rejects_duplicate_ts(spark):
    """r12 ADVICE regression pin: `tiebreak=None` asserts ts is unique per
    key; pandas sort_values is an unstable quicksort, so a duplicate would
    silently make the fold result nondeterministic. The precondition is now
    ENFORCED — a duplicated ts under tiebreak=None raises with the
    contract spelled out, on every family member (wilder_last's order_col
    carries the same contract unconditionally)."""
    import pytest

    from multi_source_financial_data_pipeline_spark.operators import grouped

    rows = [(1, float(i), i, 100.0 + i * 0.5) for i in range(40)]
    rows[7] = (1, rows[6][1], 99, 101.0)  # duplicate ts within the key
    df = spark.createDataFrame(
        rows, "user_id long, day double, event_id long, value double"
    )
    for fn in (grouped.ewma_last, grouped.cusum_last, grouped.macd_last,
               grouped.rsi_wilder_last):
        with pytest.raises(Exception) as ei:
            fn(df, "user_id", "day", None, "value").collect()
        msg = str(ei.value)
        assert "duplicate" in msg and "tiebreak=None" in msg, fn.__name__
        # the 2-column-sort form remains the sanctioned path for raw events
        fn(df, "user_id", "day", "event_id", "value").collect()
    with pytest.raises(Exception) as ei:
        grouped.wilder_last(df, "user_id", "day", "value").collect()
    assert "duplicate" in str(ei.value)


def test_resample_bars_exact_sum_survives_wide_values(spark):
    """r11 ADVICE regression pin: exact_sum previously cast through
    DECIMAL(12,2), so |v| >= 1e10 became NULL under Spark's non-ANSI CAST
    and silently dropped out of sum_value while the DuckDB oracle's
    identical CAST raised. DECIMAL(18,2) must carry them exactly."""
    import datetime

    from multi_source_financial_data_pipeline_spark.operators.timeseries import resample_bars

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0, 20_000_000_000.25, 1),
        (1, t0 + datetime.timedelta(minutes=5), -1.25, 2),
        (1, t0 + datetime.timedelta(minutes=10), 3.5, 3),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_id long"
    )
    out = resample_bars(df, "user_id", "ts", "value", 3600, ("event_id",)).collect()
    assert len(out) == 1
    bar = out[0]
    assert bar["n_events"] == 3
    assert bar["sum_value"] == 20_000_000_002.5  # exact, nothing NULLed out
    assert bar["open_value"] == 20_000_000_000.25
    assert bar["close_value"] == 3.5


def test_resample_bars_exact_sum_overflow_fails_loudly(spark):
    """r12 ADVICE regression pin: a value beyond DECIMAL(18,2) must FAIL
    on the Spark side (matching the DuckDB oracle, which raises on the
    same CAST) regardless of spark.sql.ansi.enabled — under ansi=false a
    plain CAST would NULL and silently drop the row from sum_value. The
    operator now try_casts and raises its own contract error."""
    import datetime

    import pytest

    from multi_source_financial_data_pipeline_spark.operators.timeseries import resample_bars

    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t0, 1e17, 1)],
        "user_id long, ts timestamp, value double, event_id long",
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            with pytest.raises(Exception) as ei:
                resample_bars(
                    df, "user_id", "ts", "value", 3600, ("event_id",)
                ).collect()
            msg = str(ei.value)
            assert "exact_sum" in msg and "DECIMAL(18,2) range" in msg, ansi
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_resample_bars_matches_pandas_ohlc_and_second_width_path(spark):
    """`resample_bars` parity with pandas ``resample(rule).ohlc()`` on an
    irregular series, and the integer-seconds path: a 3600-second width
    must equal the calendar ``"hour"`` path exactly (whole-second
    timestamps), so the two interval flavors are interchangeable where
    they overlap."""
    import pandas as pd

    from pyspark.sql import functions as F
    from multi_source_financial_data_pipeline_spark.operators.timeseries import resample_bars

    rng = __import__("random").Random(23)
    base = 1_700_000_000
    rows = []
    t = 0
    for i in range(400):
        t += rng.randrange(1, 900)  # irregular gaps up to 15 min
        rows.append((1, base + t, i, round(rng.uniform(50, 150), 2)))
    df = spark.createDataFrame(
        rows, "user_id long, epoch long, event_id long, value double"
    ).select(
        "user_id",
        F.timestamp_seconds("epoch").alias("ts"),
        "event_id",
        "value",
    )
    got = (
        resample_bars(df, "user_id", "ts", "value", "hour", ("event_id",))
        .orderBy("bar_ts")
        .toPandas()
    )
    pdf = pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "value"])
    pdf["ts"] = pd.to_datetime(pdf["epoch"], unit="s")
    want = pdf.set_index("ts")["value"].resample("h").ohlc().dropna()
    assert len(got) == len(want)
    assert list(got["open_value"]) == list(want["open"])
    assert list(got["high_value"]) == list(want["high"])
    assert list(got["low_value"]) == list(want["low"])
    assert list(got["close_value"]) == list(want["close"])
    n_want = pdf.set_index("ts")["value"].resample("h").count()
    assert list(got["n_events"]) == list(n_want[n_want > 0])

    got_sec = (
        resample_bars(df, "user_id", "ts", "value", 3600, ("event_id",))
        .orderBy("bar_ts")
        .toPandas()
    )
    assert got_sec.drop(columns=["bar_ts"]).equals(got.drop(columns=["bar_ts"]))
    assert list(got_sec["bar_ts"]) == list(got["bar_ts"])


def test_resample_bars_prestep_unblocks_fold_above_history_bound(spark):
    """VERDICT r10 item 3 contract: a key ABOVE `GROUPED_FOLD_MAX_ROWS`
    refuses the direct fold (actionable error naming the pre-step), and
    `resample_bars` → fold-the-close-series yields exactly the fold of
    the post-aggregated series (bit-identical float sequence, computed
    independently here). The pre-step partitions by (key, bar), so the
    hot key spreads across its bars instead of one task."""
    from pyspark.sql import functions as F
    from multi_source_financial_data_pipeline_spark.operators import grouped
    from multi_source_financial_data_pipeline_spark.operators.timeseries import resample_bars

    n = grouped.GROUPED_FOLD_MAX_ROWS + 100_000
    base = 1_699_999_200  # hour-aligned, so bar h = ids [h*3600, h*3600+3599]
    ev = spark.range(n).select(
        F.lit(7).alias("user_id"),
        F.timestamp_seconds(F.lit(base) + F.col("id")).alias("ts"),
        F.col("id").alias("event_id"),
        (
            F.lit(100.0) + (F.col("id") % 997).cast("double") * F.lit(0.25)
        ).alias("value"),
    )
    direct = grouped.ewma_last(ev, "user_id", "ts", "event_id", "value")
    with pytest.raises(Exception) as ei:
        direct.collect()
    assert "per-key history bound" in str(ei.value)
    assert "resample_bars" in str(ei.value)

    bars = resample_bars(
        ev, "user_id", "ts", "value", "hour", ("event_id",), exact_sum=False
    )
    folded = grouped.ewma_last(
        bars, "user_id", "bar_ts", "n_events", "close_value"
    ).collect()
    assert len(folded) == 1

    # independent fold of the post-aggregated series: hour h's close is
    # value at the last second of the hour (same float ops as ewma_last)
    closes = []
    h = 0
    while h * 3600 < n:
        i = min(n - 1, h * 3600 + 3599)
        closes.append(100.0 + float(i % 997) * 0.25)
        h += 1
    y = closes[0]
    for x in closes[1:]:
        y = y * 0.7 + 0.3 * x
    assert folded[0]["n_rows"] == len(closes)
    assert folded[0]["ewma"] == y
