"""Grouped series statistics (SURVEY.md §2.5 A6-A9) — macro-validation parity.

Reference: ``validate_macro_data`` at /root/reference/src/macro.py:278-326
loops series-by-series in Python; here the whole per-series breakdown is one
``groupBy`` with map-side partial aggregation, and the global summary is one
``agg`` pass. Exact min/max/count only — no float sums — so oracle hashes
match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def per_series_summary(
    df: DataFrame,
    series_col: str = "series_id",
    order_col: str | None = None,
) -> DataFrame:
    """A8 (src/macro.py:309-322): per series — record count, null count,
    min/max value, first/last date. With ``order_col``, each series also
    carries its smallest ``order_col`` value under that name, so a caller
    can list the series in row order from the same aggregate."""
    first_row = [F.min(order_col).alias(order_col)] if order_col else []
    return df.groupBy(series_col).agg(
        F.count(F.lit(1)).alias("record_count"),
        (F.count(F.lit(1)) - F.count("value")).alias("null_values"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.min("date").alias("first_date"),
        F.max("date").alias("last_date"),
        *first_row,
    )


def global_summary(
    df: DataFrame,
    series_col: str = "series_id",
) -> DataFrame:
    """A9 + A6/A7 (src/macro.py:288-306, src/database.py:308-329): one row —
    totals, distinct series, overall date range, value nulls."""
    return df.agg(
        F.count(F.lit(1)).alias("total_records"),
        F.countDistinct(series_col).alias("unique_series"),
        F.min("date").alias("first_date"),
        F.max("date").alias("last_date"),
        (F.count(F.lit(1)) - F.count("value")).alias("null_values"),
    )


def ledger_current_status(ledger: DataFrame) -> DataFrame:
    """K6 'current status' for the append-only request ledger: per request,
    the terminal event (completed/failed) wins over 'started'; ties break on
    request_timestamp. Replaces the reference's in-place UPDATE
    (src/database.py:159-175)."""
    from pyspark.sql import Window

    terminal = F.when(F.col("status") == "started", 0).otherwise(1)
    w = Window.partitionBy("request_id").orderBy(
        terminal.desc(), F.col("request_timestamp").desc()
    )
    return (
        ledger.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_per_key(df: DataFrame) -> DataFrame:
    """K6 'current status' view (src/database.py:159-175): the reference
    UPDATEs a ledger row in place; the idiomatic Spark ledger is append-only
    events + latest-row-per-key window."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def return_correlation_matrix(daily_returns: DataFrame) -> DataFrame:
    """Pairwise Pearson correlation of per-series returns — the data half of
    the reference's deleted report module (correlation heatmap,
    /root/reference/src/__init__.py:31-32; only report.cpython-311.pyc
    remains): each (series_a < series_b) pair with corr over the dates where
    both returns exist.

    Plan shape: one self-join on the date key (rows per date = number of
    series, so join output is |dates| x T² for T series) followed by a
    map-side-combined pair aggregation. Correlation matrices are quadratic
    in the series count by definition — T here is a requested basket
    (tickers, macro series), not a scale axis; the date axis is the scale
    axis and it parallelizes per pair."""
    r = daily_returns.select(
        F.col("event_type").alias("sid"),
        F.col("date").alias("d"),
        F.col("ret").alias("r"),
    )
    a, b = r.alias("a"), r.alias("b")
    both = F.col("a.r").isNotNull() & F.col("b.r").isNotNull()
    return (
        a.join(
            b,
            (F.col("a.d") == F.col("b.d")) & (F.col("a.sid") < F.col("b.sid")),
        )
        .groupBy(
            F.col("a.sid").alias("series_a"), F.col("b.sid").alias("series_b")
        )
        .agg(
            # corr ignores pairs with a null on either side in both engines;
            # rounded because co-moment accumulation order differs across
            # engines (and across Spark partial-agg merges) at ~1e-15
            F.round(F.corr(F.col("a.r"), F.col("b.r")), 6).alias("corr_ret"),
            F.count(F.when(both, F.lit(1))).alias("n_days"),
        )
    )


def rolling_vol_outliers(df: DataFrame) -> DataFrame:
    """Rolling-volatility outlier detection — the reference report module's
    outlier half: per user, return, 20-row rolling mean return and rolling
    sample std (pandas min_periods semantics), flagging returns more than
    3 rolling stds from the rolling mean. Emits only flagged rows.

    The comparison runs on the 6-decimal-rounded mean/std so both engines
    decide membership on identical doubles. One hash-exchange per key covers
    all three window columns."""
    from pyspark.sql import Window

    from multi_source_financial_data_pipeline_spark.operators.timeseries import (
        pct_change,
        rolling_mean,
        rolling_std,
    )

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-19, 0)
    ret = pct_change(F.col("value"), w)
    base = df.withColumn("ret", ret).withColumn(
        "ma_ret", F.round(rolling_mean(F.col("ret"), frame, 20), 6)
    ).withColumn(
        "vol", F.round(rolling_std(F.col("ret"), frame, 20), 6)
    )
    return base.filter(
        F.abs(F.col("ret") - F.col("ma_ret")) > F.lit(3.0) * F.col("vol")
    )
