"""Deterministic synthetic financial fixtures (FIXTURES.md F1-F3), generated
Spark-side.

The reference fetches from Yahoo/AlphaVantage/FRED over HTTP; the offline
engine needs equivalent-shaped inputs at arbitrary scale. Everything derives
from ``spark.range`` + hash-based pseudo-randoms (xxhash64 → uniform), so
generation is distributed, reproducible (seeded), and never touches the
driver — generating 10^9 rows is the same plan as 10^3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

TICKERS = ("AAPL", "TSLA", "SPY", "GLD", "USO", "UUP")  # reference defaults,
# /root/reference/src/pipeline.py:113


def _uniform(*cols, seed: int) -> "F.Column":
    """Deterministic uniform [0,1) from arbitrary key columns."""
    h = F.xxhash64(*cols, F.lit(seed))
    return (F.pmod(h, F.lit(1_000_000)).cast("double")) / 1_000_000.0


def market_ohlcv(
    spark: SparkSession,
    tickers: tuple[str, ...] = TICKERS,
) -> DataFrame:
    """F1: per-(ticker, business day) OHLCV bars with deterministic
    pseudo-random walks, plus an explicit ingest-order column."""
    n = len(tickers)
    base = spark.range(n * 260).select(
        F.col("id").alias("ingest_seq"),
        (F.col("id") % n).cast("int").alias("tidx"),
        (F.col("id") / n).cast("long").alias("day_idx"),
    )
    ticker = F.element_at(F.array(*[F.lit(t) for t in tickers]), F.col("tidx") + 1)
    # business days: day_idx -> calendar date skipping Sat/Sun
    week = (F.col("day_idx") / 5).cast("long")
    dow = F.col("day_idx") % 5
    date = F.date_add(F.lit("2023-01-02").cast("date"), (week * 7 + dow).cast("int"))
    u1 = _uniform(F.col("tidx"), F.col("day_idx"), seed=42)
    u2 = _uniform(F.col("tidx"), F.col("day_idx"), seed=43)
    u3 = _uniform(F.col("tidx"), F.col("day_idx"), seed=44)
    close = F.round(50.0 + (F.col("tidx") + 1) * 20.0 + (u1 - 0.5) * 10.0, 4)
    spread = F.round(u2 * 2.0, 4)
    return base.select(
        ticker.alias("ticker"),
        date.alias("date"),
        F.round(close - spread / 2, 4).alias("open"),
        F.round(close + spread, 4).alias("high"),
        F.round(close - spread, 4).alias("low"),
        close.alias("close"),
        F.round(close * 0.99, 4).alias("adj_close"),
        (u3 * 1_000_000).cast("long").alias("volume"),
        F.col("ingest_seq"),
    )


def altsource_close(
    spark: SparkSession,
    tickers: tuple[str, ...] = TICKERS,
) -> DataFrame:
    """F2: secondary-source closes = primary ± 0.3% noise, with a planted
    discrepancy (> tolerance) every 40th row."""
    prim = market_ohlcv(spark, tickers)
    u = _uniform(F.col("ingest_seq"), seed=52)
    noisy = F.col("close") * (1.0 + (u - 0.5) * 2 * 0.3 / 100.0)
    planted = F.col("close") * 1.02  # 2% off -> always above 0.5% tolerance
    is_planted = (F.col("ingest_seq") % 40) == 0
    return prim.select(
        "ticker",
        "date",
        F.round(F.when(is_planted, planted).otherwise(noisy), 4).alias("close"),
        F.lit("alpha_vantage").alias("source"),
    )


def macro_series(
    spark: SparkSession,
    series: tuple[str, ...] = ("FEDFUNDS", "CPIAUCSL", "UNRATE", "DGS10"),
    n_periods: int = 24,
) -> DataFrame:
    """F3: long-form monthly macro observations."""
    from multi_source_financial_data_pipeline_spark.sources.registry import FRED_SERIES

    n = len(series)
    base = spark.range(n * n_periods).select(
        (F.col("id") % n).cast("int").alias("sidx"),
        (F.col("id") / n).cast("long").alias("pidx"),
    )
    sid = F.element_at(F.array(*[F.lit(s) for s in series]), F.col("sidx") + 1)
    date = F.add_months(F.lit("2023-01-01").cast("date"), F.col("pidx").cast("int"))
    u = _uniform(F.col("sidx"), F.col("pidx"), seed=62)
    value = F.round(1.0 + F.col("sidx") * 2.0 + u * 3.0, 6)
    name_map = F.create_map(
        *[F.lit(x) for kv in FRED_SERIES.items() for x in kv]
    )
    return base.select(
        sid.alias("series_id"),
        date.alias("date"),
        value.alias("value"),
        F.coalesce(name_map[sid], sid).alias("series_name"),
    )
