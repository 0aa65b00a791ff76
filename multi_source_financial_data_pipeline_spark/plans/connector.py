"""Python Data Source connector queries (SURVEY.md §2.1 S1-S3).

The connector (sources/market_source.py) is registered per query and read
through the normal scan path — tickers (and macro series) packed, in
request order and never split, into at most ``defaultParallelism`` input
partitions. Quotes are md5-derived, so the DuckDB oracle rebuilds the
identical feed symbolically (same hash→int mapping, same (int % const) /
100.0 double arithmetic) and the cross-validation query exercises the real
two-source reconcile operator over two genuinely different connector reads.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession, functions as F

from multi_source_financial_data_pipeline_spark.operators import crossval, series_stats
from multi_source_financial_data_pipeline_spark.plans.spec import QuerySpec
from multi_source_financial_data_pipeline_spark.session import local_frame, pin_utc, tune_for_session_cores
from multi_source_financial_data_pipeline_spark.sources import market_source, registry

TICKERS = ["AAPL", "GLD", "MSFT", "TSLA"]
START, END = "2024-01-01", "2024-03-29"
TOLERANCE_PCT = 0.5


def _read(spark: SparkSession, source: str) -> DataFrame:
    pin_utc(spark)
    tune_for_session_cores(spark)
    market_source.register(spark)
    return (
        spark.read.format("market_sim")
        .option("tickers", ",".join(TICKERS))
        .option("start", START)
        .option("end", END)
        .option("source", source)
        .option("numPartitions", spark.sparkContext.defaultParallelism)
        .load()
    )


def _sql_h(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


_SQL_TICKS = ", ".join(f"'{t}'" for t in TICKERS)
_SQL_FEED = f"""
WITH days AS (
  SELECT t.d::DATE AS date
  FROM generate_series(DATE '{START}', DATE '{END}', INTERVAL 1 DAY) t(d)
  WHERE isodow(t.d::DATE) <= 5
), tk AS (SELECT unnest([{_SQL_TICKS}]) AS ticker),
feed AS (
  SELECT ticker, date,
         10.0 + ({_sql_h("ticker || '|' || date::VARCHAR")} % 49000) / 100.0
           AS close0,
         10.0 + ({_sql_h("'o|' || ticker || '|' || date::VARCHAR")} % 49000) / 100.0
           AS open,
         ({_sql_h("'h|' || ticker || '|' || date::VARCHAR")} % 500) / 100.0
           AS hi_spread,
         ({_sql_h("'l|' || ticker || '|' || date::VARCHAR")} % 500) / 100.0
           AS lo_spread,
         (({_sql_h("'a|' || ticker || '|' || date::VARCHAR")} % 200) - 100) / 100.0
           AS alpha_shift,
         1000 + {_sql_h("'v|' || ticker || '|' || date::VARCHAR")} % 10000000
           AS volume
  FROM tk, days
)
"""


# --- primary-feed scan -------------------------------------------------------

def q_connector_ohlcv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, "yahoo")


SQL_CONNECTOR_OHLCV = f"""{_SQL_FEED}
SELECT ticker, date, open,
       greatest(open, close0) + hi_spread AS high,
       least(open, close0) - lo_spread AS low,
       close0 AS close, close0 AS adj_close,
       volume, 'yahoo' AS source
FROM feed
"""


# --- two-source cross-validation over connector reads ------------------------

def q_connector_crossval(spark: SparkSession, sf_dir: str) -> DataFrame:
    yahoo = _read(spark, "yahoo").select(
        "ticker", "date", F.col("close").alias("yahoo_close")
    )
    alpha = _read(spark, "alpha").select(
        "ticker", "date", F.col("close").alias("alpha_close")
    )
    return crossval.compare_sources(
        yahoo, alpha, on=["ticker", "date"], tolerance_pct=TOLERANCE_PCT
    )


SQL_CONNECTOR_CROSSVAL = f"""{_SQL_FEED},
pair AS (
  SELECT ticker, date, close0 AS yahoo_close,
         close0 + alpha_shift AS alpha_close
  FROM feed
), d AS (
  SELECT ticker, date, yahoo_close, alpha_close,
         yahoo_close - alpha_close AS price_diff,
         abs((yahoo_close - alpha_close)
             / nullif(yahoo_close, 0.0) * 100) AS diff_pct
  FROM pair
)
SELECT ticker, date, yahoo_close, alpha_close, price_diff, diff_pct,
       yahoo_close AS resolved_close, 'Yahoo' AS resolved_as
FROM d WHERE diff_pct > {TOLERANCE_PCT}
"""


# --- streaming tick feed over the same connector (§2.9 extension) ------------

_sname = itertools.count()


def q_connector_stream_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The market connector consumed as a STREAM: `readStream` over the
    Python Data Source's SimpleDataSourceStreamReader (day-index offsets,
    deterministic replay via readBetweenOffsets), drained into an append
    memory sink, then aggregated per ticker. Spark's Python micro-batch
    stream lacks AvailableNow support (single-batch fallback), so the full
    window rides one batch here; incremental multi-batch consumption and
    offset-range replay are pinned by
    tests/test_connector.py::test_stream_ticks_incremental_batches."""
    pin_utc(spark)
    tune_for_session_cores(spark)
    market_source.register(spark)
    name = f"connector_ticks_{next(_sname)}"
    stream = (
        spark.readStream.format("market_sim")
        .option("tickers", ",".join(TICKERS))
        .option("start", START)
        .option("end", END)
        .option("source", "yahoo")
        .option("days_per_batch", "1000")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("ticker")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.min("close").alias("min_close"),
            F.max("close").alias("max_close"),
            F.sum(F.col("close").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_close"),
            F.sum("volume").alias("sum_volume"),
        )
    )


SQL_CONNECTOR_STREAM_TICKS = f"""{_SQL_FEED}
SELECT ticker,
       count(*) AS n_days,
       min(close0) AS min_close,
       max(close0) AS max_close,
       CAST(sum(CAST(close0 AS DECIMAL(12,2))) AS DOUBLE) AS sum_close,
       CAST(sum(volume) AS BIGINT) AS sum_volume
FROM feed GROUP BY ticker
"""


# --- VWAP per ticker over the connector feed ---------------------------------

def q_connector_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per ticker over the full window — the
    execution-quality benchmark every trading pipeline reports. One
    map-side-combined groupBy on the per-ticker-partitioned feed (the
    connector's input partitioning already co-locates each group, so at
    cluster scale this is a near-shuffle-free aggregate). Exactness:
    close (2-decimal grid) × volume (int) summed as DECIMAL, one final
    division of two exact doubles."""
    df = _read(spark, "yahoo")
    wsum = F.sum(
        F.col("close").cast("decimal(12,2)") * F.col("volume")
    ).cast("double")
    vsum = F.sum("volume")
    return df.groupBy("ticker").agg(
        F.count(F.lit(1)).alias("n_days"),
        vsum.alias("total_volume"),
        (wsum / vsum.cast("double")).alias("vwap"),
    )


SQL_CONNECTOR_VWAP = f"""{_SQL_FEED}
SELECT ticker,
       count(*) AS n_days,
       CAST(sum(volume) AS BIGINT) AS total_volume,
       CAST(sum(CAST(close0 AS DECIMAL(12,2)) * volume) AS DOUBLE)
         / CAST(sum(volume) AS DOUBLE) AS vwap
FROM feed GROUP BY ticker
"""


# --- K7 export-shape parity as data (§1.3 ret/return quirk) ------------------

def q_export_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's CSV export contract (K7, src/output_manager.py:27-67 +
    SURVEY.md §1.3) pinned as a driver-checkable result: run the REAL
    validate→transform→export projection over the connector feed and emit
    (position, column_name) for every exported column, plus whether the
    duplicated `ret`/`return` pair is value-identical across the whole frame
    (the §1.3 quirk). The oracle is the golden header hardcoded literally —
    a drift in CSV_EXPORT_COLUMNS, a renamed transform output, or a ret !=
    return divergence each breaks the match."""
    from datetime import datetime, timezone

    from pyspark.sql import Window

    from multi_source_financial_data_pipeline_spark import pipeline
    from multi_source_financial_data_pipeline_spark.operators.timeseries import (
        pct_change,
    )
    from multi_source_financial_data_pipeline_spark.sources.sinks import (
        CSV_EXPORT_COLUMNS,
    )

    run_ts = datetime(2024, 4, 1, 12, 0, tzinfo=timezone.utc)
    df = _read(spark, "yahoo")
    w = Window.partitionBy("ticker").orderBy("date")
    with_ret = df.withColumn("ret", pct_change(F.col("close"), w))
    out = pipeline.transform(with_ret, run_ts)
    export = (
        out.withColumn("Ticker", F.col("ticker"))
        .withColumn("request_id", F.lit("req-export-shape"))
        .withColumn("export_timestamp", F.lit(run_ts.isoformat()))
        .select(*CSV_EXPORT_COLUMNS)
    )
    quirk = export.agg(F.min(F.expr("ret <=> `return`")).alias("ok"))
    cols = local_frame(
        spark,
        [(i, c) for i, c in enumerate(export.columns)],
        "position INT, column_name STRING",
    )
    # 16-row metadata frame × 1-row aggregate: scalar broadcast, no shuffle
    return cols.crossJoin(F.broadcast(quirk)).select(
        "position", "column_name", F.col("ok").alias("ret_return_identical")
    )


#: golden header of the reference CSV, hardcoded on purpose (NOT derived
#: from CSV_EXPORT_COLUMNS, so an accidental edit to either side mismatches)
SQL_EXPORT_SHAPE = """
SELECT CAST(c.pos AS INT) AS position, c.col AS column_name,
       TRUE AS ret_return_identical
FROM (VALUES
  (0, 'date'), (1, 'Ticker'), (2, 'open'), (3, 'high'), (4, 'low'),
  (5, 'close'), (6, 'adj_close'), (7, 'volume'), (8, 'ret'), (9, 'return'),
  (10, 'ma20'), (11, 'ma50'), (12, 'vol20'), (13, 'updated_at'),
  (14, 'request_id'), (15, 'export_timestamp')
) c(pos, col)
"""


# --- macro series feed (S4-S6: category fan-out, packed series partitions) --

MACRO_CATEGORIES = ["rates", "inflation"]
MACRO_START, MACRO_END = "2020-01-01", "2023-12-31"


def _read_macro(spark: SparkSession) -> DataFrame:
    pin_utc(spark)
    tune_for_session_cores(spark)
    market_source.register(spark)
    series = registry.resolve_categories(MACRO_CATEGORIES)
    names = ";".join(f"{s}={registry.series_name(s)}" for s in series)
    return (
        spark.read.format("fred_sim")
        .option("series", ",".join(series))
        .option("names", names)
        .option("start", MACRO_START)
        .option("end", MACRO_END)
        .option("numPartitions", spark.sparkContext.defaultParallelism)
        .load()
    )


_MACRO_SERIES = registry.resolve_categories(MACRO_CATEGORIES)
_SQL_MACRO_IDS = ", ".join(f"'{s}'" for s in _MACRO_SERIES)
_SQL_MACRO_NAMES = ", ".join(f"'{registry.series_name(s)}'" for s in _MACRO_SERIES)
_SQL_MACRO_FEED = f"""
WITH sids AS (
  SELECT unnest([{_SQL_MACRO_IDS}]) AS series_id,
         unnest([{_SQL_MACRO_NAMES}]) AS series_name
), months AS (
  SELECT t.d::DATE AS date
  FROM generate_series(DATE '{MACRO_START}', DATE '{MACRO_END}',
                       INTERVAL 1 MONTH) t(d)
), macro AS (
  SELECT series_id, series_name, date,
         ({_sql_h("series_id || '|' || date::VARCHAR")} % 100000) / 100.0
           AS value
  FROM sids, months
)
"""


def q_connector_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_macro(spark)


SQL_CONNECTOR_MACRO = f"""{_SQL_MACRO_FEED}
SELECT series_id, series_name, date, value FROM macro
"""


def q_connector_macro_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return series_stats.per_series_summary(_read_macro(spark))


SQL_CONNECTOR_MACRO_SUMMARY = f"""{_SQL_MACRO_FEED}
SELECT series_id,
       count(*) AS record_count,
       count(*) - count(value) AS null_values,
       min(value) AS min_value,
       max(value) AS max_value,
       min(date) AS first_date,
       max(date) AS last_date
FROM macro GROUP BY series_id
"""


SPECS = {
    "connector_ohlcv": QuerySpec(
        q_connector_ohlcv,
        SQL_CONNECTOR_OHLCV,
        "Python Data Source OHLCV feed, tickers packed into input partitions",
        ("source",),
    ),
    "connector_crossval": QuerySpec(
        q_connector_crossval,
        SQL_CONNECTOR_CROSSVAL,
        "cross-source reconcile over two connector feeds (J1+F1+P3+F2)",
        ("source", "crossval"),
    ),
    "connector_stream_ticks": QuerySpec(
        q_connector_stream_ticks,
        SQL_CONNECTOR_STREAM_TICKS,
        "market connector as a stream: day-offset reader, append drain",
        ("source", "streaming"),
    ),
    "connector_macro": QuerySpec(
        q_connector_macro,
        SQL_CONNECTOR_MACRO,
        "FRED-shaped series feed, category fan-out, series packed into partitions",
        ("source",),
    ),
    "connector_macro_summary": QuerySpec(
        q_connector_macro_summary,
        SQL_CONNECTOR_MACRO_SUMMARY,
        "per-series validation summary (A8) over the macro connector",
        ("source", "agg"),
    ),
    "export_shape": QuerySpec(
        q_export_shape,
        SQL_EXPORT_SHAPE,
        "K7 CSV export header + ret/return quirk pinned as data (§1.3)",
        ("sink", "parity"),
    ),
    "connector_vwap": QuerySpec(
        q_connector_vwap,
        SQL_CONNECTOR_VWAP,
        "volume-weighted average price per ticker (decimal-exact weighted agg)",
        ("source", "agg"),
    ),
}
