"""Financial-pipeline parity queries (SURVEY.md §2) over the driver's
synthetic tables, each with a DuckDB oracle.

Table stand-ins (FIXTURES.md mapping): `events` plays the per-ticker OHLCV
time series (key=user_id, order=ts, metric=value); `orders` vs per-order
lineitem revenue plays the two-source close comparison; `orders` plays the
request ledger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from multi_source_financial_data_pipeline_spark.operators import crossval, grouped, series_stats, validation
from multi_source_financial_data_pipeline_spark.operators.timeseries import (
    gap_fill_daily,
    resample_bars,
    timeseries_features,
    trailing_range_frame,
)
from multi_source_financial_data_pipeline_spark.plans.spec import QuerySpec
from multi_source_financial_data_pipeline_spark.sources import load_table


# --- W1-W4: flagship time-series feature query ------------------------------

def q_ts_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    feat = timeseries_features(
        ev,
        key="user_id",
        order=("ts", "event_id"),
        value="value",
        ma_windows=(20, 50),
        vol_window=20,
    )
    return feat.select(
        "event_id",
        "user_id",
        "value",
        "ret",
        F.round("ma20", 6).alias("ma20"),
        F.round("ma50", 6).alias("ma50"),
        F.round("vol20", 6).alias("vol20"),
    )


SQL_TS_FEATURES = """
WITH base AS (
  SELECT event_id, user_id, ts, value,
         value / nullif(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0) - 1 AS ret
  FROM events
)
SELECT event_id, user_id, value, ret,
       round(CASE WHEN count(value) OVER w20 = 20 THEN avg(value) OVER w20 END, 6) AS ma20,
       round(CASE WHEN count(value) OVER w50 = 50 THEN avg(value) OVER w50 END, 6) AS ma50,
       round(CASE WHEN count(ret)   OVER w20 = 20 THEN stddev_samp(ret) OVER w20 END, 6) AS vol20
FROM base
WINDOW
  w20 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
  w50 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
"""


# --- A1/A3/P5: null + predicate counts --------------------------------------

def q_validation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    total = F.count(F.lit(1))
    return ev.agg(
        total.alias("n_rows"),
        (total - F.count("value")).alias("nulls_value"),
        (total - F.count("props")).alias("nulls_props"),
        validation.count_where(F.col("value") <= 0, "n_nonpositive_value"),
        validation.count_where(F.col("value") > 300, "n_extreme_value"),
    )


SQL_VALIDATION_COUNTS = """
SELECT count(*) AS n_rows,
       count(*) - count(value) AS nulls_value,
       count(*) - count(props) AS nulls_props,
       count(CASE WHEN value <= 0 THEN 1 END) AS n_nonpositive_value,
       count(CASE WHEN value > 300 THEN 1 END) AS n_extreme_value
FROM events
"""


# --- A2: duplicate stats + keep-last dedup ----------------------------------

def q_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    return validation.duplicate_stats(ev, ["user_id", "event_date"])


SQL_DUP_STATS = """
WITH sizes AS (
  SELECT user_id, CAST(ts AS DATE) AS event_date, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS dup_rows,
       count(*) AS dup_groups
FROM sizes WHERE n > 1
"""


def q_dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    out = validation.dedup_keep_last(ev, ["user_id", "event_date"], "event_id")
    return out.select("event_id", "user_id", "event_date", "value")


SQL_DEDUP_KEEP_LAST = """
SELECT event_id, user_id, event_date, value
FROM (
  SELECT event_id, user_id, CAST(ts AS DATE) AS event_date, value,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# --- A4: pooled z-score outliers --------------------------------------------

def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value", 1).over(w)
    ret = ev.withColumn("ret", F.col("value") / F.nullif(prev, F.lit(0.0)) - 1)
    return validation.pooled_zscore_outliers(ret, threshold=3.0)


SQL_ZSCORE_OUTLIERS = """
WITH base AS (
  SELECT value / nullif(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0) - 1 AS ret
  FROM events
)
SELECT count(CASE WHEN abs((ret - (SELECT avg(ret) FROM base))
                           / (SELECT stddev_samp(ret) FROM base)) > 3.0 THEN 1 END) AS n_outliers,
       count(ret) AS n_total
FROM base
"""


# --- A5/F5: missing business days -------------------------------------------

def q_missing_bdays(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("date", F.to_date("ts"))
    return validation.missing_business_days(ev, "user_id")


SQL_MISSING_BDAYS = """
WITH obs AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS obs_date FROM events
), bounds AS (
  SELECT user_id, min(obs_date) AS min_date, max(obs_date) AS max_date
  FROM obs GROUP BY user_id
), cal AS (
  SELECT user_id, CAST(unnest(generate_series(min_date, max_date, INTERVAL 1 DAY)) AS DATE) AS cal_date
  FROM bounds
), bdays AS (
  SELECT user_id, cal_date FROM cal WHERE dayofweek(cal_date) NOT IN (0, 6)
)
SELECT bo.user_id,
       CAST(count(CASE WHEN b.cal_date IS NOT NULL AND o.obs_date IS NULL
                       THEN 1 END) AS BIGINT) AS missing_bdays
FROM bounds bo
LEFT JOIN bdays b ON b.user_id = bo.user_id
LEFT JOIN obs o ON o.user_id = b.user_id AND o.obs_date = b.cal_date
GROUP BY bo.user_id
"""


# --- A8/A9: per-series + global summaries -----------------------------------

def q_series_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("date", F.to_date("ts"))
    return series_stats.per_series_summary(ev, series_col="event_type")


SQL_SERIES_SUMMARY = """
SELECT event_type,
       count(*) AS record_count,
       count(*) - count(value) AS null_values,
       min(value) AS min_value,
       max(value) AS max_value,
       min(CAST(ts AS DATE)) AS first_date,
       max(CAST(ts AS DATE)) AS last_date
FROM events GROUP BY event_type
"""


def q_global_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("date", F.to_date("ts"))
    return series_stats.global_summary(ev, series_col="event_type")


SQL_GLOBAL_SUMMARY = """
SELECT count(*) AS total_records,
       count(DISTINCT event_type) AS unique_series,
       min(CAST(ts AS DATE)) AS first_date,
       max(CAST(ts AS DATE)) AS last_date,
       count(*) - count(value) AS null_values
FROM events
"""


# --- S7/A7: table stats ------------------------------------------------------

def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.min(F.to_date("l_shipdate")).alias("first_ship"),
        F.max(F.to_date("l_shipdate")).alias("last_ship"),
    )


SQL_TABLE_STATS = """
SELECT count(*) AS n_rows,
       count(DISTINCT l_orderkey) AS n_orders,
       min(CAST(l_shipdate AS DATE)) AS first_ship,
       max(CAST(l_shipdate AS DATE)) AS last_ship
FROM lineitem
"""


def q_database_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_database_stats parity (src/database.py:308-329): the reference
    loops five tables counting rows, then adds the market table's distinct
    tickers and date range. Here: one row per table from a union of
    single-row aggregates — each input is scanned once with only the needed
    columns, no shuffle (partial aggregates collapse to one row per table)."""
    specs = [
        ("orders", "o_orderkey", "o_orderdate"),
        ("lineitem", "l_orderkey", "l_shipdate"),
        ("events", "user_id", "ts"),
        ("customer", "c_custkey", None),
        ("supplier", "s_suppkey", None),
    ]
    parts = []
    for name, key, datecol in specs:
        t = load_table(spark, sf_dir, name)
        # dates emitted as ISO strings: a dateless table's NULL range then
        # stays a plain string NULL in both engines (typed NULL DATE columns
        # drift between pandas dtypes across engines)
        first = (
            F.date_format(F.min(F.to_date(datecol)), "yyyy-MM-dd")
            if datecol
            else F.max(F.lit(None).cast("string"))
        )
        last = (
            F.date_format(F.max(F.to_date(datecol)), "yyyy-MM-dd")
            if datecol
            else F.max(F.lit(None).cast("string"))
        )
        parts.append(
            t.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(key).alias("n_distinct_key"),
                first.alias("first_date"),
                last.alias("last_date"),
            ).select(F.lit(name).alias("table_name"), "*")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


SQL_DATABASE_STATS = """
SELECT 'orders' AS table_name, count(*) AS n_rows,
       count(DISTINCT o_orderkey) AS n_distinct_key,
       CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR) AS first_date,
       CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) AS last_date
FROM orders
UNION ALL
SELECT 'lineitem', count(*), count(DISTINCT l_orderkey),
       CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR),
       CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'events', count(*), count(DISTINCT user_id),
       CAST(min(CAST(ts AS DATE)) AS VARCHAR),
       CAST(max(CAST(ts AS DATE)) AS VARCHAR)
FROM events
UNION ALL
SELECT 'customer', count(*), count(DISTINCT c_custkey),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM customer
UNION ALL
SELECT 'supplier', count(*), count(DISTINCT s_suppkey),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM supplier
"""


# --- J1/F1/P3/F2: cross-source comparison -----------------------------------

CROSS_TOLERANCE_PCT = 0.5


def _order_sources(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    primary = orders.select("o_orderkey", F.col("o_totalprice").alias("yahoo_close"))
    secondary = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("alpha_close")
    ).withColumnRenamed("l_orderkey", "o_orderkey")
    return primary, secondary


def q_cross_source_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    primary, secondary = _order_sources(spark, sf_dir)
    out = crossval.compare_sources(
        primary,
        secondary,
        on=["o_orderkey"],
        tolerance_pct=CROSS_TOLERANCE_PCT,
    )
    return out.select(
        "o_orderkey",
        "yahoo_close",
        "alpha_close",
        "price_diff",
        "diff_pct",
        "resolved_close",
        "resolved_as",
    )


SQL_CROSS_SOURCE_COMPARE = f"""
WITH alpha AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS alpha_close
  FROM lineitem GROUP BY l_orderkey
), joined AS (
  SELECT o.o_orderkey, o.o_totalprice AS yahoo_close, a.alpha_close
  FROM orders o JOIN alpha a USING (o_orderkey)
  WHERE o.o_totalprice IS NOT NULL AND a.alpha_close IS NOT NULL
)
SELECT o_orderkey, yahoo_close, alpha_close,
       yahoo_close - alpha_close AS price_diff,
       abs((yahoo_close - alpha_close) / nullif(yahoo_close, 0) * 100) AS diff_pct,
       yahoo_close AS resolved_close,
       'Yahoo' AS resolved_as
FROM joined
WHERE abs((yahoo_close - alpha_close) / nullif(yahoo_close, 0) * 100) > {CROSS_TOLERANCE_PCT}
"""


# --- J2/P7: discrepancy flag merge-back -------------------------------------

def q_discrepancy_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    primary, secondary = _order_sources(spark, sf_dir)
    disc = crossval.compare_sources(
        primary, secondary, on=["o_orderkey"], tolerance_pct=CROSS_TOLERANCE_PCT
    )
    base = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    out = crossval.merge_discrepancy_flags(base, disc, on=["o_orderkey"])
    return out.select("o_orderkey", "o_totalprice", "discrepancy_flag")


SQL_DISCREPANCY_FLAGS = f"""
WITH alpha AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS alpha_close
  FROM lineitem GROUP BY l_orderkey
), disc AS (
  SELECT o.o_orderkey
  FROM orders o JOIN alpha a USING (o_orderkey)
  WHERE o.o_totalprice IS NOT NULL AND a.alpha_close IS NOT NULL
    AND abs((o.o_totalprice - a.alpha_close) / nullif(o.o_totalprice, 0) * 100) > {CROSS_TOLERANCE_PCT}
)
SELECT o.o_orderkey, o.o_totalprice,
       (d.o_orderkey IS NOT NULL) AS discrepancy_flag
FROM orders o LEFT JOIN disc d ON o.o_orderkey = d.o_orderkey
"""


# --- K2/J3: first-request-wins anti-join ------------------------------------

def q_first_request_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    incoming = ev.filter(F.col("event_id") % 2 == 1)
    existing = ev.filter(F.col("event_id") % 2 == 0)
    kept = crossval.first_request_wins(incoming, existing, ["user_id", "event_date"])
    return kept.select("event_id", "user_id", "event_date", "value")


SQL_FIRST_REQUEST_WINS = """
WITH incoming AS (
  SELECT event_id, user_id, CAST(ts AS DATE) AS event_date, value
  FROM events WHERE event_id % 2 = 1
), existing AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS event_date
  FROM events WHERE event_id % 2 = 0
)
SELECT i.event_id, i.user_id, i.event_date, i.value
FROM incoming i
WHERE NOT EXISTS (
  SELECT 1 FROM existing e
  WHERE e.user_id = i.user_id AND e.event_date = i.event_date
)
"""


# --- K6: ledger latest-status view ------------------------------------------

def q_ledger_latest_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.to_date("o_orderdate")
    )
    latest = series_stats.latest_per_key(orders)
    return latest.select(
        "o_custkey",
        F.col("o_orderkey").alias("latest_orderkey"),
        F.col("o_orderstatus").alias("latest_status"),
        F.col("o_orderdate").alias("latest_date"),
    )


SQL_LEDGER_LATEST_STATUS = """
SELECT o_custkey,
       o_orderkey AS latest_orderkey,
       o_orderstatus AS latest_status,
       CAST(o_orderdate AS DATE) AS latest_date
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY o_custkey
    ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
"""


# --- report-module analytics: correlation matrix + vol outliers --------------
# (the data half of the reference's deleted report module,
# /root/reference/src/__init__.py:31-32 — correlation heatmap and outlier
# detection; only src/__pycache__/report.cpython-311.pyc remains)

def q_return_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series-pair Pearson correlation of daily returns. The daily price
    is the decimal-exact mean of the day's values (sum DECIMAL / count, cast
    to double — bit-identical across engines); returns via pct_change; the
    T×T pair space comes from a date-key self-join (T = series basket size,
    not a scale axis)."""
    from multi_source_financial_data_pipeline_spark.operators.timeseries import pct_change

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("date")).agg(
        (
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
            / F.nullif(F.count("value").cast("double"), F.lit(0.0))
        ).alias("px")
    )
    w = Window.partitionBy("event_type").orderBy("date")
    r = daily.withColumn("ret", pct_change(F.col("px"), w))
    return series_stats.return_correlation_matrix(r)


SQL_RETURN_CORRELATION = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS date,
         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
           / nullif(CAST(count(value) AS DOUBLE), 0.0) AS px
  FROM events GROUP BY 1, 2
), r AS (
  SELECT event_type, date,
         px / nullif(lag(px) OVER (PARTITION BY event_type ORDER BY date), 0) - 1 AS ret
  FROM daily
)
SELECT a.event_type AS series_a, b.event_type AS series_b,
       round(corr(a.ret, b.ret), 6) AS corr_ret,
       count(CASE WHEN a.ret IS NOT NULL AND b.ret IS NOT NULL THEN 1 END) AS n_days
FROM r a JOIN r b ON a.date = b.date AND a.event_type < b.event_type
GROUP BY 1, 2
"""


def q_vol_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-volatility outlier rows: |ret − rolling-mean(ret)| beyond 3
    rolling sample stds (20-row frame, pandas min_periods semantics), the
    membership decision taken on 6-decimal-rounded statistics on both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    out = series_stats.rolling_vol_outliers(ev)
    return out.select("event_id", "user_id", "ret", "ma_ret", "vol")


SQL_VOL_OUTLIERS = """
WITH base AS (
  SELECT event_id, user_id, ts, value,
         value / nullif(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0) - 1 AS ret
  FROM events
), feat AS (
  SELECT event_id, user_id, ret,
         round(CASE WHEN count(ret) OVER w20 = 20 THEN avg(ret) OVER w20 END, 6) AS ma_ret,
         round(CASE WHEN count(ret) OVER w20 = 20 THEN stddev_samp(ret) OVER w20 END, 6) AS vol
  FROM base
  WINDOW w20 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ret, ma_ret, vol
FROM feat WHERE abs(ret - ma_ret) > 3.0 * vol
"""


# --- F9: quality scoring -----------------------------------------------------

def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score arithmetic (src/output_manager.py:149-190) with the
    reference's dead-branch wiring fixed (SURVEY.md §4): inputs are this
    engine's own validation aggregates."""
    ev = load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    # null / nonpositive / duplicate counts all derive from ONE per-(user,
    # day) pre-aggregate — one scan + one map-side-combined shuffle, where
    # the three-separate-aggregates formulation reads events three times
    sizes = ev.groupBy("user_id", "event_date").agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count("value")).alias("nn"),
        validation.count_where(F.col("value") <= 0, "np"),
    )
    stats = sizes.agg(
        F.sum("nn").alias("total_nulls"),
        F.coalesce(
            F.sum(F.when(F.col("n") > 1, F.col("n"))), F.lit(0)
        ).cast("long").alias("dup_rows"),
        F.sum("np").alias("n_nonpositive"),
    )
    primary, secondary = _order_sources(spark, sf_dir)
    joined = primary.join(secondary, ["o_orderkey"], "inner").na.drop(
        subset=["yahoo_close", "alpha_close"]
    )
    # nullif divisor: ANSI-safe (Spark 4 errors on /0) and mirrors the
    # oracle's nullif(o_totalprice, 0) exactly
    diff_pct = F.abs(
        (F.col("yahoo_close") - F.col("alpha_close"))
        / F.nullif(F.col("yahoo_close"), F.lit(0.0))
        * 100
    )
    comp = joined.agg(
        F.count(F.lit(1)).alias("comparisons"),
        validation.count_where(diff_pct > CROSS_TOLERANCE_PCT, "discrepancies"),
    )
    row = stats.join(comp)
    issues = F.col("dup_rows") + F.col("n_nonpositive")
    basic = F.greatest(
        F.lit(0.0), F.lit(100.0) - (issues + F.col("total_nulls") / 10.0) * 5.0
    )
    reliability = F.greatest(
        F.lit(0.0),
        F.lit(100.0)
        - F.col("discrepancies")
        / F.nullif(F.col("comparisons").cast("double"), F.lit(0.0))
        * 100.0,
    )
    return row.select(
        basic.alias("basic_quality_score"),
        reliability.alias("reliability_score"),
        (basic * 0.7 + reliability * 0.3).alias("overall_score"),
    )


SQL_QUALITY_SCORE = f"""
WITH nulls AS (
  SELECT count(*) - count(value) AS total_nulls FROM events
), sizes AS (
  SELECT user_id, CAST(ts AS DATE) AS event_date, count(*) AS n
  FROM events GROUP BY 1, 2
), dups AS (
  SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS dup_rows FROM sizes WHERE n > 1
), nonpos AS (
  SELECT count(CASE WHEN value <= 0 THEN 1 END) AS n_nonpositive FROM events
), alpha AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS alpha_close
  FROM lineitem GROUP BY l_orderkey
), comp AS (
  SELECT count(*) AS comparisons,
         count(CASE WHEN abs((o.o_totalprice - a.alpha_close) / nullif(o.o_totalprice, 0) * 100)
                         > {CROSS_TOLERANCE_PCT} THEN 1 END) AS discrepancies
  FROM orders o JOIN alpha a USING (o_orderkey)
  WHERE o.o_totalprice IS NOT NULL AND a.alpha_close IS NOT NULL
), scores AS (
  SELECT greatest(0.0, 100.0 - ((dup_rows + n_nonpositive) + total_nulls / 10.0) * 5.0) AS basic_quality_score,
         greatest(0.0, 100.0 - discrepancies / nullif(comparisons, 0) * 100.0) AS reliability_score
  FROM nulls, dups, nonpos, comp
)
SELECT basic_quality_score, reliability_score,
       basic_quality_score * 0.7 + reliability_score * 0.3 AS overall_score
FROM scores
"""


# --- exact grouped percentiles ----------------------------------------------

def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (Spark `percentile` ≡
    DuckDB `quantile_cont`: same (n−1)·q rank + linear interpolation, one
    IEEE op sequence → bit-identical). Exact percentiles need the group's
    values together — one shuffle on the 5-value key with partial
    collection; for 100 TB-scale groups the sketch path
    (`percentile_approx`, accuracy-bounded in tests/test_scale_ops.py) is
    the substitute, one pass and mergeable."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile(value, array(0.25, 0.5, 0.9))").alias("__p"),
        )
        .select(
            "event_type",
            "n",
            F.col("__p")[0].alias("p25"),
            F.col("__p")[1].alias("p50"),
            F.col("__p")[2].alias("p90"),
        )
    )


SQL_VALUE_PERCENTILES = """
SELECT event_type, count(*) AS n,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90
FROM events GROUP BY event_type
"""


# --- event-time trailing sum: RANGE frame over epoch micros -----------------

_7D_US = 7 * 86_400 * 1_000_000


def q_trailing_7d_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing 7-day sum/count of `value` at every event, as a
    RANGE window frame over event time — irregular sampling handled by the
    frame bounds themselves (no calendar spine, no self-join, no re-scan).

    One hash exchange on user_id + one sort; the frame is a sliding-pointer
    pass, O(rows), any scale. Sums go through DECIMAL so the result is
    identical regardless of either engine's within-frame accumulation order
    (DuckDB windows aggregate via segment trees — float order differs).
    """
    ev = load_table(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros(F.col("ts")))
    w = trailing_range_frame(_7D_US)
    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        "value",
        F.sum(F.col("value").cast("decimal(12,2)")).over(w).cast("double").alias("sum_7d"),
        F.count("value").over(w).alias("n_7d"),
    )


SQL_TRAILING_7D_SUM = f"""
SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
       CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_7d,
       count(value) OVER w AS n_7d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {_7D_US} PRECEDING AND CURRENT ROW)
"""


# --- daily regularization: keep-last per day + calendar spine + ffill --------

def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas ``resample('D').last().ffill()`` per key: last observation per
    (user, day), full daily spine over each user's [first, last] observed
    day, unobserved days forward-filled. Spine rows are generated per key
    from 2-row bounds (sequence + explode) — never collected, never a
    calendar-table join; fill is one unbounded-preceding window pass."""
    ev = load_table(spark, sf_dir, "events").withColumn("date", F.to_date("ts"))
    return gap_fill_daily(ev)


SQL_GAP_FILL = """
WITH daily AS (
  SELECT user_id, event_date AS obs_date, value FROM (
    SELECT user_id, CAST(ts AS DATE) AS event_date, value,
           row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
), bounds AS (
  SELECT user_id, min(obs_date) AS min_date, max(obs_date) AS max_date
  FROM daily GROUP BY user_id
), cal AS (
  SELECT user_id,
         CAST(unnest(generate_series(min_date, max_date, INTERVAL 1 DAY)) AS DATE) AS cal_date
  FROM bounds
)
SELECT c.user_id, c.cal_date,
       last_value(d.value IGNORE NULLS)
         OVER (PARTITION BY c.user_id ORDER BY c.cal_date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
       CAST(d.obs_date IS NOT NULL AS INT) AS is_observed
FROM cal c
LEFT JOIN daily d ON d.user_id = c.user_id AND d.obs_date = c.cal_date
"""


def q_gap_fill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas ``interpolate(method='time')`` per key: unobserved days take
    the time-weighted line between their surrounding observations (see
    operators/timeseries.gap_fill_interp for the two-direction window
    shape — both fills ride ONE key-ordered exchange)."""
    ev = load_table(spark, sf_dir, "events").withColumn("date", F.to_date("ts"))
    from multi_source_financial_data_pipeline_spark.operators.timeseries import gap_fill_interp

    return gap_fill_interp(ev)


SQL_GAP_FILL_INTERP = """
WITH daily AS (
  SELECT user_id, event_date AS obs_date, value FROM (
    SELECT user_id, CAST(ts AS DATE) AS event_date, value,
           row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
), bounds AS (
  SELECT user_id, min(obs_date) AS min_date, max(obs_date) AS max_date
  FROM daily GROUP BY user_id
), cal AS (
  SELECT user_id,
         CAST(unnest(generate_series(min_date, max_date, INTERVAL 1 DAY)) AS DATE) AS cal_date
  FROM bounds
), j AS (
  SELECT c.user_id, c.cal_date, d.obs_date, d.value AS v
  FROM cal c
  LEFT JOIN daily d ON d.user_id = c.user_id AND d.obs_date = c.cal_date
), w AS (
  SELECT user_id, cal_date, obs_date, v,
         last_value(v IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY cal_date
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(obs_date IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY cal_date
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         first_value(v IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY cal_date
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(obs_date IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY cal_date
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM j
)
SELECT user_id, cal_date,
       CASE WHEN obs_date IS NOT NULL THEN v
            ELSE round(pv + (nv - pv)
                       * (CAST(date_diff('day', pd, cal_date) AS DOUBLE)
                          / nullif(CAST(date_diff('day', pd, nd) AS DOUBLE),
                                   0.0)), 6)
       END AS value_interp,
       CAST(obs_date IS NOT NULL AS INT) AS is_observed
FROM w
"""


# --- weekly OHLC bars: pandas resample('W').ohlc() as one grouped pass ------

def q_weekly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample each user's irregular value series to weekly OHLC bars
    (pandas ``resample('W-MON').ohlc()`` / the hypertable continuous-
    aggregate shape). One window pass tags each (user, week)'s first and
    last observation (ties broken on event_id, the explicit ingest order),
    then a groupBy on the SAME keys folds open/high/low/close/volume in one
    aggregate — Catalyst reuses the window's hash partitioning, so the
    whole query is one exchange. Monday week-start in both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        # project the bar key FIRST so the window partitioning and the
        # final groupBy share the exact same attribute — otherwise the
        # date cast makes the expressions incomparable and Catalyst adds a
        # second exchange for the aggregate
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        "ts",
        "event_id",
        "value",
    )
    w_asc = Window.partitionBy("user_id", "week").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    w_desc = Window.partitionBy("user_id", "week").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    tagged = ev.select(
        "user_id",
        "week",
        "value",
        F.row_number().over(w_asc).alias("__rn_a"),
        F.row_number().over(w_desc).alias("__rn_d"),
    )
    return tagged.groupBy("user_id", "week").agg(
        F.max(F.when(F.col("__rn_a") == 1, F.col("value"))).alias("open_value"),
        F.max("value").alias("high_value"),
        F.min("value").alias("low_value"),
        F.max(F.when(F.col("__rn_d") == 1, F.col("value"))).alias("close_value"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    )


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user maximum drawdown: the worst peak-to-trough ratio of the
    value series in event order — THE portfolio risk summary. Running peak
    is an unbounded-preceding max window; drawdown = value/peak − 1; the
    groupBy min reuses the window's user partitioning (one exchange, same
    pattern as weekly_bars). Bit-exact with no rounding: the ratio's
    operands are raw input doubles, min/max are comparisons."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = ev.select(
        "user_id",
        "value",
        (F.col("value") / F.nullif(F.max("value").over(w), F.lit(0.0)) - 1).alias(
            "drawdown"
        ),
    )
    return dd.groupBy("user_id").agg(
        F.min("drawdown").alias("max_drawdown"),
        F.max("value").alias("peak_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier profile: median + MAD (median absolute
    deviation) + count of |x − median| > 3·MAD — the outlier rule that,
    unlike the pooled z-score (A4), is itself immune to the outliers it
    hunts. Medians are computed by rank positions (avg of the middle one or
    two values as sum/count — IEEE addition is commutative, so the result
    is engine-independent without rounding; NO quantile_cont interpolation,
    whose a+(b−a)·q formula differs in the last ulp). Two ranked window
    passes + two small per-user joins (AQE-decided), no collects."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")

    def _median(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(F.col(col).asc(), F.col("event_id").asc())
        ranked = df.select(
            "user_id",
            F.col(col),
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("__cnt"),
        )
        mid = ranked.filter(
            (F.col("__rn") == F.expr("(__cnt + 1) div 2"))
            | (F.col("__rn") == F.expr("(__cnt + 2) div 2"))
        )
        return mid.groupBy("user_id").agg(
            (F.sum(col) / F.count(F.lit(1))).alias(out)
        )

    med = _median(ev, "value", "median_value")
    dev = ev.join(med, "user_id").select(
        "user_id",
        "event_id",
        "median_value",
        F.abs(F.col("value") - F.col("median_value")).alias("dev"),
    )
    mad = _median(dev.withColumnRenamed("dev", "value"), "value", "mad")
    flagged = dev.join(mad, "user_id")
    return flagged.groupBy("user_id", "median_value", "mad").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("dev") > 3.0 * F.col("mad")).cast("long")).alias("n_outliers"),
    )


SQL_MAD_OUTLIERS = """
WITH r1 AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value ASC, event_id ASC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS cnt
  FROM events
), med AS (
  SELECT user_id, sum(value) / count(*) AS median_value
  FROM r1 WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY user_id
), dev AS (
  SELECT e.user_id, e.event_id, m.median_value,
         abs(e.value - m.median_value) AS dev
  FROM events e JOIN med m USING (user_id)
), r2 AS (
  SELECT user_id, median_value, dev,
         row_number() OVER (PARTITION BY user_id ORDER BY dev ASC, event_id ASC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS cnt
  FROM dev
), mad AS (
  SELECT user_id, sum(dev) / count(*) AS mad
  FROM r2 WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY user_id
)
SELECT d.user_id, d.median_value, a.mad,
       count(*) AS n_events,
       CAST(sum(CASE WHEN d.dev > 3.0 * a.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad a USING (user_id)
GROUP BY d.user_id, d.median_value, a.mad
"""


SQL_MAX_DRAWDOWN = """
WITH dd AS (
  SELECT user_id, value,
         value / nullif(max(value) OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC
                        ROWS UNBOUNDED PRECEDING), 0.0) - 1 AS drawdown
  FROM events
)
SELECT user_id, min(drawdown) AS max_drawdown,
       max(value) AS peak_value, count(*) AS n_events
FROM dd GROUP BY user_id
"""


SQL_WEEKLY_BARS = """
WITH w AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week, value,
         row_number() OVER (PARTITION BY user_id, date_trunc('week', ts)
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         row_number() OVER (PARTITION BY user_id, date_trunc('week', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT user_id, week,
       max(CASE WHEN rn_a = 1 THEN value END) AS open_value,
       max(value) AS high_value,
       min(value) AS low_value,
       max(CASE WHEN rn_d = 1 THEN value END) AS close_value,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM w GROUP BY user_id, week
"""


# --- arbitrary-width bars: the generic resample_bars operator ---------------

BAR_4H_SECONDS = 14_400


def q_bars_4h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-hour OHLC bars per user via the GENERIC `operators/timeseries.
    resample_bars` — the integer-seconds interval flavor (weekly_bars
    exercises the calendar flavor) and the documented pre-step that
    unblocks the grouped-map fold family above its per-key history bound
    (`grouped.GROUPED_FOLD_MAX_ROWS`): both the tagging window and the
    aggregate partition by (user, bar), so a hot key spreads across its
    bars. Bar identity crosses engines as epoch SECONDS (bar starts are
    whole multiples of 14400) — no timestamp/timezone surface."""
    bars = resample_bars(
        load_table(spark, sf_dir, "events"),
        BAR_4H_SECONDS,
    )
    return bars.select(
        "user_id",
        F.col("bar_ts").cast("long").alias("bar_epoch"),
        "open_value",
        "high_value",
        "low_value",
        "close_value",
        "n_events",
        "sum_value",
    )


SQL_BARS_4H = f"""
WITH w AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / {BAR_4H_SECONDS}) AS BIGINT)
           * {BAR_4H_SECONDS} AS bar_epoch,
         value,
         row_number() OVER (
           PARTITION BY user_id, floor(epoch(ts) / {BAR_4H_SECONDS})
           ORDER BY ts ASC, event_id ASC) AS rn_a,
         row_number() OVER (
           PARTITION BY user_id, floor(epoch(ts) / {BAR_4H_SECONDS})
           ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT user_id, bar_epoch,
       max(CASE WHEN rn_a = 1 THEN value END) AS open_value,
       max(value) AS high_value,
       min(value) AS low_value,
       max(CASE WHEN rn_d = 1 THEN value END) AS close_value,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM w GROUP BY user_id, bar_epoch
"""


# --- Bollinger bands (W2/W4 extension: band + breakout classification) ------

BOLL_N = 20
BOLL_K = 2.0


def q_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over each user's value series: 20-row moving mean ±
    2σ with a breakout classification — the natural next step after W2/W4's
    ma20/vol20. One window partitioning feeds all three frames (same single-
    exchange shape as ts_features); bands are null until a full window
    (min_periods), classification compares against the ROUNDED bands so
    both engines branch on bit-identical values."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-(BOLL_N - 1), 0)
    )
    full = F.count("value").over(w) == BOLL_N
    mid = F.when(full, F.avg("value").over(w))
    sd = F.when(full, F.stddev_samp("value").over(w))
    upper = F.round(mid + BOLL_K * sd, 6)
    lower = F.round(mid - BOLL_K * sd, 6)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.round(mid, 6).alias("mid"),
        upper.alias("upper"),
        lower.alias("lower"),
        F.when(upper.isNull(), F.lit("warmup"))
        .when(F.col("value") > upper, F.lit("above"))
        .when(F.col("value") < lower, F.lit("below"))
        .otherwise(F.lit("inside"))
        .alias("band_position"),
    )


SQL_BOLLINGER_BANDS = f"""
WITH b AS (
  SELECT event_id, user_id, value,
         CASE WHEN count(value) OVER w = {BOLL_N}
              THEN avg(value) OVER w END AS mid_raw,
         CASE WHEN count(value) OVER w = {BOLL_N}
              THEN stddev_samp(value) OVER w END AS sd_raw
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN {BOLL_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, value,
       round(mid_raw, 6) AS mid,
       round(mid_raw + {BOLL_K} * sd_raw, 6) AS upper,
       round(mid_raw - {BOLL_K} * sd_raw, 6) AS lower,
       CASE WHEN mid_raw IS NULL THEN 'warmup'
            WHEN value > round(mid_raw + {BOLL_K} * sd_raw, 6) THEN 'above'
            WHEN value < round(mid_raw - {BOLL_K} * sd_raw, 6) THEN 'below'
            ELSE 'inside' END AS band_position
FROM b
"""


# --- RSI (simple-average Cutler's variant, window-expressible) ---------------

RSI_N = 14


def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutler's RSI (simple moving averages of gains/losses — the window-
    expressible variant; Wilder's EWMA recursion is the `ewma_last` operator
    family): rsi = 100·avg_gain/(avg_gain+avg_loss) over the last 14 diffs,
    null until 14 diffs exist, 100 when losses are zero, null when the
    series is flat (0/0). Two stacked windows on ONE user partitioning
    (lag, then the rolling sums) — single exchange."""
    ev = load_table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    diff = F.col("value") - F.lag("value").over(w_ord)
    # first row per user: diff is null and must STAY null (Spark's greatest
    # skips nulls, DuckDB's propagates them — an unguarded greatest would
    # silently shift the 14-diff warmup boundary between engines)
    base = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(diff.isNotNull(), F.greatest(diff, F.lit(0.0))).alias("gain"),
        F.when(diff.isNotNull(), F.greatest(-diff, F.lit(0.0))).alias("loss"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-(RSI_N - 1), 0)
    )
    full = F.count("gain").over(w) == RSI_N
    sum_gain = F.when(full, F.sum("gain").over(w))
    sum_loss = F.when(full, F.sum("loss").over(w))
    rsi = F.round(
        F.lit(100.0) * sum_gain / F.nullif(sum_gain + sum_loss, F.lit(0.0)), 6
    )
    return base.select("event_id", "user_id", "value", rsi.alias("rsi"))


SQL_RSI = f"""
WITH d0 AS (
  SELECT event_id, user_id, ts, value,
         value - lag(value) OVER (PARTITION BY user_id
                  ORDER BY ts ASC, event_id ASC) AS diff
  FROM events
), d AS (
  SELECT event_id, user_id, ts, value,
         CASE WHEN diff IS NOT NULL THEN greatest(diff, 0.0) END AS gain,
         CASE WHEN diff IS NOT NULL THEN greatest(-diff, 0.0) END AS loss
  FROM d0
)
SELECT event_id, user_id, value,
       round(100.0 * (CASE WHEN count(gain) OVER w = {RSI_N}
                           THEN sum(gain) OVER w END)
             / nullif((CASE WHEN count(gain) OVER w = {RSI_N}
                            THEN sum(gain) OVER w END)
                      + (CASE WHEN count(loss) OVER w = {RSI_N}
                              THEN sum(loss) OVER w END), 0.0), 6) AS rsi
FROM d
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN {RSI_N - 1} PRECEDING AND CURRENT ROW)
"""


# --- daily OHLC bars → ATR / OBV; raw series → stochastic; beta vs index ----
#
# The round-7 indicator family. All four run on the `events` stand-in series
# (key=user_id, order=ts, metric=value; FIXTURES.md mapping) and share ONE
# scale discipline: an explicit `repartition(user_id)` FIRST, so the
# (user_id, day) bar tagging window, the bar groupBy, and every downstream
# per-user window all reuse a single user-hash exchange (HashPartitioning on
# a subset of the required clustering keys satisfies ClusteredDistribution)
# — at 100 TB the series recluster happens exactly once per query.

ATR_N = 14
STOCH_N = 14
STOCH_D = 3
BETA_N = 30


def _daily_bars(ev: DataFrame) -> DataFrame:
    """Per-(user, day) OHLC bars, daily granularity of weekly_bars' shape:
    one window pass tags the last observation (ties on event_id, the
    explicit ingest order), one reused-partitioning groupBy folds
    high/low/close/volume. Caller gets a frame already hash-partitioned by
    user_id — downstream per-user windows add no exchange."""
    ev = ev.repartition("user_id").select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        "value",
    )
    w_desc = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    tagged = ev.select(
        "user_id", "day", "value", F.row_number().over(w_desc).alias("__rn_d")
    )
    return tagged.groupBy("user_id", "day").agg(
        F.max("value").alias("high_value"),
        F.min("value").alias("low_value"),
        F.max(F.when(F.col("__rn_d") == 1, F.col("value"))).alias("close_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


#: shared oracle CTE: daily bars exactly as _daily_bars folds them
_SQL_DAILY_BARS = """
WITH t AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
), bars AS (
  SELECT user_id, day,
         max(value) AS high_value,
         min(value) AS low_value,
         max(CASE WHEN rn_d = 1 THEN value END) AS close_value,
         count(*) AS n_events
  FROM t GROUP BY user_id, day
)
"""


def q_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATR-14 (simple-average variant, window-expressible like Cutler's
    RSI): daily bars → true range = max(H−L, |H−prev C|, |L−prev C|) (first
    bar: H−L, the pandas-ta seed) → 14-bar SMA, null until 14 bars exist.
    Plan: one user-hash exchange feeds bar tagging, the bar groupBy, the
    lag window, and the rolling window (stacked same-partitioning windows).
    TR operands are raw doubles (comparisons + identical IEEE ops → exact);
    the 14-bar mean rounds at 6 (window-frame summation-order convention)."""
    bars = _daily_bars(load_table(spark, sf_dir, "events"))
    w_ord = Window.partitionBy("user_id").orderBy(F.col("day").asc())
    prev_close = F.lag("close_value").over(w_ord)
    h, low = F.col("high_value"), F.col("low_value")
    tr = F.when(prev_close.isNull(), h - low).otherwise(
        F.greatest(h - low, F.abs(h - prev_close), F.abs(low - prev_close))
    )
    with_tr = bars.select("user_id", "day", tr.alias("tr"))
    w_n = Window.partitionBy("user_id").orderBy(F.col("day").asc()).rowsBetween(
        -(ATR_N - 1), 0
    )
    atr = F.when(F.count("tr").over(w_n) == ATR_N, F.avg("tr").over(w_n))
    return with_tr.select(
        "user_id",
        "day",
        F.round(F.col("tr"), 6).alias("true_range"),
        F.round(atr, 6).alias("atr"),
    )


SQL_ATR = f"""{_SQL_DAILY_BARS},
d AS (
  SELECT user_id, day, high_value, low_value,
         lag(close_value) OVER (PARTITION BY user_id ORDER BY day ASC)
           AS prev_close
  FROM bars
), tr AS (
  SELECT user_id, day,
         CASE WHEN prev_close IS NULL THEN high_value - low_value
              ELSE greatest(high_value - low_value,
                            abs(high_value - prev_close),
                            abs(low_value - prev_close)) END AS tr
  FROM d
)
SELECT user_id, day, round(tr, 6) AS true_range,
       round(CASE WHEN count(tr) OVER w = {ATR_N}
                  THEN avg(tr) OVER w END, 6) AS atr
FROM tr
WINDOW w AS (PARTITION BY user_id ORDER BY day ASC
             ROWS BETWEEN {ATR_N - 1} PRECEDING AND CURRENT ROW)
"""


# --- Wilder-smoothed RSI/ATR (the industry-standard recursions) --------------
#
# Wilder smoothing is acc ← (acc·(n−1) + x)/n after a mean-of-first-n seed —
# an EWMA recursion (α = 1/n) no window frame can express; same grouped-map
# family as macd_last/cusum_last (operators/grouped.py), prefix-list_reduce
# oracles. Reference scope note: the reference computes no indicators at all
# (SURVEY.md §2.7 extension family); these pair with the window-expressible
# rsi_14 (Cutler) / atr_14 (SMA) variants already registered.

_W_HI = repr(float(RSI_N - 1))  # 13.0 — shared literal, both engines
_W_LO = repr(float(RSI_N))  # 14.0


def q_rsi_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = grouped.rsi_wilder_last(
        load_table(spark, sf_dir, "events"),
        ts_col="ts",
        tiebreak="event_id",
        value_col="value",
        n=RSI_N,
    )
    return out.select(
        F.col("key").alias("user_id"), "n_rows", "avg_gain", "avg_loss", "rsi"
    )


#: seedless list_reduce starts from the raw first element (0.0 + x₀ is
#: bitwise x₀, matching the python fold's 0.0 seed); the recursion replays
#: via a mean-seed list_prepend — empty tail (exactly n diffs) reduces to
#: the seed itself, the python no-iteration case
SQL_RSI_WILDER = f"""
WITH g AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vs
  FROM events GROUP BY user_id
), d AS (
  SELECT user_id, CAST(len(vs) AS BIGINT) AS n_rows,
         list_transform(generate_series(2, len(vs)), t -> vs[t] - vs[t-1])
           AS diffs
  FROM g
), gl AS (
  SELECT user_id, n_rows,
         list_transform(diffs, x -> greatest(x, 0.0)) AS gains,
         list_transform(diffs, x -> greatest(0.0 - x, 0.0)) AS losses
  FROM d
), w AS (
  SELECT user_id, n_rows,
         CASE WHEN len(gains) >= {RSI_N} THEN
           list_reduce(
             list_prepend(
               list_reduce(list_slice(gains, 1, {RSI_N}), (a, x) -> a + x)
                 / {_W_LO},
               list_slice(gains, {RSI_N} + 1, len(gains))),
             (acc, x) -> (acc * {_W_HI} + x) / {_W_LO})
         END AS avg_gain,
         CASE WHEN len(losses) >= {RSI_N} THEN
           list_reduce(
             list_prepend(
               list_reduce(list_slice(losses, 1, {RSI_N}), (a, x) -> a + x)
                 / {_W_LO},
               list_slice(losses, {RSI_N} + 1, len(losses))),
             (acc, x) -> (acc * {_W_HI} + x) / {_W_LO})
         END AS avg_loss
  FROM gl
)
SELECT user_id, n_rows, avg_gain, avg_loss,
       CASE WHEN avg_gain + avg_loss = 0.0 THEN NULL
            ELSE 100.0 * avg_gain / (avg_gain + avg_loss) END AS rsi
FROM w
"""


def q_rsi_bars_4h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder RSI computed ON 4-hour bars — the documented fold-family
    ESCAPE HATCH as one registered pipeline (`grouped._check_group_rows`'s
    error message prescribes exactly this composition): `resample_bars`
    bounds the per-key series to #bars rows with a skew-immune
    (user, bar) partitioning, then the grouped-map fold runs on the bar
    closes. A key with 10^9 raw ticks that the direct fold refuses
    (GROUPED_FOLD_MAX_ROWS) folds here over ~#bars rows. Bit-exact across
    engines: close_value is a raw input double (the bar's last
    observation), and the oracle replays the identical mean-seeded
    EWMA fold over the same bar-ordered list."""
    bars = resample_bars(
        load_table(spark, sf_dir, "events"),
        BAR_4H_SECONDS,
    )
    out = grouped.rsi_wilder_last(
        bars,
        ts_col="bar_ts",
        tiebreak=None,  # bar_ts is unique per (key, bar) by construction
        value_col="close_value",
        n=RSI_N,
    )
    return out.select(
        F.col("key").alias("user_id"), "n_rows", "avg_gain", "avg_loss", "rsi"
    )


SQL_RSI_BARS_4H = f"""
WITH w AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / {BAR_4H_SECONDS}) AS BIGINT)
           * {BAR_4H_SECONDS} AS bar_epoch,
         value,
         row_number() OVER (
           PARTITION BY user_id, floor(epoch(ts) / {BAR_4H_SECONDS})
           ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
), bars AS (
  SELECT user_id, bar_epoch,
         max(CASE WHEN rn_d = 1 THEN value END) AS close_value
  FROM w GROUP BY user_id, bar_epoch
), g AS (
  SELECT user_id, list(close_value ORDER BY bar_epoch) AS vs
  FROM bars GROUP BY user_id
), d AS (
  SELECT user_id, CAST(len(vs) AS BIGINT) AS n_rows,
         list_transform(generate_series(2, len(vs)), t -> vs[t] - vs[t-1])
           AS diffs
  FROM g
), gl AS (
  SELECT user_id, n_rows,
         list_transform(diffs, x -> greatest(x, 0.0)) AS gains,
         list_transform(diffs, x -> greatest(0.0 - x, 0.0)) AS losses
  FROM d
), wd AS (
  SELECT user_id, n_rows,
         CASE WHEN len(gains) >= {RSI_N} THEN
           list_reduce(
             list_prepend(
               list_reduce(list_slice(gains, 1, {RSI_N}), (a, x) -> a + x)
                 / {_W_LO},
               list_slice(gains, {RSI_N} + 1, len(gains))),
             (acc, x) -> (acc * {_W_HI} + x) / {_W_LO})
         END AS avg_gain,
         CASE WHEN len(losses) >= {RSI_N} THEN
           list_reduce(
             list_prepend(
               list_reduce(list_slice(losses, 1, {RSI_N}), (a, x) -> a + x)
                 / {_W_LO},
               list_slice(losses, {RSI_N} + 1, len(losses))),
             (acc, x) -> (acc * {_W_HI} + x) / {_W_LO})
         END AS avg_loss
  FROM gl
)
SELECT user_id, n_rows, avg_gain, avg_loss,
       CASE WHEN avg_gain + avg_loss = 0.0 THEN NULL
            ELSE 100.0 * avg_gain / (avg_gain + avg_loss) END AS rsi
FROM wd
"""


def q_atr_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _daily_bars(load_table(spark, sf_dir, "events"))
    w_ord = Window.partitionBy("user_id").orderBy(F.col("day").asc())
    prev_close = F.lag("close_value").over(w_ord)
    h, low = F.col("high_value"), F.col("low_value")
    tr = F.when(prev_close.isNull(), h - low).otherwise(
        F.greatest(h - low, F.abs(h - prev_close), F.abs(low - prev_close))
    )
    with_tr = bars.select("user_id", "day", tr.alias("tr"))
    out = grouped.wilder_last(with_tr, value_col="tr", n=ATR_N)
    return out.select(
        F.col("key").alias("user_id"),
        F.col("n_rows").alias("n_bars"),
        F.col("wilder").alias("atr_wilder"),
    )


SQL_ATR_WILDER = f"""{_SQL_DAILY_BARS},
d AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_bars,
         list(high_value ORDER BY day) AS hs,
         list(low_value ORDER BY day) AS ls,
         list(close_value ORDER BY day) AS cs
  FROM bars GROUP BY user_id
), trs AS (
  SELECT user_id, n_bars,
         list_transform(generate_series(1, len(hs)), t ->
           CASE WHEN t = 1 THEN hs[1] - ls[1]
                ELSE greatest(hs[t] - ls[t],
                              abs(hs[t] - cs[t-1]),
                              abs(ls[t] - cs[t-1])) END) AS trs
  FROM d
)
SELECT user_id, n_bars,
       CASE WHEN n_bars >= {ATR_N} THEN
         list_reduce(
           list_prepend(
             list_reduce(list_slice(trs, 1, {ATR_N}), (a, x) -> a + x)
               / {_W_LO},
             list_slice(trs, {ATR_N} + 1, len(trs))),
           (acc, x) -> (acc * {_W_HI} + x) / {_W_LO})
       END AS atr_wilder
FROM trs
"""


def q_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume: daily bars → sign(close − prev close) · volume,
    running-summed per user in day order (volume = bar event count). All
    integer/comparison arithmetic — bit-exact, no rounding. Same single
    user-hash exchange as q_atr."""
    bars = _daily_bars(load_table(spark, sf_dir, "events"))
    w_ord = Window.partitionBy("user_id").orderBy(F.col("day").asc())
    prev_close = F.lag("close_value").over(w_ord)
    sign = (
        F.when(prev_close.isNull(), F.lit(0))
        .when(F.col("close_value") > prev_close, F.lit(1))
        .when(F.col("close_value") < prev_close, F.lit(-1))
        .otherwise(F.lit(0))
    )
    signed = bars.select(
        "user_id",
        "day",
        "close_value",
        F.col("n_events").alias("daily_volume"),
        (sign * F.col("n_events")).alias("__sv"),
    )
    w_run = Window.partitionBy("user_id").orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return signed.select(
        "user_id",
        "day",
        "close_value",
        "daily_volume",
        F.sum("__sv").over(w_run).alias("obv"),
    )


SQL_OBV = f"""{_SQL_DAILY_BARS},
d AS (
  SELECT user_id, day, close_value, n_events AS daily_volume,
         lag(close_value) OVER (PARTITION BY user_id ORDER BY day ASC)
           AS prev_close
  FROM bars
), s AS (
  SELECT user_id, day, close_value, daily_volume,
         (CASE WHEN prev_close IS NULL THEN 0
               WHEN close_value > prev_close THEN 1
               WHEN close_value < prev_close THEN -1
               ELSE 0 END) * daily_volume AS sv
  FROM d
)
SELECT user_id, day, close_value, daily_volume,
       CAST(sum(sv) OVER (PARTITION BY user_id ORDER BY day ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS obv
FROM s
"""


def q_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator on the raw series: %K = 100·(value − min₁₄)/
    (max₁₄ − min₁₄) (null until 14 rows, null when the window is flat),
    %D = 3-row SMA of %K. %K is bit-exact (window min/max are comparisons,
    then identical IEEE ops); %D rounds at 6. Stacked windows on ONE user
    partitioning — single exchange, same shape as rsi_14."""
    ev = load_table(spark, sf_dir, "events")
    w_n = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-(STOCH_N - 1), 0)
    )
    full = F.count("value").over(w_n) == STOCH_N
    lo = F.when(full, F.min("value").over(w_n))
    hi = F.when(full, F.max("value").over(w_n))
    k = F.lit(100.0) * (F.col("value") - lo) / F.nullif(hi - lo, F.lit(0.0))
    with_k = ev.select(
        "event_id", "user_id", "ts", "value", k.alias("pct_k")
    )
    w_d = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-(STOCH_D - 1), 0)
    )
    d = F.when(
        F.count("pct_k").over(w_d) == STOCH_D, F.avg("pct_k").over(w_d)
    )
    return with_k.select(
        "event_id", "user_id", "value", "pct_k", F.round(d, 6).alias("pct_d")
    )


SQL_STOCHASTIC = f"""
WITH k AS (
  SELECT event_id, user_id, ts, value,
         100.0 * (value - (CASE WHEN count(value) OVER w = {STOCH_N}
                                THEN min(value) OVER w END))
         / nullif((CASE WHEN count(value) OVER w = {STOCH_N}
                        THEN max(value) OVER w END)
                  - (CASE WHEN count(value) OVER w = {STOCH_N}
                          THEN min(value) OVER w END), 0.0) AS pct_k
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN {STOCH_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, value, pct_k,
       round(CASE WHEN count(pct_k) OVER w3 = {STOCH_D}
                  THEN avg(pct_k) OVER w3 END, 6) AS pct_d
FROM k
WINDOW w3 AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
              ROWS BETWEEN {STOCH_D - 1} PRECEDING AND CURRENT ROW)
"""


def q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-bar beta of each user's daily returns against the equal-
    weight cross-user index (the reference's removed report.pyc computed a
    correlation heatmap; beta-vs-index is the scale-honest sibling). Shape:
    daily close bars per user (one user-hash exchange) → tiny per-day index
    aggregate (≤ |calendar days| rows, decimal-exact mean) broadcast back →
    per-user return windows → beta from explicit window sums
    (n·Σxy − Σx·Σy)/(n·Σyy − Σy²), rounded at 6. The index side is bounded
    by the calendar, not the corpus — broadcast stays cheap at 100 TB."""
    bars = _daily_bars(load_table(spark, sf_dir, "events")).select(
        "user_id", "day", "close_value"
    )
    # equal-weight index: decimal-exact mean over the 2-decimal close grid
    # (summation-order-proof), emitted as double on both engines
    idx = bars.groupBy("day").agg(
        (
            F.sum(F.col("close_value").cast("decimal(12,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("idx_close")
    )
    # a prior close of exactly 0.0 (present in the sf0.1 grid) must yield a
    # null return, not an ANSI divide-by-zero crash — nullif on BOTH engines
    w_idx = Window.orderBy(F.col("day").asc())
    idx = idx.select(
        "day",
        (
            F.col("idx_close")
            / F.nullif(F.lag("idx_close").over(w_idx), F.lit(0.0))
            - 1
        ).alias("ret_m"),
    )
    w_ord = Window.partitionBy("user_id").orderBy(F.col("day").asc())
    rets = bars.select(
        "user_id",
        "day",
        (
            F.col("close_value")
            / F.nullif(F.lag("close_value").over(w_ord), F.lit(0.0))
            - 1
        ).alias("ret_u"),
    ).join(F.broadcast(idx), "day")
    w_n = Window.partitionBy("user_id").orderBy(F.col("day").asc()).rowsBetween(
        -(BETA_N - 1), 0
    )
    n = F.count(F.when(F.col("ret_u").isNotNull() & F.col("ret_m").isNotNull(), 1)).over(w_n)
    x = F.when(F.col("ret_m").isNotNull(), F.col("ret_u"))
    y = F.when(F.col("ret_u").isNotNull(), F.col("ret_m"))
    sxy = F.sum(x * y).over(w_n)
    sx = F.sum(x).over(w_n)
    sy = F.sum(y).over(w_n)
    syy = F.sum(y * y).over(w_n)
    beta = F.when(
        n == BETA_N,
        (n * sxy - sx * sy) / F.nullif(n * syy - sy * sy, F.lit(0.0)),
    )
    return rets.select(
        "user_id", "day", F.round(beta, 6).alias("beta")
    )


SQL_ROLLING_BETA = f"""{_SQL_DAILY_BARS},
idx0 AS (
  SELECT day,
         CAST(sum(CAST(close_value AS DECIMAL(12,2))) AS DOUBLE) / count(*)
           AS idx_close
  FROM bars GROUP BY day
), idx AS (
  SELECT day,
         idx_close / nullif(lag(idx_close) OVER (ORDER BY day ASC), 0.0) - 1
           AS ret_m
  FROM idx0
), r AS (
  SELECT b.user_id, b.day,
         b.close_value / nullif(lag(b.close_value)
           OVER (PARTITION BY b.user_id ORDER BY b.day ASC), 0.0) - 1 AS ret_u,
         i.ret_m
  FROM bars b JOIN idx i USING (day)
), p AS (
  SELECT user_id, day,
         CASE WHEN ret_m IS NOT NULL THEN ret_u END AS x,
         CASE WHEN ret_u IS NOT NULL THEN ret_m END AS y
  FROM r
)
SELECT user_id, day,
       round(CASE WHEN count(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                                  THEN 1 END) OVER w = {BETA_N}
                  THEN (count(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                                   THEN 1 END) OVER w * sum(x * y) OVER w
                        - sum(x) OVER w * sum(y) OVER w)
                       / nullif(count(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                                           THEN 1 END) OVER w
                                * sum(y * y) OVER w
                                - sum(y) OVER w * sum(y) OVER w, 0.0)
             END, 6) AS beta
FROM p
WINDOW w AS (PARTITION BY user_id ORDER BY day ASC
             ROWS BETWEEN {BETA_N - 1} PRECEDING AND CURRENT ROW)
"""


# --- forecast-accuracy evaluation: seasonal-naive vs naive MAE ---------------

SEASON_LAG = 7


def q_seasonal_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-evaluation per user on the daily close series: the MAE of
    the seasonal-naive forecaster (predict close[t-7]) against the MAE of
    the plain naive forecaster (predict close[t-1]) and their ratio —
    MASE-style, the standard first question of any forecasting effort
    ("does seasonality beat persistence?"). Both error series evaluate
    only where BOTH lags exist, so the two MAEs average over the SAME
    rows. Closes sit on the 2-decimal grid, so |diffs| are 2-decimal
    exact and the means are DECIMAL-summed (order-proof); the final ratio
    divides two exact doubles. One user-hash exchange end to end (the
    _daily_bars contract)."""
    bars = _daily_bars(load_table(spark, sf_dir, "events")).select(
        "user_id", "day", "close_value"
    )
    w = Window.partitionBy("user_id").orderBy(F.col("day").asc())
    lag1 = F.lag("close_value", 1).over(w)
    lag_s = F.lag("close_value", SEASON_LAG).over(w)
    scored = bars.select(
        "user_id",
        F.abs(F.col("close_value") - lag1).alias("e_naive"),
        F.abs(F.col("close_value") - lag_s).alias("e_seasonal"),
    ).filter(F.col("e_naive").isNotNull() & F.col("e_seasonal").isNotNull())
    mae = lambda c: (
        F.sum(F.col(c).cast("decimal(14,2)")).cast("double")
        / F.count(F.lit(1)).cast("double")
    )
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_evals"),
        mae("e_naive").alias("mae_naive"),
        mae("e_seasonal").alias("mae_seasonal"),
        (mae("e_seasonal") / F.nullif(mae("e_naive"), F.lit(0.0))).alias(
            "mase_ratio"
        ),
    )


SQL_SEASONAL_MASE = f"""{_SQL_DAILY_BARS},
lagged AS (
  SELECT user_id,
         abs(close_value - lag(close_value, 1)
             OVER (PARTITION BY user_id ORDER BY day ASC)) AS e_naive,
         abs(close_value - lag(close_value, {SEASON_LAG})
             OVER (PARTITION BY user_id ORDER BY day ASC)) AS e_seasonal
  FROM bars
), s AS (
  SELECT user_id, e_naive, e_seasonal FROM lagged
  WHERE e_naive IS NOT NULL AND e_seasonal IS NOT NULL
)
SELECT user_id, count(*) AS n_evals,
       CAST(sum(CAST(e_naive AS DECIMAL(14,2))) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS mae_naive,
       CAST(sum(CAST(e_seasonal AS DECIMAL(14,2))) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS mae_seasonal,
       (CAST(sum(CAST(e_seasonal AS DECIMAL(14,2))) AS DOUBLE)
         / CAST(count(*) AS DOUBLE))
       / nullif(CAST(sum(CAST(e_naive AS DECIMAL(14,2))) AS DOUBLE)
                / CAST(count(*) AS DOUBLE), 0.0) AS mase_ratio
FROM s GROUP BY user_id
"""


SPECS = {
    "ts_features": QuerySpec(
        q_ts_features,
        SQL_TS_FEATURES,
        "W1-W4: pct_change + ma20/ma50 + vol20 per key (pandas min_periods semantics)",
        ("window", "flagship"),
    ),
    "validation_counts": QuerySpec(
        q_validation_counts,
        SQL_VALIDATION_COUNTS,
        "A1/A3/P5: null + predicate counts in one aggregation pass",
        ("agg",),
    ),
    "dup_stats": QuerySpec(
        q_dup_stats, SQL_DUP_STATS, "A2: pandas duplicated(keep=False) counting", ("agg",)
    ),
    "dedup_keep_last": QuerySpec(
        q_dedup_keep_last,
        SQL_DEDUP_KEEP_LAST,
        "A2: drop_duplicates(keep='last') via explicit ingest order",
        ("window",),
    ),
    "zscore_outliers": QuerySpec(
        q_zscore_outliers,
        SQL_ZSCORE_OUTLIERS,
        "A4: pooled (not per-key) z-score outlier count, ddof=1",
        ("agg",),
    ),
    "missing_bdays": QuerySpec(
        q_missing_bdays,
        SQL_MISSING_BDAYS,
        "A5/F5: per-key missing Mon-Fri business days via calendar anti-join",
        ("join",),
    ),
    "series_summary": QuerySpec(
        q_series_summary,
        SQL_SERIES_SUMMARY,
        "A8: per-series stats as one groupBy (replaces reference's Python loop)",
        ("agg",),
    ),
    "global_summary": QuerySpec(
        q_global_summary, SQL_GLOBAL_SUMMARY, "A9/A6: global summary in one pass", ("agg",)
    ),
    "table_stats": QuerySpec(
        q_table_stats, SQL_TABLE_STATS, "S7/A7: table stats scan", ("agg",)
    ),
    "cross_source_compare": QuerySpec(
        q_cross_source_compare,
        SQL_CROSS_SOURCE_COMPARE,
        "J1/F1/P3/F2: two-source inner join + pct-diff + strict tolerance filter",
        ("join",),
    ),
    "discrepancy_flags": QuerySpec(
        q_discrepancy_flags,
        SQL_DISCREPANCY_FLAGS,
        "J2/P7: left-join flag enrichment with false-fill",
        ("join",),
    ),
    "first_request_wins": QuerySpec(
        q_first_request_wins,
        SQL_FIRST_REQUEST_WINS,
        "K2/J3: idempotent-append dedup as a left-anti join",
        ("join",),
    ),
    "ledger_latest_status": QuerySpec(
        q_ledger_latest_status,
        SQL_LEDGER_LATEST_STATUS,
        "K6: append-only ledger latest-status view",
        ("window",),
    ),
    "quality_score": QuerySpec(
        q_quality_score,
        SQL_QUALITY_SCORE,
        "F9: basic/reliability/overall quality-score arithmetic",
        ("agg",),
    ),
    "database_stats": QuerySpec(
        q_database_stats,
        SQL_DATABASE_STATS,
        "S7: per-table record counts + distinct keys + date ranges",
        ("agg",),
    ),
    "return_correlation": QuerySpec(
        q_return_correlation,
        SQL_RETURN_CORRELATION,
        "pairwise Pearson correlation of per-series daily returns (report module)",
        ("agg", "join"),
    ),
    "vol_outliers": QuerySpec(
        q_vol_outliers,
        SQL_VOL_OUTLIERS,
        "rolling-volatility 3-sigma outlier rows (report module)",
        ("window",),
    ),
    "trailing_7d_sum": QuerySpec(
        q_trailing_7d_sum,
        SQL_TRAILING_7D_SUM,
        "per-user trailing 7-day sum/count as an event-time RANGE frame",
        ("window",),
    ),
    "gap_fill_ffill": QuerySpec(
        q_gap_fill,
        SQL_GAP_FILL,
        "daily regularization: keep-last per day + calendar spine + forward fill",
        ("window", "join"),
    ),
    "weekly_bars": QuerySpec(
        q_weekly_bars,
        SQL_WEEKLY_BARS,
        "weekly OHLC downsample (resample('W').ohlc()): one window pass + "
        "one reused-partitioning aggregate",
        ("window", "agg"),
    ),
    "bars_4h": QuerySpec(
        q_bars_4h,
        SQL_BARS_4H,
        "4-hour OHLC bars via the generic resample_bars operator "
        "(N-second interval flavor; the fold family's skew-immune "
        "pre-step)",
        ("window", "agg"),
    ),
    "max_drawdown": QuerySpec(
        q_max_drawdown,
        SQL_MAX_DRAWDOWN,
        "per-user max drawdown: running-peak window + reused-partitioning "
        "min (bit-exact, no rounding)",
        ("window", "agg"),
    ),
    "mad_outliers": QuerySpec(
        q_mad_outliers,
        SQL_MAD_OUTLIERS,
        "robust outliers: rank-exact median + MAD + |x-med| > 3*MAD count "
        "per user (no quantile interpolation, engine-exact)",
        ("window", "agg"),
    ),
    "value_percentiles_by_type": QuerySpec(
        q_value_percentiles,
        SQL_VALUE_PERCENTILES,
        "exact interpolated percentiles per group (quantile_cont-identical)",
        ("agg",),
    ),
    "bollinger_bands": QuerySpec(
        q_bollinger_bands,
        SQL_BOLLINGER_BANDS,
        "20-row mean ± 2σ bands + breakout classification, single exchange",
        ("window",),
    ),
    "rsi_14": QuerySpec(
        q_rsi,
        SQL_RSI,
        "Cutler's RSI over 14 diffs (stacked windows, one user partitioning)",
        ("window",),
    ),
    "atr_14": QuerySpec(
        q_atr,
        SQL_ATR,
        "ATR-14 over daily OHLC bars: one user-hash exchange end-to-end",
        ("window", "agg"),
    ),
    "rsi_14_wilder": QuerySpec(
        q_rsi_wilder,
        SQL_RSI_WILDER,
        "industry-standard Wilder RSI: mean-seeded α=1/14 EWMA fold per "
        "user (grouped-map), prefix-list_reduce oracle",
        ("window",),
    ),
    "rsi_bars_4h": QuerySpec(
        q_rsi_bars_4h,
        SQL_RSI_BARS_4H,
        "Wilder RSI on 4-hour bars: the fold family's documented "
        "escape hatch (resample_bars pre-step -> fold the closes) as "
        "one registered pipeline",
        ("window", "agg"),
    ),
    "atr_14_wilder": QuerySpec(
        q_atr_wilder,
        SQL_ATR_WILDER,
        "Wilder ATR over daily bars: mean-seeded α=1/14 EWMA fold of true "
        "range (grouped-map), prefix-list_reduce oracle",
        ("window", "agg"),
    ),
    "obv": QuerySpec(
        q_obv,
        SQL_OBV,
        "on-balance volume: signed running volume sum, bit-exact integers",
        ("window", "agg"),
    ),
    "stochastic_osc": QuerySpec(
        q_stochastic,
        SQL_STOCHASTIC,
        "stochastic %K/%D: stacked 14/3-row windows, %K bit-exact",
        ("window",),
    ),
    "gap_fill_interp": QuerySpec(
        q_gap_fill_interp,
        SQL_GAP_FILL_INTERP,
        "time-weighted linear interpolation across unobserved days "
        "(pandas interpolate sibling of gap_fill_ffill)",
        ("window", "join"),
    ),
    "seasonal_mase": QuerySpec(
        q_seasonal_mase,
        SQL_SEASONAL_MASE,
        "seasonal-naive vs naive MAE per user (MASE-style forecast "
        "eval); decimal-exact means, one user exchange",
        ("window", "agg"),
    ),
    "rolling_beta": QuerySpec(
        q_rolling_beta,
        SQL_ROLLING_BETA,
        "30-bar beta vs equal-weight index: calendar-bounded broadcast join",
        ("window", "join", "agg"),
    ),
}
