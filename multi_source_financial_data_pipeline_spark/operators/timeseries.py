"""Per-key time-series features as native window frames (SURVEY.md §2.6).

Reference semantics (pandas, /root/reference/src/pipeline.py:60-84):
sort by (Ticker, date), then per ticker
  - W1 daily return: ``close.pct_change()`` → close/lag(close) - 1, first row
    per key null (src/pipeline.py:61,81)
  - W2/W3 moving averages: ``rolling(n).mean()`` with the min_periods=n
    default → null until the n-th row (src/pipeline.py:82-83)
  - W4 rolling volatility: ``rolling(20).std()`` over the return column,
    sample std ddof=1 (src/pipeline.py:84)

Idiomatic Spark is a native window frame, NOT applyInPandas: the whole
feature set is one shuffle on the partition key followed by a single in-memory
sort per partition, all inside whole-stage codegen. The pandas min_periods
behavior is reproduced with a ``count(x) over frame == n`` guard (count skips
nulls, exactly like pandas' non-NaN observation count).

Scale note: one hash-exchange on `key` covers every feature column; with
~100 TB and a high-cardinality key this parallelizes perfectly and spills per
partition. A low-cardinality key (few tickers, huge history) is the skew case:
AQE skew-join/partition splitting does not help a window sort, so for that
shape pre-bucket the table by key (`df.write.bucketBy(key)`) so the exchange
disappears entirely on re-use.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def pct_change(value: Column, w) -> Column:
    """pandas ``Series.pct_change()`` over an ordered window: x/lag(x) - 1.

    Note pandas divides by the *previous non-null* only positionally — lag(1)
    matches because the reference never has interior nulls after validate().
    A zero previous value yields null (not pandas' inf): ANSI-safe and
    identical in Spark and DuckDB (`nullif` divisor on both sides).
    """
    prev = F.lag(value, 1).over(w)
    return value / F.nullif(prev, F.lit(0.0)) - F.lit(1.0)


def rolling_mean(value: Column, w_frame, n: int) -> Column:
    """pandas ``rolling(n).mean()`` (min_periods=n): null until the frame
    holds n non-null observations."""
    return F.when(F.count(value).over(w_frame) == n, F.avg(value).over(w_frame))


def rolling_std(value: Column, w_frame, n: int) -> Column:
    """pandas ``rolling(n).std()`` (ddof=1, min_periods=n)."""
    return F.when(F.count(value).over(w_frame) == n, F.stddev_samp(value).over(w_frame))


def trailing_range_frame(lookback):
    """Event-time trailing window as a RANGE frame: every row aggregates the
    rows whose ``ts_us`` lies in ``[ts_us - lookback, ts_us]`` — irregular
    sampling handled by the frame itself, no calendar spine, no self-join.

    Same scale shape as any window: one hash exchange on ``user_id`` + one sort per
    partition; the range frame is evaluated by a sliding pointer pass, so cost
    stays O(rows in partition), not O(rows × frame width). The order column
    must be numeric (epoch micros) — Spark range frames don't take intervals
    over timestamps directly.
    """
    return (Window.partitionBy("user_id").orderBy("ts_us").rangeBetween(-lookback, 0))


def gap_fill_daily(df: DataFrame) -> DataFrame:
    """Regularize an irregular per-key daily series: keep the last observation
    per (key, day), generate each key's full calendar spine between its first
    and last observed day, and forward-fill values across unobserved days
    (pandas ``resample('D').last().ffill()``).

    Shape: keep-last is one window pass; the spine is generated per key from
    its 2-row bounds (`sequence` + explode — never collected, never a
    calendar table join); the fill is `last(value, ignorenulls=True)` over an
    unbounded-preceding frame. Spine size is |keys| × |days in span| — linear
    in the output, independent of the fact-table row count. Keys whose span
    starts at an observation (always true: the span is [min obs, max obs])
    have no leading nulls, so the fill is total.
    """
    w_last = Window.partitionBy("user_id", "date").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    # the key is renamed on this leg: spine and daily share lineage, and a
    # same-attribute `spine[key] == daily[key]` makes Spark construct (and
    # warn about) a trivially-true predicate before auto-disambiguating
    daily = (
        df.withColumn("__rn", F.row_number().over(w_last))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("user_id").alias("__k"),
            F.col("date").alias("obs_date"),
            F.col("value").alias("__v"),
        )
    )
    bounds = daily.groupBy(F.col("__k").alias("user_id")).agg(
        F.min("obs_date").alias("min_date"), F.max("obs_date").alias("max_date")
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("min_date"), F.col("max_date"), F.expr("interval 1 day"))
        ).alias("cal_date"),
    )
    joined = spine.join(
        daily,
        (F.col("user_id") == F.col("__k")) & (F.col("cal_date") == F.col("obs_date")),
        "left",
    ).select("user_id", "cal_date", "obs_date", "__v")
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("cal_date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        "cal_date",
        F.last("__v", ignorenulls=True).over(w_fill).alias("value_filled"),
        F.col("obs_date").isNotNull().cast("int").alias("is_observed"),
    )


def gap_fill_interp(df: DataFrame) -> DataFrame:
    """Linear interpolation across unobserved days — `gap_fill_daily`'s
    ``pandas interpolate(method='time')`` sibling: each gap day takes
    prev + (next − prev) · (days since prev) / (days between anchors).
    Same spine machinery; the fill needs BOTH directions, so two window
    passes over ONE (key)-ordered exchange (forward: last ignorenulls;
    backward: first ignorenulls over the following frame). The span is
    [min obs, max obs], so both anchors always exist on gap days and the
    interpolation is total. Interpolated values are rounded at 6 on both
    engines (the anchors sit on the 2-decimal grid; the fraction divides
    exact day counts)."""
    w_last = Window.partitionBy("user_id", "date").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    daily = (
        df.withColumn("__rn", F.row_number().over(w_last))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("user_id").alias("__k"),
            F.col("date").alias("obs_date"),
            F.col("value").alias("__v"),
        )
    )
    bounds = daily.groupBy(F.col("__k").alias("user_id")).agg(
        F.min("obs_date").alias("min_date"), F.max("obs_date").alias("max_date")
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("min_date"), F.col("max_date"), F.expr("interval 1 day"))
        ).alias("cal_date"),
    )
    joined = spine.join(
        daily,
        (F.col("user_id") == F.col("__k")) & (F.col("cal_date") == F.col("obs_date")),
        "left",
    ).select("user_id", "cal_date", "obs_date", "__v")
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("cal_date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_bwd = (
        Window.partitionBy("user_id")
        .orderBy("cal_date")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last("__v", ignorenulls=True).over(w_fwd)
    prev_d = F.last("obs_date", ignorenulls=True).over(w_fwd)
    next_v = F.first("__v", ignorenulls=True).over(w_bwd)
    next_d = F.first("obs_date", ignorenulls=True).over(w_bwd)
    frac = F.datediff(F.col("cal_date"), prev_d).cast("double") / F.nullif(
        F.datediff(next_d, prev_d).cast("double"), F.lit(0.0)
    )
    interp = F.when(
        F.col("obs_date").isNotNull(), F.col("__v")
    ).otherwise(F.round(prev_v + (next_v - prev_v) * frac, 6))
    return joined.select(
        "user_id",
        "cal_date",
        interp.alias("value_interp"),
        F.col("obs_date").isNotNull().cast("int").alias("is_observed"),
    )


def timeseries_features(
    df: DataFrame,
    key: str = "ticker",
    order: Sequence[str] = ("date",),
    value: str = "close",
    ma_windows: Sequence[int] = (20, 50),
    vol_window: int = 20,
) -> DataFrame:
    """transform() parity (src/pipeline.py:78-91): return + moving averages +
    rolling volatility per key, ordered by `order` (pass a tiebreaker column
    for deterministic results when the order key can repeat)."""
    w = Window.partitionBy(key).orderBy(*order)
    out = df.withColumn("ret", pct_change(F.col(value), w))
    for n in ma_windows:
        frame = w.rowsBetween(-(n - 1), 0)
        out = out.withColumn(f"ma{n}", rolling_mean(F.col(value), frame, n))
    vol_frame = w.rowsBetween(-(vol_window - 1), 0)
    out = out.withColumn(
        f"vol{vol_window}", rolling_std(F.col("ret"), vol_frame, vol_window)
    )
    return out


def checked_decimal(v: Column, context: str) -> Column:
    """``v`` cast to ``decimal(18,2)`` with a LOUD overflow, independent of the
    session's ``spark.sql.ansi.enabled``: the cast is
    ``try_cast`` plus an explicit ``raise_error`` when a non-null input
    came back NULL (i.e. out of range). Under ``ansi=false`` a plain CAST
    would return NULL and silently drop the row from downstream exact
    sums while the DuckDB oracle raises on the identical CAST — the
    engine/oracle divergence this expression exists to forbid. Shared by
    `resample_bars` and the streaming bar aggregation
    (`plans/mmstream.q_stream_bars_ohlc_wm` — ``raise_error`` is legal
    inside streaming aggregates), so the two bar paths cannot drift."""
    dec = v.try_cast("decimal(18,2)")
    return F.when(
        v.isNotNull() & dec.isNull(),
        F.raise_error(
            F.concat(
                F.lit(f"{context}: value out of DECIMAL(18,2) range: "),
                v.cast("string"),
            )
        ).cast("decimal(18,2)"),
    ).otherwise(dec)


def resample_bars(
    df: DataFrame,
    interval: str | int,
    exact_sum: bool = True,
) -> DataFrame:
    """Downsample an irregular per-key series to OHLC bars of arbitrary
    granularity — pandas ``resample(rule).ohlc()`` / the hypertable
    continuous-aggregate shape, generalized from the weekly machinery in
    `plans/financial.q_weekly_bars`.

    ``interval`` is either a calendar unit accepted by ``date_trunc``
    (``"week"``, ``"day"``, ``"month"``, ``"hour"``, ...) or an integer
    bucket width in SECONDS (e.g. ``14400`` for 4-hour bars; must divide
    evenly into whole seconds — sub-second widths are out of scope since
    ``unix_timestamp`` truncates to seconds).

    This is the documented PRE-STEP for the grouped-map fold family
    (`operators/grouped.ewma_last` / `macd_last` / `rsi_wilder` /
    `atr_wilder`): those materialize one key's FULL history per task and
    refuse above ``GROUPED_FOLD_MAX_ROWS``; resampling first bounds the
    per-key series to ``#bars`` rows (fold the ``close_value`` column,
    ordered by ``bar_ts``). Crucially the pre-step itself is SKEW-IMMUNE
    where the fold is not: both the tagging window and the aggregate
    partition by ``(key, bar)``, so a single 10-billion-row key spreads
    across its bars instead of landing on one task.

    Plan shape (one exchange): the bar key is projected FIRST so the
    window partitioning and the final groupBy share the exact same
    attribute; a row_number pair tags each bar's first/last observation
    (ties broken on ``event_id``, the explicit ingest order), then a
    groupBy on the SAME keys folds open/high/low/close/count/sum —
    Catalyst reuses the window's hash partitioning.

    ``exact_sum=True`` sums through DECIMAL(18,2) (bit-exact across
    engines for 2-dp inputs, the registry's oracle discipline; 18,2
    rather than 12,2 so |value| up to 1e16 casts losslessly). A value
    beyond that range FAILS LOUDLY on both engines: the
    cast is ``try_cast`` plus an explicit ``raise_error`` on a non-null
    input that didn't fit, so the overflow contract no longer depends on
    the session's ``spark.sql.ansi.enabled`` — under ``ansi=false`` a
    plain CAST would return NULL and silently drop the row from
    ``sum_value`` while the DuckDB oracle raises. ``exact_sum=False``
    keeps a plain double sum (cheaper, order-dependent rounding).
    """
    if isinstance(interval, int):
        if interval <= 0:
            raise ValueError(f"interval seconds must be positive: {interval}")
        bar = F.timestamp_seconds(
            F.floor(F.unix_timestamp(F.col("ts")) / F.lit(interval)).cast("long")
            * F.lit(interval)
        )
    else:
        bar = F.date_trunc(interval, F.col("ts"))
    base = df.select("user_id", bar.alias("bar_ts"), "ts", "event_id", "value")
    w_asc = Window.partitionBy("user_id", "bar_ts").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    w_desc = Window.partitionBy("user_id", "bar_ts").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    tagged = base.select(
        "user_id",
        "bar_ts",
        "value",
        F.row_number().over(w_asc).alias("__rn_a"),
        F.row_number().over(w_desc).alias("__rn_d"),
    )
    v = F.col("value")
    if exact_sum:
        sum_expr = F.sum(checked_decimal(v, "resample_bars exact_sum")).cast(
            "double"
        )
    else:
        sum_expr = F.sum(v)
    return tagged.groupBy("user_id", "bar_ts").agg(
        F.max(F.when(F.col("__rn_a") == 1, v)).alias("open_value"),
        F.max(v).alias("high_value"),
        F.min(v).alias("low_value"),
        F.max(F.when(F.col("__rn_d") == 1, v)).alias("close_value"),
        F.count(F.lit(1)).alias("n_events"),
        sum_expr.alias("sum_value"),
    )
