"""Grouped-map operators (``applyInPandas``) for per-key recursions that no
built-in window can express.

EWMA is the canonical case: y_0 = x_0, y_t = (1-α)·y_{t-1} + α·x_t is a
per-row recursion — Spark windows have no recursive frame, so the idiomatic
escape hatch is a grouped-map Pandas UDF (Arrow-batched, one group per call).
The recursion is implemented as an explicit fold so a SQL oracle's
``list_reduce`` replays the identical float-operation sequence; both engines
receive the same pre-computed (α, 1-α) double literals because ``1 - α``
re-derived independently can differ in the last bit.

Scale: groups are processed in parallel across executors; the per-group
sequential loop is inherent to the recursion itself. A key's ENTIRE history
materializes in one task's pandas frame (applyInPandas does not chunk), so
per-key history must be bounded — true by construction for bar series
(50 years of daily bars ≈ 1.2e4 rows; a decade of 1-minute bars ≈ 2.5e6).
The bound is ENFORCED, not assumed: each fold raises a clear ValueError
above ``max_rows`` (default ``GROUPED_FOLD_MAX_ROWS``) instead of letting
an unbounded key surface as an opaque executor OOM; callers with genuinely
longer series must pre-aggregate to bars first (resample), which is the
correct financial-series treatment anyway. These recursions cannot be
segment-composed without changing float-op order (EWMA segments compose
affinely, CUSUM in (max,+) — but both reorder arithmetic), which would
break the bit-exact oracle replay contract, so the bound IS the scale
design, measured by the hot-key probe in scale_probe.py (PERF.md).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import types as T

if TYPE_CHECKING:
    import pandas as pd

#: Hard per-key history bound for every grouped-map fold below: ~8M rows
#: × 4 cols × 8 B ≈ 256 MB of Arrow/pandas per task at the limit —
#: comfortably inside an executor task's memory, far above any bar series.
GROUPED_FOLD_MAX_ROWS = 8_000_000


def _check_group_rows(n: int, key_value: object, max_rows: int) -> None:
    if n > max_rows:
        raise ValueError(
            f"grouped-map fold: key {key_value!r} has {n} rows, above the "
            f"per-key history bound {max_rows}; this family materializes "
            "one key's full history per task — pre-aggregate the series "
            "to bars first (operators.timeseries.resample_bars, any "
            "calendar unit or N-second width; its (key, bar) partitioning "
            "is skew-immune), then fold the bar close_value series with "
            "tiebreak=None (bar_ts is unique per (key, bar) by "
            "construction, which is exactly the precondition tiebreak=None "
            "asserts)"
        )


def _check_unique_order(pdf: "pd.DataFrame", col: str, key_value: object) -> None:
    """``tiebreak=None`` (and ``wilder_last``'s ``day``) asserts the
    sort column is unique within the key. That precondition is ENFORCED
    here, not trusted: ``pandas.sort_values`` is an unstable
    quicksort, so a duplicate would silently make the fold order — and
    therefore the fold result — nondeterministic across runs instead of
    raising. O(n) per group: one hash-based ``nunique`` against ``len``."""
    n_unique = pdf[col].nunique(dropna=False)
    if n_unique != len(pdf):
        raise ValueError(
            f"grouped-map fold: key {key_value!r} has "
            f"{len(pdf) - n_unique} duplicate {col!r} values; "
            "tiebreak=None asserts the order column is unique per key "
            "(true by construction for bar series — "
            "timeseries.resample_bars emits one row per (key, bar)); "
            "raw event series must pass a unique tiebreak column "
            "(e.g. event_id) instead"
        )


def _order_cols(ts_col: str, tiebreak: str | None) -> list[str]:
    """In-group sort columns for a fold. ``tiebreak=None`` declares that
    ``ts_col`` is already unique per key (true by construction for bar
    series — `timeseries.resample_bars` emits one row per (key, bar)),
    so bar-fed callers don't pass a semantically meaningless filler
    column just to fill the slot. The declaration is enforced per group
    by ``_check_unique_order`` inside every fold."""
    return [ts_col] if tiebreak is None else [ts_col, tiebreak]


def _fold_partitions(df: DataFrame) -> int:
    """Explicit partition count for every fold exchange below.

    Grouped-map cost is dominated by per-GROUP Python overhead (each
    group crosses the Arrow boundary as its own batch — measured ~2-4 ms
    per group regardless of size), so fold parallelism must track CORES,
    not shuffle bytes: left to AQE's byte-based coalescing, a small
    bar-level input collapses to ONE task and serializes every group
    through a single Python worker (measured 7.8 s -> 1.2 s at 2k groups
    by pinning 32 partitions). An EXPLICIT numPartitions on the
    repartition is what stops AQE from coalescing it; the repartition
    also satisfies the groupBy's clustering, so the plan still carries
    exactly one exchange."""
    spark = df.sparkSession
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n = spark.sparkContext.defaultParallelism
    return max(1, n)


EWMA_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)


def ewma_last(
    df: DataFrame,
    ts_col: str,
    tiebreak: str | None,
    value_col: str,
    alpha: float = 0.3,
    max_rows: int = GROUPED_FOLD_MAX_ROWS,
) -> DataFrame:
    """Final EWMA value per key over the (ts, tiebreak)-ordered series."""
    a = float(alpha)
    b = 1.0 - a  # computed once; the oracle inlines repr(a), repr(b)
    order = _order_cols(ts_col, tiebreak)

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        _check_group_rows(len(pdf), pdf["user_id"].iloc[0], max_rows)
        if tiebreak is None:
            _check_unique_order(pdf, ts_col, pdf["user_id"].iloc[0])
        s = pdf.sort_values(order)[value_col].to_numpy()
        y = float(s[0])
        for x in s[1:]:
            y = y * b + a * float(x)
        return pd.DataFrame(
            {"key": [pdf["user_id"].iloc[0]], "n_rows": [len(s)], "ewma": [y]}
        )

    return df.select("user_id", *order, value_col).repartition(
        _fold_partitions(df), "user_id"
    ).groupBy("user_id").applyInPandas(
        fold, schema=EWMA_SCHEMA
    )


CUSUM_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("mean_value", T.DoubleType()),
        T.StructField("cusum_pos", T.DoubleType()),
        T.StructField("cusum_neg", T.DoubleType()),
    ]
)


def cusum_last(
    df: DataFrame,
    ts_col: str,
    tiebreak: str | None,
    value_col: str,
) -> DataFrame:
    """Final one-sided CUSUM statistics per key against the key's own mean:
    c⁺ = max(0, c⁺ + (x − μ)) and c⁻ = max(0, c⁻ − (x − μ)) folded over
    the (ts, tiebreak)-ordered series — the classic sustained-drift
    detector (Page 1954) no window frame can express (each step clamps at
    zero). μ is the ORDERED left-fold sum divided once, so the oracle's
    seedless `list_reduce` (which seeds with the first element; 0.0+x₀
    round-trips to x₀ bitwise, so the python fold matches) replays every
    float op; the clamp folds replay via a 0.0-prepended list."""
    order = _order_cols(ts_col, tiebreak)

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        _check_group_rows(len(pdf), pdf["user_id"].iloc[0], GROUPED_FOLD_MAX_ROWS)
        if tiebreak is None:
            _check_unique_order(pdf, ts_col, pdf["user_id"].iloc[0])
        s = pdf.sort_values(order)[value_col].to_numpy()
        total = 0.0
        for x in s:
            total = total + float(x)
        mu = total / len(s)
        cp = 0.0
        cn = 0.0
        for x in s:
            cp = max(0.0, cp + (float(x) - mu))
            cn = max(0.0, cn - (float(x) - mu))
        return pd.DataFrame(
            {
                "key": [pdf["user_id"].iloc[0]],
                "n_rows": [len(s)],
                "mean_value": [mu],
                "cusum_pos": [cp],
                "cusum_neg": [cn],
            }
        )

    return df.select("user_id", *order, value_col).repartition(
        _fold_partitions(df), "user_id"
    ).groupBy("user_id").applyInPandas(
        fold, schema=CUSUM_SCHEMA
    )


MACD_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("macd_line", T.DoubleType()),
        T.StructField("signal_line", T.DoubleType()),
        T.StructField("histogram", T.DoubleType()),
    ]
)


def macd_last(
    df: DataFrame,
    ts_col: str,
    tiebreak: str | None,
    value_col: str,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    max_rows: int = GROUPED_FOLD_MAX_ROWS,
) -> DataFrame:
    """Final MACD state per key: three coupled EWMA recursions (fast EMA,
    slow EMA, and the signal EMA *of their difference*) in one ordered
    fold. The signal line consumes the MACD series itself, so no window
    can express it — same grouped-map escape hatch as `ewma_last`, one
    Arrow batch per key, groups in parallel across executors.

    Every intermediate is an explicit left-fold step (e·b + a·x, then the
    subtraction, then the signal step, in that order), so a SQL oracle can
    replay the identical float sequence via prefix `list_reduce` — the
    macd value at step t IS the difference of the two prefix folds at t.
    All EMAs seed at the first observation (m_0 = 0, signal_0 = 0)."""
    a_f = 2.0 / (fast + 1)
    b_f = 1.0 - a_f
    a_s = 2.0 / (slow + 1)
    b_s = 1.0 - a_s
    a_g = 2.0 / (signal + 1)
    b_g = 1.0 - a_g
    order = _order_cols(ts_col, tiebreak)

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        _check_group_rows(len(pdf), pdf["user_id"].iloc[0], max_rows)
        if tiebreak is None:
            _check_unique_order(pdf, ts_col, pdf["user_id"].iloc[0])
        s = pdf.sort_values(order)[value_col].to_numpy()
        e_f = float(s[0])
        e_s = float(s[0])
        m = e_f - e_s
        sig = m
        for x in s[1:]:
            e_f = e_f * b_f + a_f * float(x)
            e_s = e_s * b_s + a_s * float(x)
            m = e_f - e_s
            sig = sig * b_g + a_g * m
        return pd.DataFrame(
            {
                "key": [pdf["user_id"].iloc[0]],
                "n_rows": [len(s)],
                "macd_line": [m],
                "signal_line": [sig],
                "histogram": [m - sig],
            }
        )

    return df.select("user_id", *order, value_col).repartition(
        _fold_partitions(df), "user_id"
    ).groupBy("user_id").applyInPandas(
        fold, schema=MACD_SCHEMA
    )


RSI_WILDER_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("avg_gain", T.DoubleType()),
        T.StructField("avg_loss", T.DoubleType()),
        T.StructField("rsi", T.DoubleType()),
    ]
)


def rsi_wilder_last(
    df: DataFrame,
    ts_col: str,
    tiebreak: str | None,
    value_col: str,
    n: int = 14,
) -> DataFrame:
    """Final Wilder-smoothed RSI state per key (the industry-standard RSI;
    `plans/financial.q_rsi` is the window-expressible Cutler variant): the
    first n diffs seed avg_gain/avg_loss as plain means, then each later
    diff folds g ← (g·(n−1) + gain)/n — an EWMA recursion with α = 1/n
    seeded by a mean, which no window frame can express. NULL until n diffs
    exist; RSI NULL when the series is flat (0/0 guard).

    Losses use `max(0.0 − d, 0.0)` (not −d): a = +0.0 diff would give
    −0.0 under unary minus in python but engine-dependent sign under SQL
    `greatest`, and the seedless fold starts from the raw first element, so
    the −0.0 could surface in an all-flat series' output."""
    hi = float(n - 1)
    lo = float(n)
    order = _order_cols(ts_col, tiebreak)

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        _check_group_rows(len(pdf), pdf["user_id"].iloc[0], GROUPED_FOLD_MAX_ROWS)
        if tiebreak is None:
            _check_unique_order(pdf, ts_col, pdf["user_id"].iloc[0])
        s = pdf.sort_values(order)[value_col].to_numpy()
        diffs = [float(s[i]) - float(s[i - 1]) for i in range(1, len(s))]
        out = {"key": [pdf["user_id"].iloc[0]], "n_rows": [len(s)]}
        if len(diffs) < n:
            out.update({"avg_gain": [None], "avg_loss": [None], "rsi": [None]})
            return pd.DataFrame(out)
        gains = [max(d, 0.0) for d in diffs]
        losses = [max(0.0 - d, 0.0) for d in diffs]

        def wilder(xs: list) -> float:
            acc = 0.0
            for x in xs[:n]:
                acc = acc + x
            acc = acc / lo
            for x in xs[n:]:
                acc = (acc * hi + x) / lo
            return acc

        ag, al = wilder(gains), wilder(losses)
        rsi = None if ag + al == 0.0 else 100.0 * ag / (ag + al)
        out.update({"avg_gain": [ag], "avg_loss": [al], "rsi": [rsi]})
        return pd.DataFrame(out)

    return df.select("user_id", *order, value_col).repartition(
        _fold_partitions(df), "user_id"
    ).groupBy("user_id").applyInPandas(
        fold, schema=RSI_WILDER_SCHEMA
    )


WILDER_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("wilder", T.DoubleType()),
    ]
)


def wilder_last(
    df: DataFrame,
    value_col: str,
    n: int = 14,
) -> DataFrame:
    """Final Wilder-smoothed value per key: mean of the first n values,
    then acc ← (acc·(n−1) + x)/n per later value — the ATR/ADX smoothing
    recursion (EWMA, α = 1/n, mean seed). NULL until n values exist.
    ``day`` must be unique per key — enforced per group by
    `_check_unique_order`, same contract as `tiebreak=None`."""
    hi = float(n - 1)
    lo = float(n)

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        _check_group_rows(len(pdf), pdf["user_id"].iloc[0], GROUPED_FOLD_MAX_ROWS)
        _check_unique_order(pdf, "day", pdf["user_id"].iloc[0])
        s = pdf.sort_values("day")[value_col].to_numpy()
        out = {"key": [pdf["user_id"].iloc[0]], "n_rows": [len(s)]}
        if len(s) < n:
            out["wilder"] = [None]
            return pd.DataFrame(out)
        acc = 0.0
        for x in s[:n]:
            acc = acc + float(x)
        acc = acc / lo
        for x in s[n:]:
            acc = (acc * hi + float(x)) / lo
        out["wilder"] = [acc]
        return pd.DataFrame(out)

    return df.select("user_id", "day", value_col).repartition(
        _fold_partitions(df), "user_id"
    ).groupBy("user_id").applyInPandas(
        fold, schema=WILDER_SCHEMA
    )
