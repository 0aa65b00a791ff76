"""Event-time operators beyond the reference's surface: as-of join,
sessionization, time-bucket rollup (hypertable-style continuous aggregate).

The reference has only equi-joins (SURVEY.md §2.4); these are the canonical
time-series extensions a financial/training-data engine needs, implemented
with the scalable union-window pattern rather than per-row range probes:

- **as-of join**: tag left/right rows, union, one window sort per key, carry
  the last right value forward (`last(..., ignoreNulls=True)`). One shuffle +
  one sort — the same cost as any window — versus a naive range join's
  quadratic per-key scan. This is how you as-of-join two 10-TB tables.
- **sessionization**: gap detection with lag + a running sum of
  session-starts; two window passes, no state explosion.
- **time-bucket rollup**: plain groupBy on a truncated timestamp — partial
  aggregation makes it one map-side-combined shuffle.

Timestamps cross the oracle boundary as epoch microseconds (integer, timezone-
free, bit-exact in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
) -> DataFrame:
    """For each left row, the latest right row of the same key with
    right ``ts`` <= left ``ts`` (inclusive; ties among right rows break on
    the largest ``event_id``). Left rows with no prior right row keep nulls.

    Returned columns: all left columns + ``asof_value`` + ``asof_ts`` (epoch
    micros of the matched right row).
    """
    lcols = left.columns
    l = left.withColumn("__side", F.lit(1))
    r = right.select(
        F.col(key),
        F.col("ts"),
        F.col("event_id"),
        F.lit(0).alias("__side"),
        F.unix_micros(F.col("ts")).alias("__r_ts"),
        F.col("value").alias("__r_value"),
    )
    combined = l.unionByName(r, allowMissingColumns=True)
    # right rows (side 0) sort before left rows at equal timestamps, so an
    # exactly-simultaneous right row is visible to the left row (<= semantics)
    w = (
        Window.partitionBy(key)
        .orderBy("ts", "__side", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = combined.withColumn(
        "asof_value", F.last(F.col("__r_value"), ignorenulls=True).over(w)
    )
    out = out.withColumn("asof_ts", F.last(F.col("__r_ts"), ignorenulls=True).over(w))
    return out.filter(F.col("__side") == 1).select(*lcols, "asof_value", "asof_ts")


def sessionize(
    df: DataFrame,
    key: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Assign session ids per key: a new session starts when the gap from the
    previous event exceeds `gap_seconds`. Returns the input plus
    ``session_id`` (0-based per key)."""
    w = Window.partitionBy(key).orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros(F.col("ts"))).over(w)
    gap_us = F.unix_micros(F.col("ts")) - prev_us
    is_new = F.when(
        prev_us.isNull() | (gap_us > gap_seconds * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    running = Window.partitionBy(key).orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn("session_id", F.sum(is_new).over(running) - 1)


def session_stats(
    df: DataFrame,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Per-session aggregates: bounds (epoch micros), event count, and a
    decimal-exact value sum (the 2-decimal input grid makes the sum
    bit-identical across engines)."""
    s = sessionize(df, "user_id", gap_seconds)
    return s.groupBy("user_id", "session_id").agg(
        F.min(F.unix_micros(F.col("ts"))).alias("session_start_us"),
        F.max(F.unix_micros(F.col("ts"))).alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("double")
        .alias("sum_value"),
    )


def time_bucket_rollup(df: DataFrame) -> DataFrame:
    """Continuous-aggregate-style rollup: truncate ``ts`` to the hour and
    aggregate per (hour, event_type)."""
    b = F.date_trunc("hour", F.col("ts"))
    return df.groupBy(F.unix_micros(b).alias("bucket_us"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def bucketed_range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    tolerance_us: int,
) -> DataFrame:
    """Range join — all (left, right) pairs of the same key with
    ``|right ts - left ts| <= tolerance`` — as an equi join.

    Naive range joins degenerate to a per-key nested loop (BroadcastNestedLoop
    at cluster scale: quadratic and unshardable). The scale-safe plan buckets
    time by the tolerance: a matching pair can then differ by at most one
    bucket, so replicating the right side into its bucket ±1 turns the range
    predicate into an equi key ``(key, bucket)`` — one ordinary shuffled hash
    join (3× right-side replication), with the exact |Δt| predicate applied
    as a post-join filter. Each true pair matches exactly once (the left row
    has a single bucket; the three replicas carry distinct buckets).

    Returned columns: all left columns + the right row's ``value`` +
    ``dt_us`` (right minus left, microseconds).
    """
    # integer `div` bucketing — double division risks flooring into the
    # neighboring bucket when epoch_us/tolerance lands within an ulp of an
    # integer; `div` is exact, and |bucket(x)-bucket(y)| <= 1 still holds for
    # |x-y| <= tolerance under truncating division (monotone, step <= 1)
    l = left.withColumn("__l_us", F.unix_micros(F.col("ts"))).withColumn(
        "__bucket", F.expr(f"__l_us div {tolerance_us}")
    )
    r = (
        right.withColumn("__r_us", F.unix_micros(F.col("ts")))
        .withColumn("__r_bucket", F.expr(f"__r_us div {tolerance_us}"))
        .select(
            F.col(key),
            "__r_us",
            F.explode(
                F.array(*[F.col("__r_bucket") + k for k in (-1, 0, 1)])
            ).alias("__bucket"),
            F.col("value").alias("__r_value"),
        )
    )
    joined = l.join(r, [key, "__bucket"]).filter(
        F.abs(F.col("__r_us") - F.col("__l_us")) <= tolerance_us
    )
    return joined.select(
        *left.columns,
        F.col("__r_value").alias("value"),
        (F.col("__r_us") - F.col("__l_us")).alias("dt_us"),
    )
