"""Basic data-quality validation operators (SURVEY.md §2.5 A1-A5, §2.3 P5).

Reference: ``validate()`` at /root/reference/src/pipeline.py:44-76 — null
counts, duplicate count + keep-last dedup, negative-value counts, pooled
z-score extreme-move count, missing-business-day map. Every per-row / per-
group Python loop in the reference becomes one declarative aggregation here,
so each scales as a single map-side-combined shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def null_counts(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """A1 (src/pipeline.py:48): one row, per-column null counts.

    count(*) - count(col) rather than sum(isnull) so the DuckDB oracle gets
    BIGINT (sum over INT would widen to HUGEINT there).
    """
    cols = list(cols or df.columns)
    total = F.count(F.lit(1))
    return df.select(
        *[(total - F.count(F.col(c))).alias(f"nulls_{c}") for c in cols]
    )


def duplicate_stats(df: DataFrame, key: Sequence[str]) -> DataFrame:
    """A2 count half (src/pipeline.py:51-52): pandas ``duplicated(keep=False)
    .sum()`` counts *every* member of a duplicated group, and the group
    count besides."""
    sizes = df.groupBy(*key).agg(F.count(F.lit(1)).alias("n"))
    dup = sizes.filter(F.col("n") > 1)
    return dup.select(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("dup_rows"),
        F.count(F.lit(1)).alias("dup_groups"),
    )


def dedup_keep_last(df: DataFrame, key: Sequence[str], order_col: str) -> DataFrame:
    """A2 dedup half (src/pipeline.py:53): ``drop_duplicates(keep='last')``.

    pandas keeps the positionally-last row; a distributed engine has no
    implicit order, so the caller supplies an explicit ingest-order column
    (SURVEY.md §7 "hard parts") and we keep the max-order row per key.
    """
    w = Window.partitionBy(*key).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def count_where(cond: Column, name: str) -> Column:
    """A3/P5 predicate counts (src/pipeline.py:56-57) as conditional sums that
    fold into one aggregation pass."""
    return F.count(F.when(cond, F.lit(1))).alias(name)


def pooled_zscore_outliers(
    df: DataFrame,
    threshold: float = 6.0,
) -> DataFrame:
    """A4 (src/pipeline.py:62-63): |(x - mean) / std| > threshold with the
    mean/std pooled across ALL keys (not per-key — the reference's subtle
    semantics) and ddof=1 sample std.

    Returns one row: ``n_outliers``, ``n_total``. Counts, not the z values,
    are emitted so cross-engine float-summation-order differences can't
    perturb a hash comparison.
    """
    stats = df.agg(F.avg("ret").alias("__mu"), F.stddev_samp("ret").alias("__sigma"))
    joined = df.join(F.broadcast(stats))  # scalar broadcast, no shuffle
    z = (F.col("ret") - F.col("__mu")) / F.col("__sigma")
    return joined.agg(
        count_where(F.abs(z) > threshold, "n_outliers"),
        F.count(F.col("ret")).alias("n_total"),
    )


def business_day_calendar(bounds: DataFrame, key: str) -> DataFrame:
    """F5 (src/pipeline.py:71): pd.bdate_range — Mon-Fri, deliberately no
    holiday calendar. One row per (key, business day in [min,max]])."""
    cal = bounds.select(
        key,
        F.explode(
            F.sequence(F.col("min_date"), F.col("max_date"), F.expr("interval 1 day"))
        ).alias("cal_date"),
    )
    # Spark dayofweek: 1=Sunday .. 7=Saturday
    return cal.filter(~F.dayofweek("cal_date").isin(1, 7))


def missing_business_days(df: DataFrame, key: str) -> DataFrame:
    """A5 (src/pipeline.py:66-74): per key, business days between that key's
    min and max observed date with no row. Keys with zero gaps are retained
    with count 0 (the reference emits an entry per ticker).

    Shape: groupBy bounds (tiny) → calendar explode → left_anti against
    observed dates → count. The calendar side is |keys|×|days| rows — small
    relative to the fact table at any scale, and never wider than the data's
    own date span.
    """
    # key renamed on the observed leg: cal and observed share lineage, and a
    # same-attribute `cal[key] == observed[key]` makes Spark construct (and
    # warn about) a trivially-true predicate before auto-disambiguating
    observed = df.select(
        F.col(key).alias("__k"), F.col("date").alias("obs_date")
    ).distinct()
    bounds = df.groupBy(key).agg(
        F.min("date").alias("min_date"), F.max("date").alias("max_date")
    )
    cal = business_day_calendar(bounds, key)
    missing = cal.join(
        observed,
        (F.col(key) == F.col("__k")) & (F.col("cal_date") == F.col("obs_date")),
        "left_anti",
    )
    gaps = missing.groupBy(key).agg(F.count(F.lit(1)).alias("missing_bdays"))
    return (
        bounds.select(key)
        .join(gaps, [key], "left")
        .select(key, F.coalesce("missing_bdays", F.lit(0)).cast("long").alias("missing_bdays"))
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: Sequence[str],
) -> DataFrame:
    """CDC-style snapshot diff: per-key status in {added, removed, changed,
    unchanged} from a full-outer join of two corpus snapshots on the key,
    comparing the ``fp`` content fingerprint column (md5 of the payload —
    compare WIDE content by a constant-width digest, never by the payload
    itself).

    Scale shape: both sides are pruned to (key, fp) before the
    join — the only wide thing ever shuffled is the digest — and the diff
    is ONE key-partitioned full-outer hash join, map-side prunable, no
    windows, no driver state. This is the incremental-ingest primitive: at
    100 TB you diff yesterday's manifest against today's and reprocess
    only 'added' + 'changed' keys instead of the corpus.

    PRECONDITION: the key must be UNIQUE within each
    snapshot — duplicate keys fan out through the full-outer join and
    yield one status row per matched (old, new) pair, silently inflating
    downstream rollups. Callers with non-unique keys must pre-aggregate
    to one fingerprint per key first (e.g. a canonical min/xor of the
    row digests); this operator deliberately does not, so a snapshot
    that is SUPPOSED to be keyed uniquely surfaces its duplication in
    the row counts instead of being papered over."""
    keys = list(key)
    o = old.select(*keys, F.col("fp").alias("__fp_old"))
    n = new.select(*keys, F.col("fp").alias("__fp_new"))
    status = (
        F.when(F.col("__fp_old").isNull(), F.lit("added"))
        .when(F.col("__fp_new").isNull(), F.lit("removed"))
        .when(F.col("__fp_old") == F.col("__fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, keys, "full_outer").select(
        *keys, status.alias("status")
    )
