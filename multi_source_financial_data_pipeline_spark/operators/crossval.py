"""Multi-source cross-validation operators (SURVEY.md §2.4 J1-J3, §2.7 F1-F2,
§2.3 P3-P4, P7).

Reference: ``compare_sources`` at /root/reference/src/validation.py:188-277 —
project each source to (key, close), inner-join, numeric-coerce, drop null
pairs, absolute percent difference, strict-> tolerance filter, resolve to the
primary source; plus the left-join flag merge-back at
/root/reference/src/pipeline.py:174-181 and the first-request-wins anti-join
hiding inside src/database.py:192-207.

The reference runs this per ticker in a Python loop (src/validation.py:409);
here it is one join over all keys at once. At scale: both sides shuffle on the
join key, or broadcast the smaller source; the flag merge-back broadcasts the
(small) discrepancy set.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def compare_sources(
    primary: DataFrame,
    secondary: DataFrame,
    on: Sequence[str],
    tolerance_pct: float = 0.5,
) -> DataFrame:
    """J1 + F1 + P3/P4 + F2: returns the discrepancy rows (strictly above
    tolerance), with resolved_close/resolved_as columns — the primary source
    always wins (src/validation.py:259-264)."""
    joined = primary.join(secondary, list(on), "inner").na.drop(
        subset=["yahoo_close", "alpha_close"]
    )
    price_diff = F.col("yahoo_close") - F.col("alpha_close")
    # nullif divisor: a zero primary price yields null diff (excluded by the
    # strict > filter) — ANSI-safe and identical in Spark and DuckDB
    diff_pct = F.abs(price_diff / F.nullif(F.col("yahoo_close"), F.lit(0.0)) * 100)
    return (
        joined.withColumn("price_diff", price_diff)
        .withColumn("diff_pct", diff_pct)
        .filter(F.col("diff_pct") > F.lit(tolerance_pct))  # strict >, :247
        .withColumn("resolved_close", F.col("yahoo_close"))
        .withColumn("resolved_as", F.lit("Yahoo"))
    )


def merge_discrepancy_flags(
    base: DataFrame, discrepancies: DataFrame, on: Sequence[str]
) -> DataFrame:
    """J2 + P7 (src/pipeline.py:174-181): left-join a discrepancy_flag and
    fill false. The discrepancy side is usually a small filtered set, but it
    is corpus-scale exactly when a source goes systematically bad — the very
    case cross-validation exists to catch — so it carries NO broadcast hint:
    AQE broadcasts it while small and shuffles when it is not (a hinted
    broadcast cannot be demoted and would OOM on the bad-source day)."""
    flags = discrepancies.select(*on).distinct().withColumn(
        "discrepancy_flag", F.lit(True)
    )
    return base.join(flags, list(on), "left").withColumn(
        "discrepancy_flag", F.coalesce(F.col("discrepancy_flag"), F.lit(False))
    )


def first_request_wins(
    incoming: DataFrame, existing: DataFrame, key: Sequence[str]
) -> DataFrame:
    """K2/J3 (src/database.py:178-227): keep incoming rows whose key does not
    already exist from an earlier request — set-based left-anti join replacing
    the reference's O(rows) per-row SELECT probe. Dedup is against *existing*
    data only, not within-batch (src/database.py:194)."""
    return incoming.join(existing.select(*key).distinct(), list(key), "left_anti")
