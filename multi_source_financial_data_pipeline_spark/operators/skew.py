"""Skew mitigation: salted two-phase aggregation and co-located (bucketed)
join helpers.

A groupBy on a low-cardinality or Zipf-skewed key funnels each hot key
through one reducer. Salting splits every key across ``num_salts`` reducers
first (phase 1 shuffles on (key, salt) — uniform by construction), then
merges the per-salt partials (phase 2 shuffles the tiny partial table on the
key alone). Only decomposable aggregates are offered — for those the result
is identical to the direct groupBy (sums ride on decimals where exactness
matters), so the same oracle SQL checks both.

AQE's skew-join handling (spark.sql.adaptive.skewJoin) covers *join* skew at
runtime; salting is the static answer for *aggregation* skew, which AQE does
not rebalance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: partial-phase expression, merge-phase function
_DECOMPOSABLE = {
    "count": (lambda c: F.count(c), F.sum),
    "sum": (lambda c: F.sum(c), F.sum),
    "min": (lambda c: F.min(c), F.min),
    "max": (lambda c: F.max(c), F.max),
}


def salted_agg(
    df: DataFrame,
    aggs: dict[str, tuple[str, Column]],
    num_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe groupBy. ``aggs`` maps output column name →
    (fn, input column) with fn in {count, sum, min, max}. The salt is a
    deterministic hash of the whole row — any uniform-ish value works, since
    the salt never reaches the result."""
    for name, (fn, _) in aggs.items():
        if fn not in _DECOMPOSABLE:
            raise ValueError(f"{name}: '{fn}' is not decomposable over salts")
    salt = F.pmod(F.xxhash64(*df.columns), F.lit(num_salts))
    partial = df.groupBy("event_type", salt.alias("__salt")).agg(
        *[
            _DECOMPOSABLE[fn][0](col).alias(f"__p_{name}")
            for name, (fn, col) in aggs.items()
        ]
    )
    return partial.groupBy("event_type").agg(
        *[
            _DECOMPOSABLE[fn][1](F.col(f"__p_{name}")).alias(name)
            for name, (fn, _) in aggs.items()
        ]
    )


def skew_split_join(
    left: DataFrame,
    right: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Hot/cold split join on column ``k`` for Zipf-skewed join keys: keys
    whose LEFT-side row count exceeds 500 take the broadcast path (their
    right-side rows are broadcast, so the hot keys' rows never converge on
    single reducers), everything else takes the normal shuffle join; the
    union is result-identical to the direct join.

    Requires the right side's hot-key slice to be broadcastable — true in
    the common fact⋈dim case where skew lives in the fact's foreign key.
    The hot-key set itself is found with one aggregate over the join
    columns only (map-side combined, output ≤ #distinct keys; at extreme
    scale swap in a sampled count — the split stays correct for ANY hot
    set, detection accuracy only affects performance). AQE's skew-join
    covers sort-merge spills at runtime; this static rewrite additionally
    keeps the hot keys off the sort path entirely."""
    if how not in ("inner", "left"):
        raise ValueError(f"skew_split_join supports inner/left, got {how!r}")
    hot_keys = (
        left.groupBy("k")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 500)
        .select("k")
    )
    left_hot = left.join(F.broadcast(hot_keys), ["k"], "left_semi")
    left_cold = left.join(F.broadcast(hot_keys), ["k"], "left_anti")
    right_hot = right.join(F.broadcast(hot_keys), ["k"], "left_semi")
    joined_hot = left_hot.join(F.broadcast(right_hot), ["k"], how)
    joined_cold = left_cold.join(right, ["k"], how)
    return joined_hot.unionByName(joined_cold)
