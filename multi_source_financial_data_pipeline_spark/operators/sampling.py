"""Deterministic stratified sampling for training-data mixtures.

A corpus mixture ("keep all of stratum A, a quarter of stratum B") must be
reproducible across runs, engines, and re-partitionings — `df.sample()` is
none of those (seeded per-partition, so any repartition changes the kept
set). The standard fix: a uniform hash of the ROW KEY thresholded against
the stratum's rate. Keep/drop is then a pure function of (key, rates) —
stable under shuffles, cluster size, and engine — and the same row set can
be re-derived at any time from the rates alone, which also makes the sample
auditable (DuckDB oracle reproduces it bit-for-bit).

Scale: one projection + filter, no shuffle, no state; the md5 is the same
per-row cost the dedup fingerprint already pays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: 2^32 — the md5-prefix hash below is uniform on [0, 2^32)
_HASH_SPACE = float(1 << 32)


def hash_uniform(key: Column) -> Column:
    """Uniform double in [0, 1) from the first 8 hex chars of md5(key) —
    the same 32-bit md5-prefix construction the MinHash operators use
    (`operators/dedup.py`), so the oracle mirrors it with the identical
    ('0x' || substr(md5(x), 1, 8))::BIGINT idiom."""
    h32 = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("bigint")
    return h32 / F.lit(_HASH_SPACE)


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
) -> DataFrame:
    """Keep each row iff hash_uniform(doc_id) < rate(lang). Expected kept
    fraction per language equals its rate; the decision is row-local and
    deterministic. Unlisted languages get rate 0.0 (dropped, the safe
    default for an explicit mixture spec)."""
    u = hash_uniform(F.col("doc_id"))
    rate = F.lit(0.0)
    for value, r in sorted(rates.items()):
        rate = F.when(F.col("lang") == value, F.lit(float(r))).otherwise(rate)
    return df.filter(u < rate)


def sample_rate_sql(rates: dict[str, float]) -> str:
    """The DuckDB mirror of the rate ladder. Built from the same dict so the
    Spark plan and the oracle can never drift apart."""
    clauses = "".join(
        f" WHEN lang = '{v}' THEN {float(r)!r}"
        for v, r in sorted(rates.items(), reverse=True)
    )
    return f"CASE{clauses} ELSE 0.0 END"
