"""Data-layout operators: Z-order (Morton) clustering for multi-dimensional
scan pruning — the lakehouse `OPTIMIZE ZORDER BY` capability.

A table range-partitioned and sorted by ONE column prunes scans only on
that column's predicates; a 2-D box predicate (user AND time window) still
touches every file. Interleaving the bits of both dimensions into one
Morton key makes each contiguous key range a tight 2-D box, so min/max
file/row-group statistics prune on BOTH dimensions at once. Everything is
integer bit arithmetic inside whole-stage codegen — no UDFs — and the key
is a pure row function, so the layout is deterministic and re-derivable.

Scale: `write_zordered` is one range exchange + per-partition sort (the
same cost as any sorted write); the payoff is every subsequent selective
scan. The bit budget bounds the grid: values are first rank-quantized by
the caller (or clamped) into [0, 2^bits).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def zorder_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton-interleave the low `bits` bits of two non-negative integral
    columns: result bit 2i is bit i of `a`, bit 2i+1 is bit i of `b`.
    2·bits ≤ 62 keeps everything in BIGINT — exact in any engine."""
    if bits * 2 > 62:
        raise ValueError("bits too large for a BIGINT Morton key")
    terms = []
    for i in range(bits):
        terms.append(
            (F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1)))
            * F.lit(1 << (2 * i)).cast("long")
        )
        terms.append(
            (F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1)))
            * F.lit(1 << (2 * i + 1)).cast("long")
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zorder_key_sql(bits: int = 16) -> str:
    """DuckDB twin of `zorder_key` — identical integer arithmetic."""
    terms = []
    for i in range(bits):
        terms.append(f"((ua >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"((di >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    a: Column,
    b: Column,
) -> None:
    """Materialize `df` clustered by the 12-bit Morton key of (a, b): one
    range exchange + per-partition sort, 16 output files whose min/max
    column statistics form tight 2-D boxes."""
    keyed = df.withColumn("__z", zorder_key(a, b, 12))
    (
        keyed.repartitionByRange(16, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
