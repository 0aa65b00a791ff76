"""Scan-layer robustness against testdata timestamp type drift.

The driver's parquet has stamped event times three different ways across
rounds: TIMESTAMP(NANOS) (Spark reads as bigint under nanosAsLong), naive
timestamp[us] (Spark 4 reads as TIMESTAMP_NTZ), and plain TIMESTAMP. Each
drift silently or loudly broke the event-time suite. These tests pin that
``load_table`` normalizes every layout to TIMESTAMP with epoch micros equal
to pyarrow's own values, so the next drift fails here at sf-tiny instead of
in the driver's correctness gate.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from multi_source_financial_data_pipeline_spark.sources import load_table

# three epoch-microsecond instants spanning a DST boundary in most zones —
# if the NTZ cast were applied under a non-UTC session tz, these would shift
_EPOCH_US = [1_600_000_000_000_000, 1_667_091_600_123_456, 1_700_000_000_999_999]


def _write_events(tmp_path, ts_arrow_type) -> str:
    n = len(_EPOCH_US)
    scale = 1000 if ts_arrow_type.unit == "ns" else 1
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([v * scale for v in _EPOCH_US], pa.int64()).cast(
                ts_arrow_type
            ),
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["view"] * n),
            "value": pa.array([1.5] * n, pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(table, os.path.join(str(tmp_path), "events.parquet"))
    return str(tmp_path)


@pytest.mark.parametrize(
    "ts_type",
    [
        pa.timestamp("us"),          # naive micros -> Spark TIMESTAMP_NTZ
        pa.timestamp("us", "UTC"),   # tz-aware micros -> Spark TIMESTAMP
        pa.timestamp("ns"),          # nanos -> Spark bigint under nanosAsLong
    ],
    ids=["naive_us", "utc_us", "naive_ns"],
)
def test_load_table_normalizes_timestamp_layouts(spark, tmp_path, ts_type):
    sf_dir = _write_events(tmp_path, ts_type)
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [
        r.us
        for r in df.select(F.unix_micros("ts").alias("us"))
        .orderBy("us")
        .collect()
    ]
    assert got == sorted(_EPOCH_US)


def test_driver_testdata_ts_is_timestamp(spark, sf_dir):
    """Whatever the current driver stamping is, the scan must yield TIMESTAMP
    (not NTZ, not bigint) for every declared TimestampType column."""
    for name in ("events", "orders", "lineitem"):
        df = load_table(spark, sf_dir, name)
        for col, dtype in df.dtypes:
            assert dtype != "timestamp_ntz", f"{name}.{col} leaked NTZ"


def test_load_table_reads_each_footer_once(spark, tmp_path):
    """A second scan of an unchanged file runs no Spark job (its footer
    schema is memoized per file version), and a file rewritten with another
    timestamp layout is read back with its new footer."""
    sc = spark.sparkContext
    sf_dir = _write_events(tmp_path, pa.timestamp("ns"))
    load_table(spark, sf_dir, "events")
    sc.setJobGroup("test_footer_once", "second load_table")
    try:
        load_table(spark, sf_dir, "events")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("test_footer_once")) == []

    path = os.path.join(sf_dir, "events.parquet")
    before = os.stat(path).st_mtime_ns
    _write_events(tmp_path, pa.timestamp("us"))
    # a later write: the file's mtime moves on even where the clock is coarse
    os.utime(path, ns=(before, before + 1_000_000_000))
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(r.us for r in df.select(F.unix_micros("ts").alias("us")).collect())
    assert got == sorted(_EPOCH_US)
