"""``session.local_frame``: driver-side rows as a JVM local relation."""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import Row, functions as F

from multi_source_financial_data_pipeline_spark.schemas import REQUEST_LEDGER
from multi_source_financial_data_pipeline_spark.session import local_frame

_TS = dt.datetime(2024, 1, 1, 12, 0)

#: the row and schema shapes the package builds frames from
SHAPES = {
    "ledger_dict": (
        [{
            "request_id": "r1", "request_timestamp": _TS, "tickers": "AAPL",
            "start_date": dt.date(2024, 1, 1), "end_date": dt.date(2024, 3, 29),
            "status": "started", "total_records_fetched": None,
            "macro_records_fetched": None, "validation_performed": None,
            "error_count": 0,
        }],
        REQUEST_LEDGER,
    ),
    "tuples_ddl": (
        [(_TS, dt.date(2024, 1, 2), None, True, [1.0, -2.5]),
         (None, None, 7, False, [])],
        "ts timestamp, d date, n bigint, b boolean, v array<double>",
    ),
    "rows": (
        [Row(s=0, cell=1, cv=[0.25, 0.5]), Row(s=1, cell=0, cv=[1e-300, 3.0])],
        "s int, cell int, cv array<double>",
    ),
    "empty": ([], "step int, lhs string, rhs string, merged string, pair_count long"),
}


@pytest.mark.parametrize("shape", list(SHAPES))
def test_local_frame_equals_list_frame_without_python_scan(spark, shape):
    rows, schema = SHAPES[shape]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    if len(rows) == 1:
        assert got.rdd.getNumPartitions() == 1


def test_local_frame_reads_naive_timestamps_as_local_time(spark, monkeypatch):
    """A naive datetime names the same instant as in the list form, which
    reads it in the driver's local time zone, whatever that zone is."""
    rows, schema = [(_TS,), (dt.datetime(2024, 7, 1, 0, 30),)], "ts timestamp"
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        micros = [F.unix_micros("ts").alias("us")]
        got = local_frame(spark, rows, schema).select(micros).collect()
        want = spark.createDataFrame(rows, schema).select(micros).collect()
    finally:
        monkeypatch.undo()
        time.tzset()
    assert got == want
    assert got[0]["us"] == int(
        dt.datetime(2024, 1, 1, 17, 0, tzinfo=dt.timezone.utc).timestamp() * 1e6
    )
