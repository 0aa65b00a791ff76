"""Sink operators (SURVEY.md §2.2 K1-K9).

The reference writes row-at-a-time into SQLite with a per-row existence probe
(O(rows) round trips, /root/reference/src/database.py:198-221); every sink
here is a set-based bulk write:

- K1 overwrite → parquet ``partitionBy`` (partitioning replaces the b-tree
  index: partition pruning serves the same (ticker, date) access path);
- K2/K3 idempotent append → one left-anti join against existing keys, then
  append (first-request-wins);
- K4 upsert-by-key → in-batch dedup then K2;
- K6 ledger → append-only events; "current status" is a window view
  (series_stats.latest_per_key), replacing in-place UPDATE;
- K7 CSV export reproduces the reference's exact column order, including the
  duplicated ret/return pair (SURVEY.md §1.3);
- K8/K9 reports are driver-side JSON over collected aggregates.

At scale: K2/K3 appends are new unpartitioned parquet files (no
read-modify-write of data). The anti-join probe reads only the key columns
of existing data (column pruning) but every stored key: there is no
partition pruning, whatever date range the incoming batch covers.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from multi_source_financial_data_pipeline_spark.functions.ids import csv_export_name

#: K7 export column order — header of the reference's golden CSV
#: (/root/reference/outputs/prices_AAPL-MSFT_..._210058.csv:1). `Ticker` is
#: capitalized in flight, and both `ret` and `return` appear (SURVEY.md §1.3).
CSV_EXPORT_COLUMNS = [
    "date",
    "Ticker",
    "open",
    "high",
    "low",
    "close",
    "adj_close",
    "volume",
    "ret",
    "return",
    "ma20",
    "ma50",
    "vol20",
    "updated_at",
    "request_id",
    "export_timestamp",
]


def write_partitioned(
    df: DataFrame,
    path: str,
) -> None:
    """K1 (src/pipeline.py:93-97): full-replace write; partitioning ≈ the
    reference's (ticker, date) composite index."""
    df.write.mode("overwrite").partitionBy("ticker").parquet(path)


def append_first_request_wins(
    df: DataFrame, path: str, key: Sequence[str]
) -> int:
    """K2/K3 (src/database.py:178-260): append only rows whose key is not
    already present — one anti-join instead of O(rows) probes. Returns the
    number of rows saved (the reference's return value)."""
    spark = df.sparkSession
    if _exists(spark, path):
        existing_keys = spark.read.parquet(path).select(*key).distinct()
        to_save = df.join(existing_keys, list(key), "left_anti")
    else:
        to_save = df
    to_save = to_save.persist()
    saved = to_save.count()
    if saved:
        to_save.write.mode("append").parquet(path)
    to_save.unpersist()
    return saved


def upsert_by_key(df: DataFrame, path: str) -> int:
    """K4 (src/database.py:284-305): INSERT OR REPLACE — dedup the batch on
    column ``k`` (arbitrary-but-deterministic survivor via max) then
    first-request-wins against existing data."""
    deduped = df.dropDuplicates(["k"])
    return append_first_request_wins(deduped, path, ["k"])


def export_csv(
    df: DataFrame,
    out_dir: str,
    run_ts: datetime,
    tickers: list[str],
    start_date: str,
    end_date: str,
    request_id: str,
) -> str:
    """K7 (src/output_manager.py:27-67): timestamped single-file CSV with the
    reference's exact column order and lineage columns."""
    os.makedirs(out_dir, exist_ok=True)
    name = csv_export_name(run_ts, tickers, start_date, end_date)
    target = os.path.join(out_dir, name)
    out = (
        df.withColumn("request_id", F.lit(request_id))
        .withColumn("export_timestamp", F.lit(run_ts.isoformat()))
        .select(*CSV_EXPORT_COLUMNS)
        .orderBy("Ticker", "date")
    )
    # single file per request, like the reference; fine because one request's
    # export is small — bulk data lives in parquet (K1/K2)
    tmp = target + ".tmp"
    out.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    part = next(p for p in os.listdir(tmp) if p.startswith("part-"))
    os.replace(os.path.join(tmp, part), target)
    for leftover in os.listdir(tmp):
        os.remove(os.path.join(tmp, leftover))
    os.rmdir(tmp)
    return target


def write_json_report(report: dict[str, Any], path: str) -> str:
    """K8/K9/K10 (src/output_manager.py:70-133, :255-283,
    src/validation.py:464-488): nested dict → JSON file, driver-side."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(report, f, indent=2, default=str)
    return path


def append_ledger(df: DataFrame, path: str) -> None:
    """K6 (src/database.py:139-175): append-only status events."""
    df.write.mode("append").parquet(path)


def list_outputs(out_dir: str) -> dict[str, Any]:
    """S8 (src/output_manager.py:286-302): glob the output dir for
    ``prices_*.csv``, return count and latest file by mtime.
    Plain-filesystem utility, not a data operator."""
    import glob as _glob

    files = _glob.glob(os.path.join(out_dir, "prices_*.csv"))
    latest = max(files, key=os.path.getmtime) if files else None
    return {"count": len(files), "files": sorted(files), "latest": latest}


def _exists(spark: SparkSession, path: str) -> bool:
    # local + hadoop-fs friendly existence probe
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jsc.hadoopConfiguration())
    return fs.exists(jvm.org.apache.hadoop.fs.Path(path))
