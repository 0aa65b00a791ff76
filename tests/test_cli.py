"""CLI entry point: reference-equivalent arguments, connector-fed run."""

from __future__ import annotations

import json
import os

from multi_source_financial_data_pipeline_spark.cli import main


def test_cli_end_to_end(spark, tmp_path):
    out, db = str(tmp_path / "out"), str(tmp_path / "db")
    rc = main(
        [
            "--tickers", "AAPL", "MSFT",
            "--start", "2024-01-01",
            "--end", "2024-01-31",
            "--tolerance", "0.5",
            "--out-dir", out,
            "--db-dir", db,
        ]
    )
    assert rc == 0
    csvs = [f for f in os.listdir(out) if f.startswith("prices_") and f.endswith(".csv")]
    reports = [f for f in os.listdir(out) if f.startswith("validation_report_")]
    assert len(csvs) == 1 and len(reports) == 1
    report = json.load(open(os.path.join(out, reports[0])))
    assert report["ticker_validation"]["cross_validation"]["performed"] is True
    assert report["macro_validation"]["performed"] is True
    assert os.path.isdir(os.path.join(db, "market_data"))
    assert os.path.isdir(os.path.join(db, "request_log"))

    from multi_source_financial_data_pipeline_spark.sources.sinks import list_outputs

    listing = list_outputs(out)
    assert listing["count"] == 1
    assert listing["latest"].endswith(csvs[0])


def test_pipeline_degrades_gracefully_on_source_failure(spark, tmp_path):
    """§2.11: cross-validation and macro failures must not abort the run
    (src/pipeline.py:161-216) — the report records them as not performed."""
    from multi_source_financial_data_pipeline_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    def boom(_spark):
        raise RuntimeError("secondary source down")

    cfg = PipelineConfig(
        tickers=["AAPL"],
        start_date="2023-01-02",
        end_date="2023-02-28",
        out_dir=str(tmp_path / "out"),
        db_dir=str(tmp_path / "db"),
    )
    def persisted_ids() -> set[int]:
        return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}

    # ids only grow: the run's persists are the ids above this floor, which
    # an earlier test's asynchronous unpersist cannot move
    floor = max(persisted_ids(), default=-1)
    result = run_pipeline(spark, cfg, alt_source=boom, macro_source=boom)
    # the degraded run releases what it persisted, like a complete one
    assert {i for i in persisted_ids() if i > floor} == set()
    report = result.validation_report
    assert report["ticker_validation"]["cross_validation"]["performed"] is False
    assert report["macro_validation"]["performed"] is False
    assert result.saved_market_rows > 0  # the core path still completed
    # flags default to false when cross-validation is unavailable
    assert result.market_features.filter("discrepancy_flag").count() == 0


def test_upsert_by_key_replaces_within_batch(spark, tmp_path):
    from multi_source_financial_data_pipeline_spark.sources.sinks import upsert_by_key

    path = str(tmp_path / "upsert")
    first = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k int, v string")
    saved = upsert_by_key(first, path)
    assert saved == 2  # batch deduped on key before write
    again = spark.createDataFrame([(2, "zzz"), (3, "d")], "k int, v string")
    saved = upsert_by_key(again, path)
    assert saved == 1  # existing key 2 not rewritten (first write wins)
    assert spark.read.parquet(path).count() == 3


def test_get_spark_defaults_to_usable_cores(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` the session runs one task slot and one
    shuffle partition per core this process may use. The builder's conf is
    captured in place of ``getOrCreate``, so no second session starts."""
    import os

    from pyspark.sql import SparkSession

    from multi_source_financial_data_pipeline_spark.session import get_spark

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    conf = get_spark("msfdp-cli")
    cores = len(os.sched_getaffinity(0))
    assert conf["spark.master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cores)
