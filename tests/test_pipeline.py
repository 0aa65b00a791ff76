"""End-to-end pipeline test: run the full lifecycle against the deterministic
synthetic sources and assert the reference's golden output shapes
(FIXTURES.md F5): CSV header order (incl. the ret/return duplicate), the
validation-report key tree and values, idempotent re-run behavior, the ledger
latest-status view, and the release of every frame a run persists."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from multi_source_financial_data_pipeline_spark.operators.series_stats import (
    ledger_current_status,
)
from multi_source_financial_data_pipeline_spark.pipeline import (
    PipelineConfig,
    run_pipeline,
)
from multi_source_financial_data_pipeline_spark.sources import synthetic
from multi_source_financial_data_pipeline_spark.sources.sinks import CSV_EXPORT_COLUMNS

GOLDEN_CSV_HEADER = (
    "date,Ticker,open,high,low,close,adj_close,volume,ret,return,"
    "ma20,ma50,vol20,updated_at,request_id,export_timestamp"
)

GOLDEN_REPORT_KEYS = {
    "report_metadata",
    "request_details",
    "ticker_validation",
    "macro_validation",
    "quality_assessment",
    "recommendations",
}


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("pipeline")
    cfg = PipelineConfig(
        tickers=["AAPL", "MSFT"],
        start_date="2023-01-02",
        end_date="2023-04-28",
        out_dir=str(base / "outputs"),
        db_dir=str(base / "data"),
    )
    return cfg, run_pipeline(spark, cfg)


def test_csv_golden_header(result):
    _, res = result
    with open(res.csv_path) as f:
        header = f.readline().strip()
    assert header == GOLDEN_CSV_HEADER
    assert CSV_EXPORT_COLUMNS == GOLDEN_CSV_HEADER.split(",")


def test_report_key_tree(result):
    _, res = result
    with open(res.report_path) as f:
        report = json.load(f)
    assert GOLDEN_REPORT_KEYS <= set(report)
    assert {"basic_checks", "cross_validation"} <= set(report["ticker_validation"])
    qa = report["quality_assessment"]
    assert {"basic_quality_score", "cross_validation_reliability", "overall_score"} <= set(qa)
    # reliability wiring is fixed (reference's dead branch, SURVEY.md §4):
    # cross-validation ran, so reliability must be numeric, not "N/A"
    assert qa["cross_validation_reliability"] != "N/A"
    # planted discrepancies (synthetic altsource) must be detected
    assert report["ticker_validation"]["cross_validation"]["discrepancies"] > 0


def test_ret_return_duplicate_columns(result):
    _, res = result
    df = res.market_features
    both = df.select(
        F.count(F.when(F.col("ret") != F.col("return"), 1)).alias("diff")
    ).collect()[0]
    assert both["diff"] == 0  # identical values, both exported (SURVEY §1.3)


def test_idempotent_rerun_first_request_wins(spark, result):
    cfg, res = result
    assert res.saved_market_rows > 0
    # re-run same window as a new request: every (ticker, date) already
    # exists from the first request -> first-request-wins saves 0 rows
    from datetime import datetime

    rerun = run_pipeline(spark, cfg, run_ts=datetime(2024, 1, 2, 12, 0, 0))
    assert rerun.saved_market_rows == 0

    ledger = spark.read.parquet(os.path.join(cfg.db_dir, "request_log"))
    latest = ledger_current_status(ledger)
    statuses = {r["status"] for r in latest.collect()}
    assert statuses == {"completed"}
    assert latest.count() == 2  # two distinct requests ran


def test_execution_log_counts(result):
    _, res = result
    with open(res.log_path) as f:
        log = json.load(f)
    assert log["execution_summary"]["total_market_records"] == res.saved_market_rows
    assert log["execution_summary"]["validation_performed"] is True


def _at(ticker: str, day: str):
    return (F.col("ticker") == ticker) & (F.col("date") == F.lit(day).cast("date"))


def _defective_market(spark):
    """The synthetic primary feed with every defect validate() counts: two
    nulls, three keys delivered twice (the re-delivery has a later
    ingest_seq and a different close), a negative close, a negative volume,
    a 10x close spike and two missing AAPL business days."""
    df = synthetic.market_ohlcv(spark, ("AAPL", "MSFT"))
    df = (
        df.filter(~_at("AAPL", "2023-01-16") & ~_at("AAPL", "2023-01-17"))
        .withColumn(
            "volume",
            F.when(_at("AAPL", "2023-01-10"), None)
            .when(_at("AAPL", "2023-03-15"), -F.col("volume"))
            .otherwise(F.col("volume")),
        )
        .withColumn(
            "open", F.when(_at("MSFT", "2023-02-01"), None).otherwise(F.col("open"))
        )
        .withColumn(
            "close",
            F.when(_at("MSFT", "2023-03-01"), -F.col("close"))
            .when(_at("AAPL", "2023-02-15"), F.col("close") * 10)
            .otherwise(F.col("close")),
        )
    )
    redelivered = (
        df.filter(
            (F.col("ticker") == "MSFT")
            & F.col("date").between("2023-04-03", "2023-04-05")
        )
        .withColumn("ingest_seq", F.col("ingest_seq") + 1_000_000)
        .withColumn("close", F.col("close") + 1.0)
    )
    return df.unionByName(redelivered)


def _macro_with_gap(spark):
    """Two synthetic macro series, six months each, one DGS10 value null."""
    m = synthetic.macro_series(spark, ("UNRATE", "DGS10"), n_periods=6)
    return m.withColumn(
        "value",
        F.when(
            (F.col("series_id") == "DGS10")
            & (F.col("date") == F.lit("2023-03-01").cast("date")),
            None,
        ).otherwise(F.col("value")),
    )


def _defect_config(base) -> PipelineConfig:
    return PipelineConfig(
        tickers=["AAPL", "MSFT"],
        start_date="2023-01-02",
        end_date="2023-04-28",
        out_dir=str(base / "outputs"),
        db_dir=str(base / "data"),
    )


def _persisted_ids(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_report_values_pinned(spark, tmp_path):
    """Every value of ticker_validation and macro_validation for one fixed
    request with planted defects, as the written JSON report carries them.
    The literals were computed by the lazy pipeline that re-read its sources
    on every action, so they hold the fetch-once pipeline to the same
    numbers. Macro series are listed in the order the feed delivers them
    (UNRATE first: the synthetic feed interleaves the two series)."""
    res = run_pipeline(
        spark,
        _defect_config(tmp_path),
        market_source=_defective_market,
        macro_source=_macro_with_gap,
    )
    with open(res.report_path) as f:
        report = json.load(f)
    assert report["ticker_validation"] == {
        "basic_checks": {
            "null_counts": {
                "open": 1, "high": 0, "low": 0, "close": 0,
                "adj_close": 0, "volume": 1,
            },
            "duplicate_rows": 6,
            "negative_close": 1,
            "negative_volume": 1,
            "extreme_moves": 1,
            "missing_business_days": {"AAPL": 2, "MSFT": 0},
        },
        "cross_validation": {
            "performed": True,
            "comparisons": 168,
            "discrepancies": 10,
            "tolerance_pct": 0.5,
        },
    }
    assert report["macro_validation"] == {
        "performed": True,
        "total_records": 12,
        "unique_series": 2,
        "series": [
            {
                "series_id": "UNRATE", "record_count": 6, "null_values": 0,
                "min_value": 1.016161, "max_value": 3.738754,
                "first_date": "2023-01-01", "last_date": "2023-06-01",
            },
            {
                "series_id": "DGS10", "record_count": 6, "null_values": 1,
                "min_value": 3.859332, "max_value": 5.699532,
                "first_date": "2023-01-01", "last_date": "2023-06-01",
            },
        ],
    }
    assert (res.saved_market_rows, res.saved_macro_rows) == (168, 12)


def test_run_releases_persists_on_success_and_failure(spark, tmp_path):
    """run_pipeline persists each source and the feature frame; its finally
    block must release all of them whether the request completes or
    raises. The failing request's out_dir is a regular file, so the CSV
    export raises after the market append: the ledger must record 'failed'
    and the error must reach the caller. RDD ids only grow, so the
    request's persists are the ids above the largest one persisted before
    it; counting all of them would let an earlier test's frame, released
    asynchronously by the ContextCleaner meanwhile, move the comparison."""
    floor = max(_persisted_ids(spark), default=-1)

    def persisted_by_request() -> set[int]:
        return {i for i in _persisted_ids(spark) if i > floor}

    ok = run_pipeline(
        spark,
        _defect_config(tmp_path / "ok"),
        market_source=_defective_market,
        macro_source=_macro_with_gap,
    )
    assert ok.saved_market_rows > 0
    assert persisted_by_request() == set()

    cfg = _defect_config(tmp_path / "bad")
    os.makedirs(os.path.dirname(cfg.out_dir))
    with open(cfg.out_dir, "w") as f:
        f.write("not a directory")
    with pytest.raises(FileExistsError):
        run_pipeline(
            spark, cfg, market_source=_defective_market, macro_source=_macro_with_gap
        )
    assert persisted_by_request() == set()

    ledger = spark.read.parquet(os.path.join(cfg.db_dir, "request_log"))
    assert sorted(r["status"] for r in ledger.collect()) == ["failed", "started"]
    latest = ledger_current_status(ledger).collect()
    assert [r["status"] for r in latest] == ["failed"]


def test_ledger_event_is_one_local_row_and_one_file(spark, tmp_path):
    """Each ledger event is written from a one-row local relation: one
    parquet file per event, and the two rows of a cli request carry the
    same ten values as when they were written through a Python RDD."""
    import datetime as dt
    import glob

    from multi_source_financial_data_pipeline_spark.cli import main

    db = str(tmp_path / "db")
    main(
        [
            "--tickers", "AAPL", "MSFT",
            "--start", "2024-01-01", "--end", "2024-03-29",
            "--out-dir", str(tmp_path / "out"), "--db-dir", db,
        ]
    )
    ledger = os.path.join(db, "request_log")
    assert len(glob.glob(os.path.join(ledger, "*.parquet"))) == 2
    rid = "20240101_120000_AAPL_MSFT_20240101_20240329"
    common = (
        rid, dt.datetime(2024, 1, 1, 12, 0), "AAPL,MSFT",
        dt.date(2024, 1, 1), dt.date(2024, 3, 29),
    )
    rows = spark.read.parquet(ledger).orderBy("status").collect()
    assert [tuple(r) for r in rows] == [
        (*common, "completed", 130, 66, True, 0),
        (*common, "started", None, None, None, 0),
    ]
