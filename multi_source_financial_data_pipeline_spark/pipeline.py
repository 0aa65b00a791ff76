"""End-to-end pipeline orchestration (SURVEY.md §3, entry point 1).

Mirrors the reference lifecycle (src/pipeline.py:109-311):
register request → extract → validate → transform → cross-validate → macro →
load → report. The reference fetches each ticker once and runs every check
on that one in-memory frame; here each source (primary feed, secondary feed,
macro series) is read once into a persisted frame, and the feature frame is
persisted right after ``transform``, before cross-validation. Every report
aggregation and sink reads those copies, so one request never re-runs a
connector and its report and stored rows describe the same fetch. Everything
persisted is released in ``finally``. The ledger, quality scoring, and report
assembly run in plain Python over a handful of collected scalars.

Determinism: one injected ``run_ts`` replaces the reference's several
``datetime.now()`` stamps (SURVEY.md §2.7 F6).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from multi_source_financial_data_pipeline_spark.functions import quality
from multi_source_financial_data_pipeline_spark.functions.ids import request_id as make_request_id
from multi_source_financial_data_pipeline_spark.functions.resilience import ErrorTracker
from multi_source_financial_data_pipeline_spark.operators import crossval, series_stats, validation
from multi_source_financial_data_pipeline_spark.operators.timeseries import (
    pct_change,
    rolling_mean,
    rolling_std,
)
from multi_source_financial_data_pipeline_spark.schemas import REQUEST_LEDGER
from multi_source_financial_data_pipeline_spark.session import local_frame
from multi_source_financial_data_pipeline_spark.sources import sinks, synthetic


@dataclass
class PipelineConfig:
    tickers: list[str] = field(default_factory=lambda: list(synthetic.TICKERS))
    start_date: str = "2023-01-02"
    end_date: str = "2023-06-30"
    tolerance_pct: float = 0.5  # CLI --tolerance default, src/pipeline.py:125
    out_dir: str = "outputs"
    db_dir: str = "data"
    with_cross_validation: bool = True
    with_macro: bool = True


@dataclass
class PipelineResult:
    request_id: str
    market_features: DataFrame
    validation_report: dict[str, Any]
    saved_market_rows: int
    saved_macro_rows: int
    csv_path: str | None
    report_path: str | None
    log_path: str | None


def validate(df: DataFrame) -> tuple[DataFrame, dict[str, Any]]:
    """validate() parity (src/pipeline.py:44-76): null counts, dup count +
    keep-last dedup, negative counts, pooled z-score extremes, missing
    business days — each a distributed aggregation, collected into the same
    report-dict shape."""
    cols = ["open", "high", "low", "close", "adj_close", "volume"]
    nulls = validation.null_counts(df, cols).collect()[0].asDict()
    dup = validation.duplicate_stats(df, ["ticker", "date"]).collect()[0]
    clean = validation.dedup_keep_last(df, ["ticker", "date"], "ingest_seq")

    neg = clean.agg(
        validation.count_where(F.col("close") <= 0, "negative_close"),
        validation.count_where(F.col("volume") < 0, "negative_volume"),
    ).collect()[0]

    w = Window.partitionBy("ticker").orderBy("date")
    with_ret = clean.withColumn("ret", pct_change(F.col("close"), w))
    extremes = validation.pooled_zscore_outliers(with_ret, threshold=6.0).collect()[0]

    missing = {
        r["ticker"]: r["missing_bdays"]
        for r in validation.missing_business_days(clean, "ticker").collect()
    }

    report = {
        "null_counts": {k.removeprefix("nulls_"): v for k, v in nulls.items()},
        "duplicate_rows": dup["dup_rows"],
        "negative_close": neg["negative_close"],
        "negative_volume": neg["negative_volume"],
        "extreme_moves": extremes["n_outliers"],
        "missing_business_days": missing,
    }
    return with_ret, report


def transform(df: DataFrame, run_ts: datetime) -> DataFrame:
    """transform() parity (src/pipeline.py:78-91): daily return + ma20/ma50 +
    vol20 per ticker ordered by date, with the ret/return duplicate the
    reference carries (SURVEY.md §1.3), and an injected updated_at."""
    w = Window.partitionBy("ticker").orderBy("date")
    w20 = w.rowsBetween(-19, 0)
    w50 = w.rowsBetween(-49, 0)
    out = (
        df.withColumn("return", pct_change(F.col("close"), w))
        .withColumn("ma20", rolling_mean(F.col("close"), w20, 20))
        .withColumn("ma50", rolling_mean(F.col("close"), w50, 50))
        .withColumn("vol20", rolling_std(F.col("return"), w20, 20))
        .withColumn("updated_at", F.lit(run_ts.isoformat()))
    )
    return out


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig | None = None,
    run_ts: datetime | None = None,
    market_source: Callable[[SparkSession], DataFrame] | None = None,
    alt_source: Callable[[SparkSession], DataFrame] | None = None,
    macro_source: Callable[[SparkSession], DataFrame] | None = None,
) -> PipelineResult:
    cfg = config or PipelineConfig()
    run_ts = run_ts or datetime(2024, 1, 1, 12, 0, 0)
    tracker = ErrorTracker()
    req_id = make_request_id(run_ts, cfg.tickers, cfg.start_date, cfg.end_date)
    ledger_path = os.path.join(cfg.db_dir, "request_log")

    def ledger_event(status: str, **metrics: Any) -> None:
        row = {
            "request_id": req_id,
            "request_timestamp": run_ts,
            "tickers": ",".join(sorted(cfg.tickers)),
            "start_date": datetime.strptime(cfg.start_date, "%Y-%m-%d").date(),
            "end_date": datetime.strptime(cfg.end_date, "%Y-%m-%d").date(),
            "status": status,
            "total_records_fetched": metrics.get("total_records_fetched"),
            "macro_records_fetched": metrics.get("macro_records_fetched"),
            "validation_performed": metrics.get("validation_performed"),
            "error_count": metrics.get("error_count", 0),
        }
        sinks.append_ledger(local_frame(spark, [row], REQUEST_LEDGER), ledger_path)

    ledger_event("started")
    cached: list[DataFrame] = []  # persisted frames, released in finally
    try:
        # --- extract (S1) + inclusive date-range filter (P2) ---------------
        raw = (
            market_source(spark)
            if market_source
            else synthetic.market_ohlcv(spark, tuple(cfg.tickers))
        )
        raw = raw.filter(
            F.col("date").between(F.lit(cfg.start_date), F.lit(cfg.end_date))
        ).persist()
        cached.append(raw)

        # --- validate + transform ------------------------------------------
        validated, basic_report = validate(raw)
        features = transform(validated, run_ts).persist()
        cached.append(features)

        # --- cross-validate (optional, graceful) ---------------------------
        cross_report: dict[str, Any] = {"performed": False}
        if cfg.with_cross_validation:
            try:
                alt = (
                    alt_source(spark)
                    if alt_source
                    else synthetic.altsource_close(spark, tuple(cfg.tickers))
                ).filter(
                    F.col("date").between(F.lit(cfg.start_date), F.lit(cfg.end_date))
                ).persist()
                cached.append(alt)
                primary = features.select(
                    "ticker", "date", F.col("close").alias("yahoo_close")
                )
                secondary = alt.select(
                    "ticker", "date", F.col("close").alias("alpha_close")
                )
                disc = crossval.compare_sources(
                    primary, secondary, on=["ticker", "date"],
                    tolerance_pct=cfg.tolerance_pct,
                ).persist()
                cached.append(disc)
                n_disc = disc.count()
                n_comp = primary.join(secondary, ["ticker", "date"]).na.drop(
                    subset=["yahoo_close", "alpha_close"]
                ).count()
                features = crossval.merge_discrepancy_flags(
                    features, disc, on=["ticker", "date"]
                )
                cross_report = {
                    "performed": True,
                    "comparisons": n_comp,
                    "discrepancies": n_disc,
                    "tolerance_pct": cfg.tolerance_pct,
                }
            except Exception as exc:  # graceful degradation, src/pipeline.py:161-216
                tracker.add_error("cross_validation", str(exc))
                features = features.withColumn("discrepancy_flag", F.lit(False))
        else:
            features = features.withColumn("discrepancy_flag", F.lit(False))

        # --- macro (optional, graceful) ------------------------------------
        macro_report: dict[str, Any] = {"performed": False}
        saved_macro = 0
        if cfg.with_macro:
            try:
                macro = (
                    macro_source(spark) if macro_source else synthetic.macro_series(spark)
                ).persist()
                cached.append(macro)
                g = series_stats.global_summary(macro).collect()[0]
                # series in the order the feed delivers them: a group-by
                # emits its groups in an order that follows the read's
                # partition layout, so rank each series by its first row
                summary = series_stats.per_series_summary(
                    macro.withColumn("feed_row", F.monotonically_increasing_id()),
                    order_col="feed_row",
                ).collect()
                per_series = [
                    {k: v for k, v in r.asDict().items() if k != "feed_row"}
                    for r in sorted(summary, key=lambda r: r["feed_row"])
                ]
                macro_report = {
                    "performed": True,
                    "total_records": g["total_records"],
                    "unique_series": g["unique_series"],
                    "series": per_series,
                }
                saved_macro = sinks.append_first_request_wins(
                    macro.withColumn("request_id", F.lit(req_id)),
                    os.path.join(cfg.db_dir, "macro_data"),
                    ["series_id", "date", "request_id"],
                )
            except Exception as exc:
                tracker.add_error("macro", str(exc))

        # --- load (K2) ------------------------------------------------------
        to_store = features.withColumn("request_id", F.lit(req_id))
        saved_market = sinks.append_first_request_wins(
            to_store, os.path.join(cfg.db_dir, "market_data"), ["ticker", "date"]
        )

        # --- report (K7/K8/K9 + F9/F10) ------------------------------------
        total_nulls = sum(basic_report["null_counts"].values())
        total_issues = (
            basic_report["duplicate_rows"]
            + basic_report["negative_close"]
            + basic_report["negative_volume"]
            + basic_report["extreme_moves"]
        )
        basic_score = quality.basic_quality_score(total_issues, total_nulls)
        reliability = quality.reliability_score(
            cross_report.get("discrepancies", 0), cross_report.get("comparisons", 0)
        )
        report = {
            "report_metadata": {
                "generated_at": run_ts.isoformat(),
                "request_id": req_id,
            },
            "request_details": {
                "tickers": sorted(cfg.tickers),
                "start_date": cfg.start_date,
                "end_date": cfg.end_date,
            },
            "ticker_validation": {
                "basic_checks": basic_report,
                "cross_validation": cross_report,
            },
            "macro_validation": macro_report,
            "quality_assessment": {
                "basic_quality_score": basic_score,
                "cross_validation_reliability": (
                    reliability if reliability is not None else "N/A"
                ),
                "overall_score": quality.overall_score(basic_score, reliability),
            },
            "recommendations": quality.recommendations(
                total_nulls=total_nulls,
                duplicate_rows=basic_report["duplicate_rows"],
                extreme_moves=basic_report["extreme_moves"],
                discrepancies=cross_report.get("discrepancies", 0),
                comparisons=cross_report.get("comparisons", 0),
            ),
            "errors": tracker.summary(),
        }

        export_df = features.withColumnRenamed("ticker", "Ticker")
        csv_path = sinks.export_csv(
            export_df, cfg.out_dir, run_ts, cfg.tickers,
            cfg.start_date, cfg.end_date, req_id,
        )
        report_path = sinks.write_json_report(
            report,
            os.path.join(
                cfg.out_dir, f"validation_report_{run_ts:%Y%m%d_%H%M%S}_{req_id}.json"
            ),
        )
        log_path = sinks.write_json_report(
            {
                "request_id": req_id,
                "execution_summary": {
                    "total_market_records": saved_market,
                    "total_macro_records": saved_macro,
                    "validation_performed": cross_report["performed"],
                },
                "file_paths": {"csv": csv_path, "report": report_path},
            },
            os.path.join(
                cfg.out_dir, f"execution_log_{run_ts:%Y%m%d_%H%M%S}_{req_id}.json"
            ),
        )

        ledger_event(
            "completed",
            total_records_fetched=saved_market,
            macro_records_fetched=saved_macro,
            validation_performed=cross_report["performed"],
            error_count=len(tracker.errors),
        )
        return PipelineResult(
            request_id=req_id,
            market_features=features,
            validation_report=report,
            saved_market_rows=saved_market,
            saved_macro_rows=saved_macro,
            csv_path=csv_path,
            report_path=report_path,
            log_path=log_path,
        )
    except Exception:
        # failure path (src/pipeline.py:302-311): ledger 'failed', re-raise
        ledger_event("failed", error_count=len(tracker.errors) + 1)
        raise
    finally:
        # release every persist taken this run — a long-lived session would
        # otherwise leak the cached frames of every pipeline invocation; the
        # returned market_features DF stays valid (recomputed if re-used)
        for df in cached:
            df.unpersist(blocking=False)
