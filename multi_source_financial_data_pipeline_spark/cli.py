"""CLI entry point — the Spark equivalent of the reference's
``run_pipeline.py`` → ``main()`` (/root/reference/src/pipeline.py:109-130):
same arguments (tickers, start, end, tolerance, output locations), same
fetch → validate → transform → cross-validate → macro → persist → report
flow, with the HTTP fetch layer replaced by the registered Python Data
Source connectors (market_sim primary + perturbed secondary, fred_sim
macro) — tickers and series packed, in request order and never split, into
at most ``defaultParallelism`` input partitions per read.

    python -m multi_source_financial_data_pipeline_spark \
        --tickers AAPL MSFT --start 2024-01-01 --end 2024-03-29 \
        --tolerance 0.5 --out-dir outputs --db-dir data
"""

from __future__ import annotations

import argparse
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

from multi_source_financial_data_pipeline_spark.pipeline import PipelineConfig, run_pipeline
from multi_source_financial_data_pipeline_spark.session import get_spark
from multi_source_financial_data_pipeline_spark.sources import market_source, registry

#: reference defaults, src/pipeline.py:113-126
DEFAULT_TICKERS = ["AAPL", "TSLA", "SPY", "GLD", "USO", "UUP"]


def _connector(
    spark: SparkSession, tickers: list[str], start: str, end: str, source: str
) -> DataFrame:
    df = (
        spark.read.format("market_sim")
        .option("tickers", ",".join(tickers))
        .option("start", start)
        .option("end", end)
        .option("source", source)
        .option("numPartitions", spark.sparkContext.defaultParallelism)
        .load()
    )
    # the pipeline's keep-last dedup needs an explicit ingest order
    return df.withColumn("ingest_seq", F.monotonically_increasing_id())


def _macro(spark: SparkSession, start: str, end: str) -> DataFrame:
    series = registry.resolve_categories()
    names = ";".join(f"{s}={registry.series_name(s)}" for s in series)
    return (
        spark.read.format("fred_sim")
        .option("series", ",".join(series))
        .option("names", names)
        .option("start", start)
        .option("end", end)
        .option("numPartitions", spark.sparkContext.defaultParallelism)
        .load()
    )


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="multi-source market-data pipeline")
    p.add_argument("--tickers", nargs="+", default=DEFAULT_TICKERS)
    p.add_argument("--start", default="2023-01-01")
    p.add_argument("--end", default=datetime.now(timezone.utc).date().isoformat())
    p.add_argument("--tolerance", type=float, default=0.5)
    p.add_argument("--out-dir", default="outputs")
    p.add_argument("--db-dir", default="data")
    p.add_argument("--no-cross-validation", action="store_true")
    p.add_argument("--no-macro", action="store_true")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    cfg = PipelineConfig(
        tickers=args.tickers,
        start_date=args.start,
        end_date=args.end,
        tolerance_pct=args.tolerance,
        out_dir=args.out_dir,
        db_dir=args.db_dir,
        with_cross_validation=not args.no_cross_validation,
        with_macro=not args.no_macro,
    )
    spark = get_spark("msfdp-cli")
    spark.sparkContext.setLogLevel("WARN")
    # once per request: the three readers below all resolve these formats
    market_source.register(spark)
    result = run_pipeline(
        spark,
        cfg,
        market_source=lambda s: _connector(s, args.tickers, args.start, args.end, "yahoo"),
        alt_source=lambda s: _connector(s, args.tickers, args.start, args.end, "alpha"),
        macro_source=lambda s: _macro(s, args.start, args.end),
    )
    print(
        f"request={result.request_id} market_rows={result.saved_market_rows} "
        f"macro_rows={result.saved_macro_rows} csv={result.csv_path} "
        f"report={result.report_path}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
