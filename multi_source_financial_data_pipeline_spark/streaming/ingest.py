"""Structured Streaming ingest path (SURVEY.md §2.9).

The reference has no streaming; its incrementality is batch re-runs with
first-request-wins dedup over (ticker, date) plus a commented-out daily/weekly
scheduler (/root/reference/src/pipeline.py:336-416). The Spark-native
equivalent: a landing directory consumed with the ``availableNow`` trigger
(each scheduled run drains whatever arrived — same cadence semantics as the
reference's cron re-fetch), a watermark bounding how late data may arrive, and
``dropDuplicates`` on the natural key reproducing the K2 dedup.

At scale this is the canonical pattern: state for dropDuplicates is bounded by
the watermark horizon, and the sink write runs in ``foreachBatch`` so the
same batch writers (parquet partitioned append / first-request-wins anti-join)
are reused unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_event_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: T.StructType,
) -> DataFrame:
    reader = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("path", landing_dir)
    )
    return reader.load()


def dedup_with_watermark(
    stream: DataFrame,
    key_cols: list[str],
    late_threshold: str = "1 day",
) -> DataFrame:
    """K2-equivalent late/duplicate handling: a watermark on ``ts`` bounds
    the dedup state; duplicates on the natural key within the horizon are dropped."""
    return stream.withWatermark("ts", late_threshold).dropDuplicates(key_cols)


def run_available_now(
    stream: DataFrame,
    checkpoint_dir: str,
    batch_writer: Callable[[DataFrame, int], None],
) -> None:
    """Drain everything currently available (the scheduled-batch cadence of
    the reference's cron jobs), writing each micro-batch through the shared
    batch sink writers, then stop."""
    query = (
        stream.writeStream.foreachBatch(batch_writer)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
