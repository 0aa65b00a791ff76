"""Parquet scan layer over the driver's synthetic tables.

Replaces the reference's HTTP fetch layer (src/pipeline.py:28-42,
src/validation.py:78-185, src/macro.py:113-163) for the offline harness: the
"source" is a columnar scan with column pruning and predicate pushdown handled
by Catalyst. The reader takes each file's schema from its parquet footer,
converts the timestamp columns TESTDATA declares, and projects TESTDATA's
column order; it does not check the footer types against TESTDATA.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from multi_source_financial_data_pipeline_spark.schemas import TESTDATA
from multi_source_financial_data_pipeline_spark.session import pin_utc, tune_for_session_cores

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table. ``spark.read.parquet`` infers the schema
    from the parquet footer; TESTDATA timestamp columns that arrive as
    nanos (``bigint``) or ``timestamp_ntz`` are converted to TIMESTAMP, and
    the declared column order is selected so downstream operators never
    depend on file layout."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    tune_for_session_cores(spark)
    # the driver's parquet stamps TIMESTAMP(NANOS), which the Spark reader
    # rejects; read nanos as long and convert with integer division (nanos
    # exceed double's 2^53 exact range — float division would corrupt them)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The NTZ->TIMESTAMP normalization below is tz-sensitive; see pin_utc.
    pin_utc(spark)
    df = spark.read.parquet(path)
    if name in TESTDATA:
        dtypes = dict(df.dtypes)
        for field in TESTDATA[name].fields:
            if (
                isinstance(field.dataType, T.TimestampType)
                and dtypes.get(field.name) == "bigint"
            ):
                df = df.withColumn(
                    field.name, F.expr(f"timestamp_micros({field.name} div 1000)")
                )
            elif (
                isinstance(field.dataType, T.TimestampType)
                and dtypes.get(field.name) == "timestamp_ntz"
            ):
                # timezone-naive timestamp[us] parquet reads as TIMESTAMP_NTZ in
                # Spark 4; event-time operators need TIMESTAMP (unix_micros,
                # window, watermark). Session tz is pinned UTC, so this cast
                # keeps epoch micros identical to DuckDB's epoch_us.
                df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
        df = df.select(*[f.name for f in TESTDATA[name].fields])
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES):
    return {n: load_table(spark, sf_dir, n) for n in names}
