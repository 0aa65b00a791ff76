"""Parquet scan layer over the driver's synthetic tables.

Replaces the reference's HTTP fetch layer (src/pipeline.py:28-42,
src/validation.py:78-185, src/macro.py:113-163) for the offline harness: the
"source" is a columnar scan with column pruning and predicate pushdown handled
by Catalyst. The reader reads each file with the schema of its parquet
footer, inferred once per file version (path, mtime, size), converts the
timestamp columns TESTDATA declares, and projects TESTDATA's column order; it
does not check the footer types against TESTDATA. The stream harnesses in
``plans/mmstream.py`` take their file layout from the same footer memo.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
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


#: footer schema per file version ``(real path, st_mtime_ns, st_size)``
_FOOTERS: dict[tuple[str, int, int], T.StructType] = {}


def footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema Spark reads from a parquet file's footer, TIMESTAMP(NANOS)
    as ``bigint``. Inferring it runs one Spark job, even for one file, so
    it runs once per file version; a rewritten file is inferred again."""
    # the driver's parquet stamps TIMESTAMP(NANOS), which the Spark reader
    # rejects; read nanos as long (`timestamp_fixes` converts them)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    real = os.path.realpath(path)
    st = os.stat(real)
    key = (real, st.st_mtime_ns, st.st_size)
    if key not in _FOOTERS:
        _FOOTERS[key] = spark.read.parquet(path).schema
    return _FOOTERS[key]


def timestamp_fixes(name: str, footer: T.StructType) -> dict[str, Column]:
    """The conversions to TIMESTAMP of table ``name``'s TESTDATA timestamp
    columns that the footer stores as nanos (``bigint``) or
    ``timestamp_ntz``, keyed by column."""
    fixes = {}
    for field in TESTDATA[name].fields:
        if not isinstance(field.dataType, T.TimestampType) or field.name not in footer.names:
            continue
        phys = footer[field.name].dataType
        if isinstance(phys, T.LongType):
            # integer division: nanos exceed double's 2^53 exact range, so
            # float division would corrupt them
            fixes[field.name] = F.expr(f"timestamp_micros({field.name} div 1000)")
        elif isinstance(phys, T.TimestampNTZType):
            # timezone-naive timestamp[us] parquet reads as TIMESTAMP_NTZ in
            # Spark 4; event-time operators need TIMESTAMP (unix_micros,
            # window, watermark). Session tz is pinned UTC, so this cast
            # keeps epoch micros identical to DuckDB's epoch_us.
            fixes[field.name] = F.col(field.name).cast("timestamp")
    return fixes


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table with its footer's schema (`footer_schema`),
    so a repeated scan of an unchanged file runs no Spark job. TESTDATA
    timestamp columns are converted to TIMESTAMP (`timestamp_fixes`), and
    the declared column order is selected so downstream operators never
    depend on file layout."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    tune_for_session_cores(spark)
    # The NTZ->TIMESTAMP normalization below is tz-sensitive; see pin_utc.
    pin_utc(spark)
    footer = footer_schema(spark, path)
    df = spark.read.schema(footer).parquet(path)
    if name in TESTDATA:
        fixes = timestamp_fixes(name, footer)
        if fixes:
            df = df.withColumns(fixes)
        df = df.select(*[f.name for f in TESTDATA[name].fields])
    return df


def load_tables(spark: SparkSession, sf_dir: str):
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}
