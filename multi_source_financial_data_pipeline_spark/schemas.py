"""Explicit StructType schemas for every table the engine touches.

The reference declares its at-rest schema in SQLite DDL
(/root/reference/src/database.py:29-122) and lets pandas infer in-flight
dtypes; we declare everything (SURVEY.md §1.2). Prices and derived metrics are
DoubleType to match the reference's float64 compute (DECIMAL only at a storage
boundary if exactness is requested).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Financial-domain schemas (reference parity; src/database.py:49-122)
# ---------------------------------------------------------------------------

#: Daily OHLCV bars, in-flight + at rest. src/database.py:49-70.
MARKET_OHLCV = T.StructType(
    [
        T.StructField("ticker", T.StringType(), False),
        T.StructField("date", T.DateType(), False),
        T.StructField("open", T.DoubleType(), True),
        T.StructField("high", T.DoubleType(), True),
        T.StructField("low", T.DoubleType(), True),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("adj_close", T.DoubleType(), True),
        T.StructField("volume", T.LongType(), True),
        # explicit ingest order so keep-last dedup is deterministic in a
        # distributed engine (pandas relies on positional order,
        # src/pipeline.py:53)
        T.StructField("ingest_seq", T.LongType(), True),
    ]
)

#: Request ledger (src/database.py:33-46). Append-only events; "current
#: status" is a latest-per-request view (idiomatic Spark replaces UPDATE).
REQUEST_LEDGER = T.StructType(
    [
        T.StructField("request_id", T.StringType(), False),
        T.StructField("request_timestamp", T.TimestampType(), False),
        T.StructField("tickers", T.StringType(), True),
        T.StructField("start_date", T.DateType(), True),
        T.StructField("end_date", T.DateType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("total_records_fetched", T.LongType(), True),
        T.StructField("macro_records_fetched", T.LongType(), True),
        T.StructField("validation_performed", T.BooleanType(), True),
        T.StructField("error_count", T.LongType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Driver synthetic-table schemas (/root/testdata, TESTDATA.md)
# ---------------------------------------------------------------------------

TESTDATA = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}
