"""Bucketed (co-located) table layout — the shuffle-free join path.

The reference's SQLite composite indexes on (ticker, date) / (series_id,
date) (/root/reference/src/database.py:124-136) exist to make keyed lookups
and joins cheap. The Spark equivalent at scale is bucketing: both fact tables
written with ``bucketBy(n, key)`` + ``sortBy(key)`` hash-place rows so a
subsequent equi-join on the bucket key needs **no exchange and no sort** —
the join degenerates to a per-bucket zip-merge. At 100 TB this converts the
dominant repeated join (e.g. lineitem ⋈ orders on orderkey) from a full
2-sided shuffle into a local merge, paid once at write time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_keys: list[str],
    num_buckets: int = 8,
) -> None:
    """Persist as a bucketed+sorted external table registered in the session
    catalog (bucket metadata lives in the catalog, so reads must go through
    ``spark.table``, not ``read.parquet``)."""
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(num_buckets, *bucket_keys)
        .sortBy(*bucket_keys)
        .saveAsTable(table)
    )


def colocated_join(spark: SparkSession) -> DataFrame:
    """Equi-join ``b_lineitem`` and ``b_orders``, both bucketed on
    ``o_orderkey``. With matching bucket
    counts the planner emits a SortMergeJoin with zero Exchange operators
    (verified in tests via the physical plan)."""
    return spark.table("b_lineitem").join(spark.table("b_orders"), ["o_orderkey"])


#: (applicationId, sf_dir) -> (lineitem_table, orders_table) built this
#: session. Bucket METADATA lives in the session catalog (not in parquet),
#: so the build is session-scoped: first call per session pays the one-time
#: bucketed write — exactly the 100 TB deal (pay one shuffle at layout time,
#: every subsequent join is exchange-free); later calls in the same session
#: (bench reps, repeated pipelines) reuse the catalog tables.
_BUCKETED_BUILT: dict = {}

BUCKET_N = 8


def ensure_bucketed_tpch(spark: SparkSession, sf_dir: str) -> "tuple[str, str]":
    """Build-once bucketed+sorted copies of lineitem(orderkey-keyed columns)
    and orders, both bucketed on their orderkey into BUCKET_N buckets, in a
    private temp dir; returns the catalog table names."""
    import os
    import re
    import tempfile

    from multi_source_financial_data_pipeline_spark.sources import load_table

    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    hit = _BUCKETED_BUILT.get(key)
    if hit is not None and all(spark.catalog.tableExists(t) for t in hit):
        return hit
    # tag carries a digest of the FULL path AND the applicationId: two sf
    # dirs sharing a basename (/a/sf0.1 vs /b/sf0.1) must not collide on
    # catalog table names — a collision would silently serve the second
    # dir's data to the first — and two concurrent sessions sharing a
    # warehouse/metastore must not drop/overwrite each other's tables
    # mid-query (r07 ADVICE item)
    import hashlib

    digest = hashlib.md5(
        (spark.sparkContext.applicationId + "|" + os.path.abspath(sf_dir)).encode()
    ).hexdigest()[:8]
    tag = (
        re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/")))
        + "_" + digest
    )
    base = tempfile.mkdtemp(prefix=f"msfdp_bucketed_{tag}_")
    # the parquet copies live only for this session: reclaim them at
    # interpreter exit so repeated sessions don't leak disk (r07 ADVICE)
    import atexit
    import shutil

    atexit.register(shutil.rmtree, base, ignore_errors=True)
    lt, ot = f"msfdp_b_lineitem_{tag}", f"msfdp_b_orders_{tag}"
    for t in (lt, ot):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_bucketed(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount", "l_quantity"
        ),
        lt,
        os.path.join(base, "l"),
        ["l_orderkey"],
        BUCKET_N,
    )
    write_bucketed(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_orderstatus"
        ),
        ot,
        os.path.join(base, "o"),
        ["o_orderkey"],
        BUCKET_N,
    )
    _BUCKETED_BUILT[key] = (lt, ot)
    return lt, ot
