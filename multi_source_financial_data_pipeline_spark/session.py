"""SparkSession factory tuned for the local test harness and for scale.

The driver supplies its own SparkSession to ``__spark_entry__``; this factory
is used by tests and ``bench.py``. Settings chosen for a 100 TB posture:
AQE on (runtime join-strategy switches, skew-join splitting, partition
coalescing), Arrow for any pandas exchange, and a shuffle-partition count
sized to the cores in use rather than the 200 default.

Generated code: Spark compiles each whole-stage and expression class with
Janino and keeps it in one JVM-wide LRU cache of
``spark.sql.codegen.cache.maxEntries`` classes, 100 by default. A pass of the
engine's repeated work cycles through more classes than that, so the default
cache evicts every class before the pass comes back to it, and each pass
compiles, loads and JIT-compiles its whole working set again. ``get_spark``
sizes the cache to ``CODEGEN_CACHE_ENTRIES``. The conf is static: it holds
only when set before the session starts, so a session the engine did not
build (the session a caller hands to ``__spark_entry__``) keeps Spark's
default.
"""

from __future__ import annotations

import os
from datetime import timezone
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType


def tune_for_session_cores(spark: SparkSession) -> None:
    """Right-size shuffle parallelism for a session the engine did not build
    (e.g. the test driver's vanilla SparkSession): Spark's static default of
    200 shuffle partitions schedules 200 tasks — and 200 streaming
    state-store partitions — per exchange regardless of actual parallelism,
    which dominates wall-clock for small-to-mid shuffles and streaming state
    checkpoints. If (and only if) the session still carries the untouched
    ``200`` default, set shuffle partitions to the session's core
    parallelism; a deliberate user setting is left alone. AQE (on by
    default in Spark 4) re-splits or coalesces from there at runtime, so
    this is a starting point, not a cap, at cluster scale."""
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            par = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions", str(max(par, 1)))
    except Exception:  # pragma: no cover - conf access never fails in practice
        pass


def pin_utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC iff it isn't already. The engine is
    UTC-everywhere (``get_spark`` sets it at build time); for sessions the
    engine did NOT build (the driver's vanilla session inherits the
    JVM-local tz) the pin happens at the scan/plan entry — deliberately
    overriding any caller-set timezone, because every oracle comparison
    assumes epoch micros computed under UTC. Guarded so repeated scans don't
    mutate session conf (ADVICE r05)."""
    try:
        if spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # pragma: no cover - conf access never fails in practice
        pass


def local_frame(
    spark: SparkSession, rows: Iterable[Any], schema: StructType | str
) -> DataFrame:
    """The one way to turn driver-side Python rows into a DataFrame: a JVM
    local relation (``LocalTableScan``; one partition for one row) built
    from a ``pyarrow.Table``, so reading it runs no Python worker task.

    ``spark.createDataFrame`` over a Python list instead parallelizes the
    rows into a Python RDD (``Scan ExistingRDD``, ``defaultParallelism``
    slices), and every slice is a Python task. On a 4-core host a Python
    task costs a few tenths of a CPU-second however few rows it carries:
    each task's ``setup_spark_files`` calls ``importlib.invalidate_caches()``,
    which re-reads the directory of the worker's ``pyspark.zip`` once per
    zipimporter. Measured there, a one-row ledger write (4 slices) cost
    1.1-1.8 CPU-s of the driver, JVM and workers that way, and 0.2-0.4
    CPU-s as a local relation.

    ``rows`` are tuples or ``Row``s (mapped to ``schema`` by position, as
    ``createDataFrame`` maps them) or dicts (by field name). ``schema`` is
    a ``StructType`` or a DDL string. A naive ``datetime`` in a timestamp
    column is read as local time, as ``createDataFrame`` reads a list."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.names
    tuples = [
        tuple(r.get(n) for n in names) if isinstance(r, dict) else tuple(r)
        for r in rows
    ]
    columns = [list(c) for c in zip(*tuples)] if tuples else [[] for _ in names]
    for i, f in enumerate(schema.fields):
        if isinstance(f.dataType, TimestampType):
            columns[i] = [
                None if v is None else v.astimezone(timezone.utc) for v in columns[i]
            ]
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=t) for c, t in zip(columns, arrow.types)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


#: Spark's codegen cache size. Distinct classes one warm pass compiles,
#: counted with ``CodegenMetrics`` under a cache that evicts nothing (4
#: cores): 133 for the perfbench ``curation_iter`` ops, 180 for one
#: ``cli.main`` request, 1870 for ``bench.py``'s 131-query headline at
#: sf0.01. The default 100 made each headline pass recompile about 2700
#: classes, and each ``curation_iter`` pass 127. Twice
#: the largest set leaves headroom: Guava's cache evicts per segment, so a
#: working set near the limit would still be evicted in part.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "msfdp-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """A ``local[n]`` session: ``n`` is ``SPARK_GRAFT_CPUS`` when set, else
    the number of cores this process may run on."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
