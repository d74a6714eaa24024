"""SparkSession factory with scale-oriented defaults.

Design notes (100 TB target):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic broadcast conversion replace Druid's hand-tuned per-segment scatter
  (reference: server/.../CachingClusteredClient.java does static segment pruning;
  AQE re-plans with real statistics).  A source of one parquet row group is
  read as one partition (``Catalog.table``, decided by
  ``timeline.one_row_group``), so a query over it plans no exchange and AQE
  has no stage to split: it runs as one job.
- shuffle.partitions defaults to cores locally; on a real cluster this is
  overridden (AQE coalesces down, so oversizing is safe).  It applies only
  where a plan shuffles: never above a one-partition source alone.
- Arrow enabled for the few pandas-UDF paths (sketch interop, multimodal).
- Driver-built frames (zero-fill spine, lookups, metadata rows, inline
  datasources, SQL system views) go through ``local_frame``: an Arrow table
  planned as a LocalRelation, scanned with no Python worker.
- Session timezone pinned to UTC: Druid is UTC-millis end to end
  (core/.../java/util/common/granularity/ — all granularities default UTC),
  and the DuckDB oracle compares UTC-naive timestamps.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "incubator-druid-spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # Druid's expression engine is non-ANSI (x/0, overflow and bad casts
        # yield null/identity rather than errors); match it
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # bigger columnar batches amortize per-batch virtual dispatch in the
        # scan→agg loop (~10% on steady-state full-column scans)
        .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
        # testdata events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in the catalog layer
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # default INT96 timestamps carry NO parquet min/max statistics —
        # killing __time predicate pushdown AND the footer-based timeline
        # condensation (timeline.py _footer_time_extent); micros
        # is the modern spec type every reader (incl. DuckDB) understands
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Broadcast decisions: static estimates come from COMPRESSED parquet
        # bytes scaled by column pruning, which underestimates wide fact
        # tables enough to broadcast them (a 6M-row lineitem planned as the
        # build side of a 3-way join — backwards at any scale, fatal at
        # 100 TB).  Disable the static threshold and let AQE convert
        # sort-merge joins to broadcasts from EXACT post-shuffle sizes;
        # engine-chosen broadcasts (lookups, inline/global datasources) use
        # explicit broadcast() hints and are unaffected.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
                str(64 * 1024 * 1024))
        # DynamicJoinSelection demotes a broadcast when the build side's
        # post-shuffle partitions are mostly EMPTY (<20% non-empty) — which
        # is precisely the profile of a tiny dimension (a 5-row region table
        # lands in 1 of 32 partitions), so the smallest tables were the ones
        # kept as sort-merge joins.  Disable demotion; the exact-size 64 MB
        # AQE threshold above remains the sole (and scale-safe) gate.
        .config("spark.sql.adaptive.nonEmptyPartitionRatioForBroadcastJoin",
                "0.0")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # PySpark's per-call call-site capture costs ~5 py4j round trips on
        # every DataFrame/Column call, and translate makes hundreds of them
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small driver-built frame as a Catalyst ``LocalRelation``.

    A Python list given to ``createDataFrame`` ships through a pickled
    ``PythonRDD``, so every task that scans the frame forks a Python
    worker.  An Arrow table plans a ``LocalTableScan`` that runs in the JVM
    alone.  ``rows`` is a sequence of tuples in ``schema`` (a DDL string)
    order.  ``timestamp`` columns take epoch millis and become timestamps
    JVM-side via ``timestamp_millis``, so the host time zone never enters.
    The frame is one partition, like a one-segment source, so joining the
    two plans no exchange."""
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    fields = T._parse_datatype_string(schema).fields
    wire = T.StructType([
        T.StructField(f.name, T.LongType())
        if isinstance(f.dataType, T.TimestampType) else f for f in fields])
    cols = list(zip(*rows)) or [()] * len(fields)
    table = pa.table([pa.array(c, type=to_arrow_type(f.dataType))
                      for c, f in zip(cols, wire.fields)],
                     names=wire.fieldNames())
    df = spark.createDataFrame(table, schema=wire).coalesce(1)
    times = {f.name: F.timestamp_millis(
                 F.col("`" + f.name.replace("`", "``") + "`"))
             for f in fields if isinstance(f.dataType, T.TimestampType)}
    return df.withColumns(times) if times else df
