"""Streaming ingestion: supervisor-spec → Structured Streaming query.

Reference semantics being re-expressed (SURVEY §2.10):
- Supervisor orchestration (indexing-service/.../seekablestream/supervisor/
  SeekableStreamSupervisor.java; KafkaSupervisorSpec.java:42-44): partition→task
  assignment, taskCount/replicas.  In Spark ONE writeStream query subsumes the
  task fleet — parallelism follows Kafka partitions, restarts follow the
  checkpoint.
- Exactly-once (SeekableStreamIndexTaskRunner.java + SequenceMetadata.java:
  offsets committed atomically with segment publish): the Structured Streaming
  checkpoint + an idempotent file sink give the same guarantee with no custom
  code.
- Late/early message rejection (SeekableStreamSupervisorIOConfig.java:47-48,
  62-63,84-86 — wall-clock windows, NOT watermarks): expressed as a watermark +
  filter; the watermark is a strict superset (event-time, not wall-clock).
- Ingest-time streaming rollup (IncrementalIndex facts map): groupBy(window,
  dims).agg in update mode, or append mode + compaction.
- Real-time visibility (StreamAppenderator: queries see in-memory rows
  seconds after ingest): `realtime_view` = streaming sink ∪ historical table.

The builder is source-agnostic: `kafka` ioConfig maps to the Kafka source
options; tests inject a file/rate source via `source_override` since no broker
exists in this environment — the transform/rollup/sink plan is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_druid_spark.catalog import Catalog, TIME_COLUMN
from incubator_druid_spark.model.granularity import parse_granularity
from incubator_druid_spark.sources.ingest import apply_data_schema
from incubator_druid_spark.timeline import (BUCKET, bucket_key, write_meta,
                                            written_schema)


def build_stream_source(spark: SparkSession, io_config: dict,
                        value_schema: str | None) -> DataFrame:
    """ioConfig → streaming DataFrame of raw rows."""
    t = io_config.get("type", "kafka")
    if t == "kafka":
        # extensions-core/kafka-indexing-service/.../KafkaSupervisorIOConfig
        props = io_config.get("consumerProperties", {})
        reader = (spark.readStream.format("kafka")
                  .option("kafka.bootstrap.servers",
                          props.get("bootstrap.servers", "localhost:9092"))
                  .option("subscribe", io_config["topic"])
                  .option("startingOffsets",
                          "earliest" if io_config.get("useEarliestOffset")
                          else "latest"))
        raw = reader.load()
        fmt = io_config.get("inputFormat") or {}
        if fmt.get("type") == "protobuf":
            # protobuf-extensions Kafka path: per-record bytes decode against
            # the descriptor set (FileBasedProtobufBytesDecoder.java)
            from incubator_druid_spark.sources.protobuf import decode_column
            return decode_column(raw, "value", fmt).select("decoded.*")
        if value_schema:
            return raw.select(
                F.from_json(F.col("value").cast("string"), value_schema).alias("v")
            ).select("v.*")
        return raw.select(F.col("value").cast("string").alias("value"))
    if t == "file":
        fmt = io_config.get("format", "json")
        reader = spark.readStream.format(fmt)
        if value_schema:
            reader = reader.schema(value_schema)
        return reader.load(io_config["path"])
    raise ValueError(f"unknown streaming ioConfig type {t!r}")


def build_streaming_ingest(spark: SparkSession, spec: dict, sink_dir: str,
                           source_override: DataFrame | None = None):
    """Supervisor spec → (transformed streaming DataFrame, start() callable).

    The returned DataFrame has the dataSchema applied (timestamp, transforms,
    filter, optional rollup); `start()` launches the checkpointed parquet
    append — exactly-once via checkpoint + idempotent task commits.
    """
    ds = spec["dataSchema"]
    io = spec.get("ioConfig", {})
    stream = source_override if source_override is not None else \
        build_stream_source(spark, io, spec.get("valueSchema"))

    gran_spec = ds.get("granularitySpec") or {}
    rollup_requested = bool(gran_spec.get("rollup") and ds.get("metricsSpec"))

    # late-message rejection → watermark + bounded lateness filter
    late_period = io.get("lateMessageRejectionPeriod")  # ISO period
    if rollup_requested or late_period:
        delay = _period_to_delay(late_period or "PT1H")
    else:
        delay = None

    if rollup_requested:
        from incubator_druid_spark.filters.filters import FilterContext
        from incubator_druid_spark.operators.aggregations import \
            compile_rollup_aggregations
        from incubator_druid_spark.sources.ingest import _apply_timestamp, _dim_name
        ts_spec = ds.get("timestampSpec", {"column": "timestamp", "format": "auto"})
        out = _apply_timestamp(stream, ts_spec)
        if delay:
            out = out.withWatermark(TIME_COLUMN, delay)
        qg = gran_spec.get("queryGranularity", "hour")
        gran = parse_granularity(qg)
        dims = [(d if isinstance(d, str) else d["name"])
                for d in (ds.get("dimensionsSpec") or {}).get("dimensions") or []]
        if gran.period is None or gran.period.is_calendar:
            # Structured Streaming windows are fixed durations — silently
            # rolling a month spec up to 1-hour buckets would store wrong
            # __time values; refuse loudly (compaction can re-roll hourly
            # output to calendar grain offline)
            raise ValueError(
                f"streaming rollup needs a fixed queryGranularity, got "
                f"{qg!r} (calendar periods have no fixed width; ingest at "
                "a fixed grain and compact to calendar grain offline)")
        width = gran.period.millis
        # group on the window() column itself — extracting .start inside the
        # key hides the event-time column and defeats watermark propagation
        keys = [F.window(F.col(TIME_COLUMN), f"{width // 1000} seconds")] + \
               [F.col(d) for d in dims if d in out.columns]
        aggs = compile_rollup_aggregations(ds["metricsSpec"], FilterContext(out))
        out = (out.groupBy(*keys).agg(*aggs)
                  .withColumn(TIME_COLUMN, F.col("window.start"))
                  .drop("window"))
        output_mode = "append"  # emits finalized buckets once the watermark passes
    else:
        out = apply_data_schema(stream, ds)
        if delay:
            out = out.withWatermark(TIME_COLUMN, delay)
        output_mode = "append"

    name = ds["dataSource"]
    checkpoint = os.path.join(sink_dir, f"_checkpoints/{name}")
    path = os.path.join(sink_dir, name)

    def start(trigger_once: bool = True, **trigger_kwargs):
        writer = (out.writeStream
                  .format("parquet")
                  .option("path", path)
                  .option("checkpointLocation", checkpoint)
                  .outputMode(output_mode))
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        elif trigger_kwargs:
            writer = writer.trigger(**trigger_kwargs)
        return writer.start()

    return out, start, path


def _period_to_delay(iso: str) -> str:
    from incubator_druid_spark.model.granularity import parse_period
    p = parse_period(iso)
    millis = p.millis if p.millis else p.months * 30 * 86_400_000
    return f"{max(millis // 1000, 1)} seconds"


def realtime_view(spark: SparkSession, streaming_path: str,
                  historical: DataFrame | None) -> DataFrame:
    """Druid's real-time table = in-flight streaming data ∪ published
    historical segments (ClientQuerySegmentWalker sees both generations).
    Here: the streaming sink directory unioned with the compacted table."""
    live = spark.read.parquet(streaming_path)
    if historical is None:
        return live
    return live.unionByName(historical, allowMissingColumns=True)


def compact(spark: SparkSession, streaming_path: str, table_path: str,
            segment_granularity="day", query_granularity=None,
            dimensions=None, metrics=None,
            max_rows_per_segment: int = 5_000_000) -> None:
    """Compaction job: rewrite small streaming files into the historical
    table's time-partitioned layout (Druid compaction task ≡ partition
    rewrite; IndexMergerV9 merge ≡ parquet file coalescing).

    With ``query_granularity`` + ``metrics`` the compaction also RE-ROLLS to
    the coarser granularity (CompactionTask's granularitySpec override):
    plain metrics re-aggregate, and COMPLEX state columns (HLL binaries,
    quantile centroid structs, first/last pairs) are re-MERGED, not
    re-finalized — compile_rollup_aggregations detects the stored state
    types and emits the combining form."""
    df = spark.read.parquet(streaming_path).drop(BUCKET)
    if query_granularity and metrics:
        from incubator_druid_spark.sources.ingest import rollup
        df = rollup(df, dimensions or [], metrics, query_granularity)
    # range-repartition on (bucket, time), not hash on bucket alone: hashing
    # by bucket puts an entire time chunk on ONE task — a 100 GB day would
    # serialize through a single writer.  Ranges keep bucket locality while
    # spreading a big chunk across tasks; maxRecordsPerFile rolls segments at
    # the Druid-default 5M rows (DynamicPartitionsSpec), and the within-file
    # time sort keeps parquet min/max stats tight for interval pruning.
    n = spark.sparkContext.defaultParallelism
    out = (df.withColumn(BUCKET,
                         bucket_key(parse_granularity(segment_granularity)))
             .repartitionByRange(n, F.col(BUCKET), F.col(TIME_COLUMN))
             .sortWithinPartitions(BUCKET, TIME_COLUMN))
    (out.write.mode("overwrite").option("maxRecordsPerFile", max_rows_per_segment)
        .partitionBy(BUCKET).parquet(table_path))
    # the layout's granularity, the rollup facts segmentMetadata reports and
    # the schema written
    write_meta(table_path, {
        "segmentGranularity": segment_granularity,
        "rollup": bool(query_granularity and metrics) or None,
        "queryGranularity": query_granularity, "aggregators": metrics,
        "schema": written_schema(out)})
