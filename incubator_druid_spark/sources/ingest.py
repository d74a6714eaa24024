"""Batch ingestion: Druid task spec → time-partitioned Parquet table.

Reference pipeline being re-expressed (SURVEY §3.3): InputSource/InputFormat
(core/.../data/input/impl/) → TransformSpec (segment/transform/TransformSpec.java)
→ GranularitySpec bucketing (server/.../granularity/UniformGranularitySpec.java)
→ rollup in IncrementalIndex (segment/incremental/IncrementalIndex.java:217,
1152-1165) → IndexMergerV9 persist → segment publish.

Spark-first: read with the native reader for the format, apply transforms as
Column expressions, derive `__time` per the timestampSpec, optionally
pre-aggregate (rollup ≡ ingest-time GROUP BY), and write Parquet partitioned by
the segment granularity bucket.  Segments = partition directories.  There is
no versioned publish yet: an overwrite deletes the whole datasource directory
and writes the new one in its place, so a query racing it can fail on vanished
files or an empty directory (it never reads a mix of versions).

An ingest does not rediscover what it knows.  A JSON input whose spec names
every column it keeps (declared dimensions and plain numeric metrics, no
transforms or flattening) is read with those columns as strings, not with an
inferred schema, as Druid parses through the spec's InputRowSchema; the
write's own job checks that inference would have typed the same columns.  An
input of one split rolls up inside its own task, with no exchange.  The sidecar
records the schema written, so the catalog reads the table without a parquet
schema job.

Spec shape accepted (the Druid ioConfig/dataSchema fields that matter):
{
  "dataSchema": {
    "dataSource": "name",
    "timestampSpec": {"column": "ts", "format": "iso"|"millis"|"auto"|<joda>},
    "dimensionsSpec": {"dimensions": [... names or {"name","type"} ...]},
    "transformSpec": {"transforms": [{"name","expression"}...],
                       "filter": <DimFilter>},
    "metricsSpec": [<AggregatorFactory>...],          # rollup metrics
    "granularitySpec": {"segmentGranularity": "day",
                         "queryGranularity": "hour" | "none",
                         "rollup": true|false}
  },
  "ioConfig": {"inputSource": {"type": "local", "files": [...]} ,
               "inputFormat": {"type": "csv"|"tsv"|"json"|"regex"|"parquet"|
                                "orc"|"avro", ...}}
}
"""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from incubator_druid_spark.catalog import Catalog, TIME_COLUMN
from incubator_druid_spark.filters.filters import FilterContext, compile_filter
from incubator_druid_spark.functions.lenient import lenient_cast
from incubator_druid_spark.model.granularity import parse_granularity
from incubator_druid_spark.timeline import (BUCKET, bucket_key, write_meta,
                                            written_schema)


# ---------------------------------------------------------------------------
# input formats / sources
# ---------------------------------------------------------------------------

def read_input(spark: SparkSession, io_config: dict,
               schema: str | None = None) -> DataFrame:
    """The raw rows of an ioConfig; ``schema`` (DDL) replaces the JSON
    reader's inference."""
    src = io_config.get("inputSource", {})
    fmt = io_config.get("inputFormat", {"type": "json"})
    paths = _source_paths(src)
    t = fmt.get("type", "json")

    if t == "csv" or t == "tsv" or t == "delimited":
        # core/.../impl/CsvInputFormat.java, DelimitedInputFormat.java
        sep = fmt.get("delimiter", "\t" if t in ("tsv", "delimited") else ",")
        reader = (spark.read
                  .option("sep", sep)
                  .option("header", str(fmt.get("findColumnsFromHeader", False)).lower())
                  .option("inferSchema", "true"))
        df = reader.csv(paths)
        cols = fmt.get("columns")
        if cols and not fmt.get("findColumnsFromHeader", False):
            df = df.toDF(*cols)
        # listDelimiter (DelimitedInputFormat.java — default \x01): Druid
        # decides multi-valuedness per ROW at parse time; a columnar schema
        # needs it declared, so the columns that carry MVD values are named
        # in multiValueColumns and become ARRAY<STRING>
        ld = fmt.get("listDelimiter")
        if ld is not None:
            import re as _re
            for c in fmt.get("multiValueColumns", []):
                df = df.withColumn(
                    c, F.split(F.col(c).cast("string"), _re.escape(ld)))
        return df
    if t == "json":
        # core/.../impl/JsonInputFormat.java (+flattenSpec handled by Spark's
        # nested-field access; explicit flatten fields below)
        df = (spark.read.schema(schema) if schema else spark.read).json(paths)
        flatten = (fmt.get("flattenSpec") or {}).get("fields") or []
        for f in flatten:
            # JSONPathFieldSpec: "root" names a top-level field, "path" and
            # "jq" give a JsonPath/jq subset of field and index steps
            col = (_field(f["name"]) if f.get("type") == "root"
                   else _json_path(f.get("expr", "")))
            df = df.withColumn(f["name"], col)
        return df
    if t == "regex":
        # core/.../impl/RegexInputFormat.java — one capture group per column
        pattern = fmt["pattern"]
        cols = fmt["columns"]
        df = spark.read.text(paths)
        out = df
        for i, c in enumerate(cols, start=1):
            out = out.withColumn(c, F.regexp_extract(F.col("value"), pattern, i))
        return out.drop("value")
    if t in ("parquet", "orc"):
        # extensions-core/{parquet,orc}-extensions → native Spark readers
        return spark.read.format(t).load(paths)
    if t == "avro":
        # extensions-core/avro-extensions — native spark-avro when the jar is
        # deployed (real clusters), else the pure-Python OCF reader
        try:
            return spark.read.format("avro").load(paths)
        except Exception:
            from incubator_druid_spark.sources.avro import read_avro
            return read_avro(spark, paths)
    if t == "protobuf":
        # extensions-core/protobuf-extensions (ProtobufInputFormat.java) —
        # pure-Python wire decoder against a compiled descriptor set,
        # distributed via mapInPandas (sources/protobuf.py)
        from incubator_druid_spark.sources.protobuf import read_protobuf
        return read_protobuf(spark, paths, fmt)
    raise ValueError(f"unknown inputFormat type {t!r}")


# one step of a flattenSpec path: .name, ['name'], ["name"] or [index]
_PATH_STEP = re.compile(
    r"""\.([^.\[\]]+)|\[\s*'([^']*)'\s*\]|\[\s*"([^"]*)"\s*\]|\[\s*(\d+)\s*\]""")


def _field(name: str) -> Column:
    """The top-level column ``name``, dots and all."""
    return F.col("`" + name.replace("`", "``") + "`")


def _json_path(expr: str) -> Column:
    """A flattenSpec path of field and index steps, ``$.a.b``,
    ``$['a']['b']`` or ``$.a[0]`` (a leading ``$`` is optional)."""
    col, pos, rest = None, 0, expr[1:] if expr.startswith("$") else expr
    while pos < len(rest):
        m = _PATH_STEP.match(rest, pos)
        if m is None or col is None and m.group(4) is not None:
            raise ValueError(f"unsupported flattenSpec path: {expr!r}")
        *keys, index = m.groups()
        key = next((k for k in keys if k is not None), None)
        col = (col[int(index)] if key is None
               else _field(key) if col is None else col.getField(key))
        pos = m.end()
    if col is None:
        raise ValueError(f"unsupported flattenSpec path: {expr!r}")
    return col


def _source_paths(src: dict):
    t = src.get("type", "local")
    if t == "local":
        # core/.../impl/LocalInputSource.java — baseDir+filter or files
        if src.get("files"):
            return src["files"]
        base = src.get("baseDir", ".")
        filt = src.get("filter", "*")
        return os.path.join(base, filt)
    if t == "inline":
        raise ValueError("inline input: pass data via InlineDataSource instead")
    if t == "http":
        # core/.../impl/HttpInputSource.java — the reference streams each URI
        # inside the ingest task.  Spark's FS readers don't speak http, so
        # stage the URIs to local files first (driver-side; fine for the
        # task-spec sizes this source is for — at bulk scale data should land
        # on an object store the executors read directly, same advice as the
        # reference gives for large batch ingest).
        return [_stage_http(u) for u in (src.get("uris") or [])]
    if t in ("s3", "google", "azure", "hdfs"):
        # cloud connectors ride on Hadoop FS — pass URIs straight through
        return src.get("uris") or src.get("paths")
    raise ValueError(f"unknown inputSource type {t!r}")


def _stage_http(uri: str) -> str:
    import hashlib
    import tempfile
    import urllib.request

    dst = os.path.join(tempfile.gettempdir(), "druid_spark_http",
                       hashlib.sha1(uri.encode()).hexdigest()[:16]
                       + "_" + os.path.basename(uri.split("?")[0]))
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    if not os.path.exists(dst):
        with urllib.request.urlopen(uri) as resp, open(dst, "wb") as out:
            while chunk := resp.read(1 << 20):
                out.write(chunk)
    return dst


# ---------------------------------------------------------------------------
# dataSchema application
# ---------------------------------------------------------------------------

def apply_data_schema(df: DataFrame, data_schema: dict) -> DataFrame:
    """timestampSpec → __time; transformSpec; dimension projection; optional
    rollup pre-aggregation."""
    ts_spec = data_schema.get("timestampSpec", {"column": "timestamp",
                                                "format": "auto"})
    df = _apply_timestamp(df, ts_spec)

    tf = data_schema.get("transformSpec") or {}
    from incubator_druid_spark.functions.druid_expr import compile_expr
    from incubator_druid_spark.sql.functions import compiling_for
    with compiling_for(df.sparkSession):
        for tr in tf.get("transforms") or []:
            # segment/transform/ExpressionTransform.java
            df = df.withColumn(tr["name"],
                               compile_expr(tr["expression"], F.col))
        if tf.get("filter") is not None:
            df = df.filter(compile_filter(tf["filter"], FilterContext(df)))

    dims = (data_schema.get("dimensionsSpec") or {}).get("dimensions") or []
    metrics = data_schema.get("metricsSpec") or []
    gran_spec = data_schema.get("granularitySpec") or {}

    # DataSchema adds the timestamp input column to the dimension
    # exclusions: it is stored as __time, not again as a dimension
    excluded = {TIME_COLUMN, ts_spec.get("column", "timestamp")}
    if gran_spec.get("rollup") and metrics:
        df = rollup(df, dims, metrics, gran_spec.get("queryGranularity", "none"))
    elif not dims:
        df = df.drop(*(excluded - {TIME_COLUMN}))
    else:
        names = [_dim_name(d) for d in dims]
        # rollup disabled but metrics declared: Druid still stores ROW-LEVEL
        # metric columns (each row is its own group) — the aggregator's
        # input value under its OUTPUT name, count → 1 per row.  Dropping
        # them would make later queries over the metric read nothing.
        mcols = []
        for m in metrics:
            mname = m.get("name")
            if not mname or mname in names or mname == TIME_COLUMN:
                continue
            if m.get("type") == "count":
                mcols.append(F.lit(1).cast("long").alias(mname))
                continue
            src = m.get("fieldName")
            if src is None or src not in df.columns:
                continue
            typ = _METRIC_CASTS.get(m.get("type"))
            col = lenient_cast(F.col(src), typ) if typ else F.col(src)
            mcols.append(col.alias(mname))
        df = df.select(TIME_COLUMN, *[n for n in names if n in df.columns],
                       *[c for c in df.columns
                         if c not in names and c not in excluded
                         and metrics == []],
                       *mcols)
    return df


# the metrics whose input goes through a lenient numeric cast, by the type
# the cast gives
_METRIC_CASTS = {"longSum": "long", "longMin": "long", "longMax": "long",
                 "doubleSum": "double", "doubleMin": "double",
                 "doubleMax": "double", "floatSum": "float",
                 "floatMin": "float", "floatMax": "float"}


def _dim_name(d) -> str:
    return d if isinstance(d, str) else d["name"]


def _apply_timestamp(df: DataFrame, ts_spec: dict) -> DataFrame:
    col = ts_spec.get("column", "timestamp")
    fmt = ts_spec.get("format", "auto")
    c = F.col(col)
    if fmt in ("millis",):
        t = F.timestamp_millis(lenient_cast(c, "long"))
    elif fmt in ("posix", "seconds"):
        t = F.timestamp_seconds(lenient_cast(c, "long"))
    elif fmt in ("micro",):
        t = F.timestamp_micros(lenient_cast(c, "long"))
    elif fmt == "iso":
        t = c.cast("timestamp")
    elif fmt == "auto":
        # TimestampParser.java 'auto': NUMERIC input is epoch MILLIS
        # (Long.parseLong → DateTimes.utc), otherwise ISO/SQL string parse.
        # Spark's long→timestamp cast reads SECONDS and a digit string
        # casts to null — both silently wrong here.
        s = c.cast("string")
        t = (F.when(s.rlike(r"^-?\d+$"),
                    F.timestamp_millis(s.cast("long")))
              .otherwise(c.try_cast("timestamp")))
    else:  # joda pattern
        from incubator_druid_spark.functions.druid_expr import _joda_to_spark
        t = F.try_to_timestamp(c, F.lit(_joda_to_spark(fmt)))
    return df.withColumn(TIME_COLUMN, t)


def rollup(df: DataFrame, dims: list, metrics: list[dict],
           query_granularity="none") -> DataFrame:
    """Ingest-time rollup ≡ GROUP BY (time_floor, dims) with metric partials
    (IncrementalIndex facts-table semantics).  The output stores FINALIZED
    metric values; re-aggregation of sums/counts/mins/maxes composes exactly,
    which is why Druid restricts rollup metrics to those shapes."""
    from incubator_druid_spark.operators.aggregations import \
        compile_rollup_aggregations
    gran = parse_granularity(query_granularity)
    names = [_dim_name(d) for d in dims]
    keys = [F.expr(gran.floor_sql(TIME_COLUMN)).alias(TIME_COLUMN)] + \
           [F.col(n) for n in names if n in df.columns]
    aggs = compile_rollup_aggregations(metrics, FilterContext(df))
    return df.groupBy(*keys).agg(*aggs)


# ---------------------------------------------------------------------------
# sink: time-partitioned parquet "segments"
# ---------------------------------------------------------------------------

def ingest(spark: SparkSession, spec: dict, catalog: Catalog,
           base_dir: str) -> str:
    """Run a batch ingest spec end-to-end; returns the table path and
    registers the datasource in the catalog.

    tuningConfig.partitionsSpec maps to the physical layout:
    - default: time-partition directories only (the segment layout of
      ``timeline.py``) — Druid's segment-per-interval model;
    - {"type": "hashed", "partitionDimensions": [...], "numShards": N}:
      additionally bucketBy the shard key (Druid's hashed shard spec).
      Bucketed tables join/aggregate on the shard key with NO shuffle —
      at 100 TB that's the difference between a network-bound and a
      local-only join (the analogue of Druid's secondary partitioning +
      broker shard pruning, DimFilterUtils.filterShards).
    - {"type": "single_dim"/"range", "partitionDimension(s)": ...}:
      range-partition + sort on the dimension inside each time chunk
      (SingleDimensionPartitionsSpec / DimensionRangePartitionsSpec) — each
      parquet file then covers a tight dimension range, so min/max row-group
      stats prune scans on that dimension the way Druid's broker prunes
      range shard specs.

    A JSON input read with the spec's columns (``_json_read_schema``) is
    checked in the write's own job: where a dimension value would have been
    typed otherwise by inference (an array, an object or a boolean) or a
    stored column holds no value at all, the input is ingested again with
    an inferred read, so the table is the one inference writes.
    """
    schema = _json_read_schema(spec)
    if schema is not None:
        check = Observation()
        path = _ingest(spark, spec, catalog, base_dir, schema, check)
        if check.get["typed_as_inferred"]:
            return path
    return _ingest(spark, spec, catalog, base_dir, None, None)


def _ingest(spark: SparkSession, spec: dict, catalog: Catalog,
            base_dir: str, schema: str | None,
            check: Observation | None) -> str:
    ds = spec["dataSchema"]
    name = ds["dataSource"]
    df = read_input(spark, spec.get("ioConfig", {}), schema)
    if _one_split(spark, spec.get("ioConfig", {})):
        # an input of one split is one partition: the rollup aggregates
        # inside the scan's task and the write follows in the same job
        df = df.coalesce(1)
    df = apply_data_schema(df, ds)
    if check is not None:
        dims = (ds.get("dimensionsSpec") or {}).get("dimensions") or []
        df = df.observe(check, _typed_as_inferred(df, map(_dim_name, dims)))

    gspec = ds.get("granularitySpec") or {}
    seg_gran = gspec.get("segmentGranularity", "day")
    out = df.withColumn(BUCKET, bucket_key(parse_granularity(seg_gran)))
    tuning = spec.get("tuningConfig") or {}
    pspec = tuning.get("partitionsSpec") or {}
    # DynamicPartitionsSpec (Druid's default): segments roll over at
    # maxRowsPerSegment.  Spark's maxRecordsPerFile is the same contract —
    # each writer task rolls a new file at the limit, no extra count pass or
    # shuffle needed; bounds both segment size and the memory any one
    # downstream scan task needs.
    max_rows = int(pspec.get("maxRowsPerSegment")
                   or tuning.get("maxRowsPerSegment") or 0)
    path = os.path.join(base_dir, name)
    # ioConfig.appendToExisting (AbstractBatchIndexTask) — append new
    # segments instead of replacing the datasource version
    mode = "append" if (spec.get("ioConfig") or {}).get("appendToExisting") \
        else "overwrite"
    kind = pspec.get("type")
    if kind in ("single_dim", "range", "zorder"):
        dims = ([pspec["partitionDimension"]]
                if pspec.get("partitionDimension")
                else list(pspec.get("partitionDimensions") or []))
        if not dims:
            raise ValueError(f"{kind} partitionsSpec needs "
                             "partitionDimension(s)")
        shards = int(pspec.get("numShards")
                     or spark.sparkContext.defaultParallelism)
        if kind == "zorder":
            # Superset of the reference's range specs (no Druid analogue):
            # Morton-interleave several dimensions inside each time chunk
            # so file min/max stats prune filters on ANY clustered
            # dimension, not just the range chain's prefix
            # (sources/layout.py).
            from .layout import cluster_by_zorder
            out = cluster_by_zorder(out, dims,
                                    bits=int(pspec.get("bits", 12)),
                                    num_partitions=shards,
                                    prefix_cols=[BUCKET])
        else:
            out = (out.repartitionByRange(shards, F.col(BUCKET),
                                          *[F.col(d) for d in dims])
                      .sortWithinPartitions(BUCKET, *dims))
    writer = (out.write.mode(mode).option("maxRecordsPerFile", max_rows)
              .partitionBy(BUCKET))
    if kind == "hashed" and pspec.get("partitionDimensions"):
        dims = pspec["partitionDimensions"]
        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
        (writer.bucketBy(int(pspec.get("numShards", 8)), *dims)
            .sortBy(*dims)
            .option("path", path)
            .saveAsTable(name))
        catalog.register(name, path, fmt="managed")
    else:
        writer.parquet(path)
        catalog.register(name, path)
    # the ingest-spec facts segmentMetadata reports, the segment
    # granularity the layout was written with and the schema written — the
    # analogue of the reference's per-segment metadata.drd
    write_meta(path, {"rollup": bool(gspec.get("rollup")),
                      "queryGranularity": gspec.get("queryGranularity"),
                      "segmentGranularity": seg_gran,
                      "aggregators": ds.get("metricsSpec") or [],
                      "schema": written_schema(out)},
               append=mode == "append")
    return path


# the file formats Spark reads by splits of a file scan
_FILE_SCANS = {"json", "csv", "tsv", "delimited", "regex", "parquet", "orc"}
# suffixes of the Hadoop codecs: a compressed file is one task's whole
_CODECS = (".gz", ".bz2", ".deflate", ".lz4", ".snappy", ".zst", ".xz",
           ".br", ".lzo")


def _one_split(spark: SparkSession, io_config: dict) -> bool:
    """Whether the input is one split, from its listing alone: a single
    local, uncompressed file of a file-scan format, no larger than the open
    cost Spark charges a file, the least split size it cuts (or the largest
    partition, if that is less)."""
    fmt = (io_config.get("inputFormat") or {}).get("type", "json")
    src = io_config.get("inputSource") or {}
    if fmt not in _FILE_SCANS or src.get("type", "local") != "local":
        return False
    paths = _source_paths(src)
    files = glob.glob(paths) if isinstance(paths, str) else list(paths)
    if (len(files) != 1 or not os.path.isfile(files[0])
            or files[0].lower().endswith(_CODECS)):
        return False
    conf = spark._jsparkSession.sessionState().conf()
    return os.path.getsize(files[0]) <= min(conf.filesOpenCostInBytes(),
                                            conf.filesMaxPartitionBytes())


def _typed_as_inferred(df: DataFrame, dims) -> Column:
    """Whether a string read stores what an inferred read stores, judged on
    the rows written (a rollup keeps every dimension value as a key): each
    column holds a value (inference drops a field absent from every row)
    and no dimension value is the text of an array, an object or a boolean,
    which inference types as such (an array of strings is a multi-value
    dimension)."""
    ok = F.lit(True)
    for c in df.columns:
        ok = ok & (F.count(_field(c)) > 0)
    for c in map(_field, dims):
        typed = (c.startswith("[") | c.startswith("{")
                 | c.isin("true", "false"))
        ok = ok & (F.count_if(typed) == 0)
    return ok.alias("typed_as_inferred")


def _json_read_schema(spec: dict) -> str | None:
    """The read schema of a JSON input whose spec names every column it
    keeps: the timestamp column, each dimension and each metric's
    fieldName, all STRING.  The reader keeps a number's text, so the
    timestamp parsing and the metrics' lenient casts see the digits an
    inferred read gives; a dimension given by name is a string dimension
    (Druid's StringDimensionSchema), so a JSON number under it is stored as
    its text (``ingest`` reads again, inferring, where an array, an object
    or a boolean turns up, or a column holds no value).  None, so
    the reader infers, for a spec with no dimensions or no metrics (it keeps
    every input column), transforms, a flattenSpec, typed or multi-value
    dimensions, other metrics, a Z-order layout (numeric keys) or an append
    (a read typed otherwise than inference is ingested again, which an
    append cannot undo)."""
    ds = spec["dataSchema"]
    fmt = (spec.get("ioConfig") or {}).get("inputFormat") or {}
    tf = ds.get("transformSpec") or {}
    dims = (ds.get("dimensionsSpec") or {}).get("dimensions") or []
    metrics = ds.get("metricsSpec") or []
    pspec = (spec.get("tuningConfig") or {}).get("partitionsSpec") or {}
    if (fmt.get("type", "json") != "json" or fmt.get("flattenSpec")
            or tf.get("transforms") or tf.get("filter") is not None
            or not dims or not metrics or pspec.get("type") == "zorder"
            or (spec.get("ioConfig") or {}).get("appendToExisting")
            or any(isinstance(d, dict)
                   and (d.get("type", "string") != "string"
                        or "multiValueHandling" in d) for d in dims)
            or any(m.get("type") not in {"count", *_METRIC_CASTS}
                   or m.get("expression") is not None
                   or m.get("type") != "count" and not m.get("fieldName")
                   for m in metrics)):
        return None
    ts = (ds.get("timestampSpec") or {}).get("column", "timestamp")
    cols = dict.fromkeys([ts, *map(_dim_name, dims),
                          *(m["fieldName"] for m in metrics
                            if m.get("fieldName"))])
    return ", ".join(f"`{c.replace('`', '``')}` STRING" for c in cols)
