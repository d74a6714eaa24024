"""Native JSON query → DataFrame translator (the engine's main entry point).

Reference lifecycle being replaced: QueryResource deserializes the JSON into a
typed Query (processing/.../query/Query.java:55-76 enumerates the types),
ClientQuerySegmentWalker inlines subqueries, CachingClusteredClient scatters
per-segment, per-type QueryRunnerFactory engines execute, toolchests merge
(SURVEY §3.2).  All of that collapses into: build ONE declarative DataFrame
plan and let Catalyst/AQE handle pruning, distribution and merge.

Shared query frame (all types): dataSource tree (plans.datasource), then
virtualColumns (materialized with withColumn — Catalyst collapses the
projection into the scan), then ``intervals`` time pruning + ``filter``
(filters.filters) — pushed to Parquet by Catalyst, replacing Druid's
segment-timeline + bitmap-index pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_druid_spark.catalog import Catalog, TIME_COLUMN
from incubator_druid_spark.filters.filters import FilterContext, compile_filter
from incubator_druid_spark.model.intervals import (interval_predicate, parse_intervals)
from incubator_druid_spark.plans.datasource import resolve_datasource
from incubator_druid_spark.timeline import (BUCKET, bucket_range,
                                            segment_granularity)


def _legacy_null_frame(df: DataFrame) -> DataFrame:
    """Druid legacy null mode (NullHandling.java:67-118 replaceWithDefault):
    null strings read as '' and null numerics as 0.  Druid implements this at
    the segment layer — a null cell IS ''/0 on disk — so the faithful Spark
    chokepoint is one projection over the source frame before any operator
    logic; every filter/agg/dimension then behaves legacy-mode for free.
    Catalyst collapses the coalesce into the scan projection."""
    from pyspark.sql import types as T
    cols = []
    for f in df.schema.fields:
        if f.name in (TIME_COLUMN, BUCKET):
            cols.append(F.col(f.name))
        elif isinstance(f.dataType, T.StringType):
            cols.append(F.coalesce(F.col(f.name), F.lit("")).alias(f.name))
        elif isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType,
                                     T.ByteType, T.DoubleType, T.FloatType)):
            cols.append(F.coalesce(F.col(f.name),
                                   F.lit(0).cast(f.dataType)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def prepare_frame(query: dict, spark: SparkSession, catalog: Catalog,
                  src: DataFrame | None = None) -> DataFrame:
    """dataSource → virtualColumns → intervals → filter, shared by all
    types; ``src`` is the resolved dataSource frame, if the caller holds it."""
    df = src if src is not None else resolve_datasource(query["dataSource"],
                                                        spark, catalog)
    ivs = parse_intervals(query.get("intervals"))
    # an ingested table's recorded segments prune its partitions, unless a
    # virtual column replaces the __time they were bucketed by
    seg = segment_granularity(catalog, df) if ivs and all(
        vc.get("name") != TIME_COLUMN
        for vc in query.get("virtualColumns") or []) else None

    ctx_opts = query.get("context") or {}
    # druid.generic.useDefaultValueForNull — legacy mode replaces null with
    # ''/0; exposed per-query here (the reference makes it a process-wide
    # config; a per-query context flag is a strict superset)
    if ctx_opts.get("useDefaultValueForNull"):
        df = _legacy_null_frame(df)

    for vc in query.get("virtualColumns") or []:
        # segment/virtual/ExpressionVirtualColumn.java — scan-time projection
        if vc.get("type", "expression") != "expression":
            raise ValueError(f"unsupported virtualColumn type {vc.get('type')!r}")
        from pyspark.sql import types as T
        from incubator_druid_spark.functions.druid_expr import (
            compile_expr_mvd)
        arr_cols = {f.name for f in df.schema.fields
                    if isinstance(f.dataType, T.ArrayType)}
        str_arr_cols = {f.name for f in df.schema.fields
                        if isinstance(f.dataType, T.ArrayType)
                        and isinstance(f.dataType.elementType, T.StringType)}
        str_cols = {f.name for f in df.schema.fields
                    if isinstance(f.dataType, T.StringType)}
        int_cols = {f.name for f in df.schema.fields
                    if isinstance(f.dataType, (T.LongType, T.IntegerType,
                                               T.ShortType, T.ByteType))}
        num_cols = {f.name for f in df.schema.fields
                    if isinstance(f.dataType, (T.DoubleType, T.FloatType,
                                               T.DecimalType))}
        # time columns read at their LONG storage (epoch millis) inside
        # expressions — `__time + 86400000` is plain arithmetic and an
        # outputType LONG/STRING cast renders millis, never Spark's
        # timestamp→seconds cast (Expr bindings via
        # ColumnValueSelector.getLong)
        ts_cols = {f.name for f in df.schema.fields
                   if isinstance(f.dataType, T.TimestampType)}

        # segments are schema-free in the reference: an expression over a
        # column absent from the segment reads null, not an analysis error
        # (ExpressionVirtualColumnTest testDimensionSelectorUsing
        # NonexistentColumn; same rule as FilterContext.resolve)
        _known = set(df.columns)

        def _vc_resolve(name):
            if name not in _known:
                return F.lit(None).cast("string")
            return F.col(name)

        col = compile_expr_mvd(vc["expression"], _vc_resolve, arr_cols,
                               str_cols, int_cols, num_cols,
                               timestamp_cols=ts_cols,
                               string_array_cols=str_arr_cols)
        from incubator_druid_spark.functions.lookups import flush_lookup_joins
        df = flush_lookup_joins(df)  # large-lookup refs inside the expr
        ot = vc.get("outputType")
        if ot and ot.upper() in ("LONG", "FLOAT", "DOUBLE", "STRING"):
            rtype = df.select(col.alias("__vc")).schema[0].dataType
            if isinstance(rtype, T.ArrayType):
                # an MVD-valued result — the auto-mapped scalar path, an
                # explicit map(), or an array function — is Druid's
                # multi-value STRING: never collapse the array to one
                # string (grouping explodes it instead); a STRING
                # outputType renders each ELEMENT as its Java string
                # (ExpressionVirtualColumnTest testMultiObjectSelector:
                # b * 2 over MVD b is ['2.0','4.0','6.0'])
                if ot.upper() == "STRING" \
                        and not isinstance(rtype.elementType, T.StringType):
                    col = F.transform(col, lambda x: x.cast("string"))
            else:
                if isinstance(rtype, T.TimestampType):
                    # time-macro results are LONG millis in Druid's type
                    # system (timestamp_floor returns ExprType.LONG):
                    # outputType LONG must be millis and STRING the millis
                    # digits — never Spark's timestamp→seconds /
                    # rendered-datetime casts
                    col = F.unix_millis(col)
                # lenient (try-semantics) cast: a string-valued expression
                # under outputType LONG truncates '10.1' → 10 and nulls
                # garbage, identically under ANSI on/off (Druid's
                # DimensionHandlerUtils.convertObjectToLong never throws)
                from incubator_druid_spark.functions.lenient import \
                    lenient_cast
                col = lenient_cast(col, ot.lower())
        if vc["name"] == TIME_COLUMN:
            # a virtual column REPLACING __time must stay the engine's
            # timestamp type (granularity bucketing floors it); expression
            # results carrying time are epoch millis
            rtype = df.select(col.alias("__vc")).schema[0].dataType
            if not isinstance(rtype, T.TimestampType):
                from incubator_druid_spark.functions.lenient import \
                    lenient_cast
                col = F.timestamp_millis(lenient_cast(col, "long"))
        df = df.withColumn(vc["name"], col)

    if ivs:
        pred = interval_predicate(ivs, F.col(TIME_COLUMN))
        if seg is not None:
            pred = pred & bucket_range(seg, ivs)
        df = df.filter(pred)

    flt = query.get("filter")
    if flt is not None:
        ctx = FilterContext(df)
        pred = compile_filter(flt, ctx)
        from incubator_druid_spark.functions.lookups import flush_lookup_joins
        df = flush_lookup_joins(df)  # large-lookup refs inside the predicate
        df = df.filter(pred)
    return df


def translate(query: dict, spark: SparkSession, catalog: Catalog) -> DataFrame:
    qt = query["queryType"]
    from incubator_druid_spark.operators import (groupby, metadata, scan, search,
                                                 timeseries, topn)
    dispatch = {
        "timeseries": timeseries.run,
        "groupBy": groupby.run,
        "topN": topn.run,
        "scan": scan.run,
        "search": search.run,
        "timeBoundary": metadata.time_boundary,
        "segmentMetadata": metadata.segment_metadata,
        "dataSourceMetadata": metadata.datasource_metadata,
    }
    if qt == "select":
        # query/select/SelectQuery.java:43-49 — removed upstream, directs to scan
        raise ValueError("'select' query was removed in Druid 0.17; use 'scan'")
    if qt not in dispatch:
        raise ValueError(f"unknown queryType {qt!r}")
    # Native Druid queries compute in UTC unless a granularity carries its
    # own timeZone (Granularities.nullToUtc — the server's machine zone is
    # never consulted).  A host session on a non-UTC zone would leak into
    # date_trunc floors, string→timestamp casts and toPandas rendering, so
    # execute under a UTC-pinned session clone (cached per host; the
    # engine's own sessions and the driver's are UTC already → no clone).
    # ANSI-on UTC hosts stay on the host session: the operator tree is
    # ANSI-independent by construction (lenient try_* routes).
    from incubator_druid_spark.sql.functions import (_UTC_ALIASES,
                                                     _exec_session,
                                                     compiling_for)
    if spark.conf.get("spark.sql.session.timeZone") not in _UTC_ALIASES:
        spark = _exec_session(spark, "UTC")
        catalog = catalog.for_session(spark)
    from incubator_druid_spark.functions.lookups import clear_lookup_joins
    clear_lookup_joins()  # drop leftovers from any abandoned prior compile
    _apply_scheduling(query, spark)
    with compiling_for(spark):
        out = dispatch[qt](query, spark, catalog)
    # helper aggregates synthesized by rewrite_sketch_query (theta/HLL set-op
    # rewrites) are internal — Druid never surfaces them in the result row
    helpers = [c for c in out.columns
               if c.startswith("__theta_union_") or c.startswith("__hll_union_")]
    if helpers:
        out = out.drop(*helpers)
    return out


def _apply_scheduling(query: dict, spark: SparkSession) -> None:
    """Query prioritization (server/.../QueryScheduler.java laning,
    QueryContexts.getPriority) as a Spark fair-scheduler pool for the jobs
    this thread triggers: context.lane names the pool; otherwise priority
    >0 picks 'high' and <0 'low' (default 0 → no pool).  The pool is a
    thread-local property, matching one query per request thread."""
    ctx = query.get("context") or {}
    pool = ctx.get("lane")
    if pool is None and "priority" in ctx:
        p = int(ctx["priority"])
        pool = "high" if p > 0 else "low" if p < 0 else None
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
