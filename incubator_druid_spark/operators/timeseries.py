"""timeseries query — time-bucketed aggregation, no dimension grouping.

Reference: query/timeseries/TimeseriesQuery.java:70-79 (fields) and
TimeseriesQueryEngine.java (per-segment fold by granular bucket; broker merges
buckets).  Spark: groupBy(granularity floor) + agg — partial aggregation
map-side, one shuffle on the bucket key, merge in the same plan.

Zero-filling: Druid emits a row for every granularity bucket in the query
intervals even when no rows landed there (unless context skipEmptyBuckets).
Empty buckets hold aggregator identity values (count → 0, sums → NULL in
SQL-compatible mode).  The bucket spine is enumerated driver-side by
``Granularity.spine()``, the one enumeration (time zone, calendar periods and
origin are exact; the bucket count is bounded by interval/granularity, not by
data size).  It enters the plan as a local relation (``session.local_frame``:
an Arrow table of epoch millis, planned as a LocalTableScan that runs with no
Python worker) and the aggregate is left-joined onto it.  Like Druid's
broker, the spine is clipped to the datasource's segment timeline: parquet
footer statistics give [minTime, maxTime], and segment days come from the
`__bucket` partition listing (itself a local relation) or a distinct-days
scan.  Nothing is built when zero-fill cannot add a bucket
(skipEmptyBuckets, or no filter at day-or-coarser granularity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_druid_spark.catalog import Catalog, TIME_COLUMN
from incubator_druid_spark.filters.filters import FilterContext
from incubator_druid_spark.model.granularity import parse_granularity
from incubator_druid_spark.model.intervals import (interval_predicate,
                                                   parse_intervals)
from incubator_druid_spark.operators.aggregations import (compile_aggregations,
                                                          compile_post_aggregations)
from incubator_druid_spark.plans.translator import prepare_frame
from incubator_druid_spark.session import local_frame

_ZERO_FILL_AGGS = {"count", "longSum", "doubleSum", "floatSum", "cardinality",
                   "hyperUnique"}


def run(query: dict, spark: SparkSession, catalog: Catalog) -> DataFrame:
    from incubator_druid_spark.operators.aggregations import rewrite_sketch_query
    from incubator_druid_spark.operators.tuple_keyed import analyze_keyed_aods
    keyed = analyze_keyed_aods(query)
    if keyed is None:
        query = rewrite_sketch_query(query)
    df = prepare_frame(query, spark, catalog)
    gran = parse_granularity(query.get("granularity", "all"))
    ctx = FilterContext(df)
    if keyed is not None:
        # keyed tuple-sketch post-aggs (ToVariances/TTest/SetOp/Quantiles):
        # two-level aggregation, time bucket as the grouping key.  Empty
        # buckets are not zero-filled on this path (sketch statistics over an
        # empty population are NaN anyway).
        from incubator_druid_spark.operators.tuple_keyed import run_keyed_aods
        post = compile_post_aggregations(keyed["remaining_posts"])
        if gran.kind == "all":
            out = run_keyed_aods(df, [], keyed, ctx)
        else:
            bucketed = df.withColumn(TIME_COLUMN,
                                     gran.floor(F.col(TIME_COLUMN)))
            out = run_keyed_aods(bucketed, [TIME_COLUMN], keyed, ctx)
        if post:
            for _p in post:
                out = out.select("*", _p)
        if gran.kind != "all":
            out = out.orderBy(F.col(TIME_COLUMN).desc()
                              if query.get("descending")
                              else F.col(TIME_COLUMN))
        limit = query.get("limit")
        return out.limit(int(limit)) if limit else out
    from incubator_druid_spark.functions.sketch_fold import grouped_agg
    folds = []
    aggs = compile_aggregations(query.get("aggregations"), ctx, query,
                                folds=folds)
    from incubator_druid_spark.functions.lookups import flush_lookup_joins
    df = flush_lookup_joins(df)  # large-lookup refs inside expression aggs
    if not aggs and not folds:
        aggs = [F.count(F.lit(1)).alias("count")]
    post = compile_post_aggregations(query.get("postAggregations"))

    if gran.kind == "all":
        out = grouped_agg(df, [], aggs, folds)
    else:
        out = grouped_agg(
            df, [gran.floor(F.col(TIME_COLUMN)).alias(TIME_COLUMN)],
            aggs, folds)
        out = _zero_fill(out, query, gran, spark, catalog)

    # TimeseriesQuery.CTX_TIMESTAMP_RESULT_FIELD — materialize the bucket
    # timestamp as a LONG millis result column (post-aggs may reference it;
    # Druid's SQL layer uses this for GROUP BY TIME_FLOOR rewrites)
    context = query.get("context") or {}
    ts_field = context.get("timestampResultField")
    if ts_field and gran.kind != "all":
        # resultArraySignature places the field right after __time
        # (TimeseriesQueryQueryToolChest.resultArraySignature)
        rest = [c for c in out.columns if c != TIME_COLUMN]
        out = out.select(TIME_COLUMN,
                         F.unix_millis(F.col(TIME_COLUMN)).alias(ts_field),
                         *rest)

    if post:
        for _p in post:
            out = out.select("*", _p)

    if gran.kind != "all":
        out = out.orderBy(F.col(TIME_COLUMN).desc() if query.get("descending")
                          else F.col(TIME_COLUMN))
        if context.get("grandTotal"):
            # TimeseriesQueryQueryToolChest grand-total row: overall aggregate
            # appended with a null timestamp
            tfolds = []
            taggs = compile_aggregations(query.get("aggregations"), ctx,
                                         query, folds=tfolds)
            if not taggs and not tfolds:
                taggs = [F.count(F.lit(1)).alias("count")]
            total = grouped_agg(df, [], taggs, tfolds)
            if post:
                total = total.select("*", *compile_post_aggregations(
                    query.get("postAggregations")))
            total = total.withColumn(TIME_COLUMN, F.lit(None).cast("timestamp"))
            out = out.unionByName(total)
    limit = query.get("limit")
    if limit:
        out = out.limit(int(limit))
    return out


def _zero_fill(out: DataFrame, query: dict, gran, spark: SparkSession,
               catalog) -> DataFrame:
    context = query.get("context") or {}
    if context.get("skipEmptyBuckets"):
        return out
    p = gran.period
    day_or_coarser = p is not None and (p.is_calendar
                                        or p.millis >= 86_400_000)
    filtered = query.get("filter") is not None
    if not filtered and day_or_coarser:
        # no dim filter → the aggregated buckets and the segment timeline see
        # the SAME rows, so every covered day-or-coarser bucket is already
        # present: zero-fill is a no-op
        return out
    ivs = parse_intervals(query.get("intervals"))
    if not ivs:
        return out  # unbounded → cannot enumerate buckets
    spine_ms = sorted({m for start, end in ivs
                       for m in gran.spine(start, end)})
    if not spine_ms or len(spine_ms) > 500_000:
        return out
    # exact timeline condensation at the OUTER edges: Druid's last segment
    # carries the data's true extent, so hour buckets of a partially-filled
    # final day don't zero-fill past maxTime (testTimeseriesQueryZeroFilling
    # ends at 2011-04-15T00, not T23).  Parquet row-group footer statistics
    # give the same [minTime, maxTime] driver-side with zero data read;
    # unavailable footers (remote store, stats missing) keep the coarser
    # partition/day coverage.
    from incubator_druid_spark.plans.datasource import resolve_datasource
    src = resolve_datasource(query["dataSource"], spark, catalog)
    files = _relation_files(src)
    extent = _footer_time_extent(src, files)
    if extent is not None:
        mn, mx = extent
        lo = 0
        for i, m in enumerate(spine_ms):  # bucket containing minTime stays
            if m <= mn:
                lo = i
            else:
                break
        spine_ms = [m for m in spine_ms[lo:] if m <= mx]
        if not spine_ms:
            return out
    spine = local_frame(spark, [(m,) for m in spine_ms],
                        f"{TIME_COLUMN} timestamp")
    # Druid only produces buckets where SEGMENTS exist: the broker condenses
    # query intervals to the segment timeline before zero-filling, so a
    # 1970-2020 query over 2011 data returns only 2011 buckets
    # (testTimeseriesWithFirstLastAggregator runs FULL_ON and expects 4
    # months, not 600), an INTERIOR day with no segment produces no bucket,
    # and an hour inside a day segment zero-fills even when no row matches
    # (testTimeseriesQueryZeroFilling fills all 24 hours of a day whose only
    # row is at 00:00).  Coverage is a property of the DATASOURCE, not the
    # filtered rows — a filter matching nothing still fills every covered
    # bucket (testTimeseriesWithNonExistentFilter) — so the segment-day set
    # (default segmentGranularity = DAY) comes from the UNFILTERED source,
    # interval-pruned only.  Lazy broadcast semi-join keeps translate()
    # action-free; the distinct-days set is #days-sized, the analogue of
    # Druid's in-memory segment timeline.
    if not filtered:
        # no dim filter → sub-day coverage is the distinct days of the
        # present buckets, without a second source scan
        seg_days = out.select(F.date_trunc("day", F.col(TIME_COLUMN))
                              .alias("__seg_day")).distinct()
    else:
        seg_days = _bucket_partition_days(src, files, ivs, spark)
        if seg_days is None:
            # non-bucketed source: fall back to a distinct-days scan of the
            # interval-pruned source (reads only the __time column)
            src = src.filter(interval_predicate(ivs, F.col(TIME_COLUMN)))
            seg_days = src.select(F.date_trunc("day", F.col(TIME_COLUMN))
                                  .alias("__seg_day")).distinct()
    if day_or_coarser:
        # bucket >= a day: keep buckets holding at least one segment day
        cond = gran.floor(F.col("__seg_day")) == F.col(TIME_COLUMN)
    else:
        # sub-day buckets: keep those inside a segment day
        cond = (F.date_trunc("day", F.col(TIME_COLUMN))
                == F.col("__seg_day"))
    spine = spine.join(F.broadcast(seg_days), cond, "left_semi")
    # no hint: the spine is the preserved side (Spark cannot build it) and
    # AQE broadcasts `out` from its exact post-aggregation size
    joined = spine.join(out, on=TIME_COLUMN, how="left")
    # aggregator identity values for empty buckets
    fills = []
    for spec in query.get("aggregations") or []:
        if spec["type"] == "filtered":
            # wrapper name wins, delegate only as fallback
            # (FilteredAggregatorFactory.getName); the TYPE is always the
            # delegate's
            name = spec.get("name") or spec["aggregator"].get("name")
            atype = spec["aggregator"]["type"]
        else:
            name = spec.get("name")
            atype = spec["type"]
        legacy = bool(context.get("useDefaultValueForNull"))
        state_mode = context.get("finalize") is False
        if atype in ("cardinality", "hyperUnique") and state_mode:
            # finalize=false: the column is sketch STATE (binary) — an
            # empty bucket's state is NULL, not 0
            fills.append(F.col(name))
        elif atype in ("count", "cardinality", "hyperUnique"):
            # counting aggregators are 0 over an empty bucket in both modes
            fills.append(F.coalesce(F.col(name), F.lit(0)).alias(name))
        elif atype in ("longSum", "doubleSum", "floatSum"):
            # sums over zero rows are NULL in SQL-compatible mode (the
            # aggregator's initial value — TimeseriesQueryRunnerTest
            # testTimeseriesWithNonExistentFilter asserts
            # NullHandling.defaultDoubleValue()); 0 only in legacy mode
            if legacy:
                zero = 0 if atype == "longSum" else 0.0
                fills.append(F.coalesce(F.col(name), F.lit(zero)).alias(name))
            else:
                fills.append(F.col(name))
        else:
            fills.append(F.col(name))
    if not (query.get("aggregations") or []):
        fills = [F.coalesce(F.col("count"), F.lit(0)).alias("count")]
    return joined.select(TIME_COLUMN, *fills)


def _relation_files(src: DataFrame) -> list[str] | None:
    """The input files of a SINGLE-relation frame, or None.  A join/union
    frame's inputFiles() mixes every input's files, so neither its footer
    extent nor its partition listing is the datasource's segment timeline."""
    import re

    try:
        plan = src._jdf.queryExecution().analyzed().toString()
        if re.search(r"(?m)^\s*[:+-]*\s*(?:Join|Union)\b", plan):
            return None
        return src.inputFiles()
    except Exception:  # pragma: no cover - non-file-backed frame
        return None


def _footer_time_extent(src: DataFrame,
                        files: list[str] | None) -> tuple[int, int] | None:
    """[min, max] of __time in epoch millis from parquet FOOTER row-group
    statistics — driver-side metadata only, the analogue of reading segment
    descriptors off Druid's timeline (DataSegment interval bounds).  Returns
    None (caller keeps day-grain coverage) for join/union frames (``files``
    None), non-local or non-parquet storage, too many files, or
    absent/odd-typed stats."""
    import datetime

    if not files or len(files) > 4096 or "__time" not in src.columns:
        return None
    # memoize per file LIST: segment files are immutable (writes create
    # new files / new versions), so the extent of a fixed set of paths is
    # stable — without this every granular timeseries query re-reads every
    # footer on the driver (~ms × #files before the job starts)
    key = tuple(sorted(files))
    if key in _EXTENT_CACHE:
        return _EXTENT_CACHE[key]
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return None
    def compute():
        utc = datetime.timezone.utc
        mn = mx = None
        for uri in files:
            if not uri.startswith("file:"):
                return None
            path = uri[5:]
            while path.startswith("//"):
                path = path[1:]
            try:
                md = pq.ParquetFile(path).metadata
            except Exception:
                return None
            idx = next((i for i in range(md.num_columns)
                        if md.schema.column(i).name == "__time"), None)
            if idx is None:
                return None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                lo, hi = st.min, st.max
                if not isinstance(lo, datetime.datetime):
                    return None  # e.g. raw TIMESTAMP(NANOS)-as-long storage
                lo = lo.replace(tzinfo=lo.tzinfo or utc).timestamp() * 1000
                hi = hi.replace(tzinfo=hi.tzinfo or utc).timestamp() * 1000
                mn = lo if mn is None else min(mn, lo)
                mx = hi if mx is None else max(mx, hi)
        if mn is None:
            return None
        return int(mn), int(mx)

    res = compute()
    if len(_EXTENT_CACHE) > 256:  # bound driver memory on churny catalogs
        _EXTENT_CACHE.clear()
    _EXTENT_CACHE[key] = res
    return res


_EXTENT_CACHE: dict = {}


def _bucket_partition_days(src: DataFrame, files: list[str] | None, ivs,
                           spark) -> DataFrame | None:
    """Segment-day coverage from the `__bucket` PARTITION LISTING — file
    metadata only, zero data read (the 100-TB analogue of Druid's in-memory
    segment timeline in CachingClusteredClient).  Tables written by
    sources/ingest partition by __bucket (yyyy-MM-dd'T'HH of the floored
    segment granularity), so the directory names enumerate exactly the
    segments that exist.  Returns a tiny local (__seg_day) frame, or None
    when the source isn't __bucket-partitioned / isn't a single file-backed
    relation (caller falls back to a distinct-days scan)."""
    import datetime
    import re

    if "__bucket" not in src.columns or not files:
        return None
    vals = set()
    for f in files:
        m = re.search(r"__bucket=([^/]+)/", f)
        if m:
            vals.add(m.group(1))
    if not vals:
        return None
    hours = set()
    for v in vals:
        try:
            hours.add(datetime.datetime.strptime(v, "%Y-%m-%dT%H")
                      .replace(tzinfo=datetime.timezone.utc))
        except ValueError:
            return None  # unexpected layout — let the scan path decide
    # segment span: hour-partitioned tables (any nonzero hour component)
    # cover [hour, hour+1h) per value; all-midnight listings are read as
    # DAY segments (Druid's default segmentGranularity — a day segment
    # covers the whole day, testTimeseriesQueryZeroFilling).  Prune at the
    # SEGMENT span against the query intervals BEFORE collapsing to days,
    # so a sub-day interval over hour segments doesn't zero-fill a day none
    # of whose segment hours overlap (timeline condensation,
    # CachingClusteredClient).
    hour_ms, day_ms = 3_600_000, 86_400_000
    span_ms = hour_ms if any(h.hour for h in hours) else day_ms
    days = set()
    for h in hours:
        ms = int(h.timestamp() * 1000)
        if any(s < ms + span_ms and ms < e for s, e in ivs):
            days.add(ms - ms % day_ms)
    return local_frame(spark, [(d,) for d in sorted(days)],
                       "__seg_day timestamp")
