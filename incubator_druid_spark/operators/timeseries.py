"""timeseries query — time-bucketed aggregation, no dimension grouping.

Reference: query/timeseries/TimeseriesQuery.java:70-79 (fields) and
TimeseriesQueryEngine.java (per-segment fold by granular bucket; broker merges
buckets).  Spark: groupBy(granularity floor) + agg — partial aggregation
map-side, one shuffle on the bucket key, merge in the same plan.

Zero-filling: Druid emits a row for every granularity bucket in the query
intervals even when no rows landed there (unless context skipEmptyBuckets).
Empty buckets hold aggregator identity values (count → 0, sums → NULL in
SQL-compatible mode).  Like Druid's broker, only buckets the datasource's
segment timeline covers are filled: those that overlap a segment inside the
query intervals and the [minTime, maxTime] extent.  The timeline
(``timeline.py``) is memoized per datasource version, so the buckets are
chosen in Python from ``Granularity.spine()``, the one enumeration
(time zone, calendar periods and origin are exact; the bucket count is
bounded by interval/granularity, not by data size).  They enter the plan as
a local relation (``session.local_frame``: an Arrow table of epoch millis,
planned as a LocalTableScan that runs with no Python worker) and the
aggregate is left-joined onto it, so the source is scanned once.  Nothing
is built when zero-fill cannot add a bucket (skipEmptyBuckets, or no filter
at day-or-coarser granularity over segments within UTC days).  A granular
result has at most one row per bucket, so within the spine cap it is sorted
in one partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_druid_spark.catalog import Catalog, TIME_COLUMN
from incubator_druid_spark.filters.filters import FilterContext
from incubator_druid_spark.model.granularity import parse_granularity
from incubator_druid_spark.model.intervals import parse_intervals
from incubator_druid_spark.operators.aggregations import (compile_aggregations,
                                                          compile_post_aggregations)
from incubator_druid_spark.plans.datasource import resolve_datasource
from incubator_druid_spark.plans.translator import prepare_frame
from incubator_druid_spark.session import local_frame
from incubator_druid_spark.timeline import (DAY_MS, segment_granularity,
                                            timeline, utc_day_segments)


def run(query: dict, spark: SparkSession, catalog: Catalog) -> DataFrame:
    from incubator_druid_spark.operators.aggregations import rewrite_sketch_query
    from incubator_druid_spark.operators.tuple_keyed import analyze_keyed_aods
    keyed = analyze_keyed_aods(query)
    if keyed is None:
        query = rewrite_sketch_query(query)
    src = resolve_datasource(query["dataSource"], spark, catalog)
    df = prepare_frame(query, spark, catalog, src)
    gran = parse_granularity(query.get("granularity", "all"))
    # within the spine cap: a granular result has at most that many rows,
    # and zero-fill can enumerate its buckets in Python
    bounded = gran.spine_fits(parse_intervals(query.get("intervals")))
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
                                     F.expr(gran.floor_sql(TIME_COLUMN)))
            out = run_keyed_aods(bucketed, [TIME_COLUMN], keyed, ctx)
        for _p in post:
            out = out.select("*", _p)
        if gran.kind != "all":
            out = _sorted(out, query, bounded)
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
            df, [F.expr(gran.floor_sql(TIME_COLUMN)).alias(TIME_COLUMN)],
            aggs, folds)
        if bounded:
            out = _zero_fill(out, query, gran, spark, catalog, src)

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

    for _p in post:
        out = out.select("*", _p)

    if gran.kind != "all":
        out = _sorted(out, query, bounded)
        if context.get("grandTotal"):
            # TimeseriesQueryQueryToolChest grand-total row: overall aggregate
            # appended with a null timestamp
            total = grouped_agg(df, [], aggs, folds).select("*", *post)
            total = total.withColumn(TIME_COLUMN, F.lit(None).cast("timestamp"))
            out = out.unionByName(total)
    limit = query.get("limit")
    if limit:
        out = out.limit(int(limit))
    return out


def _sorted(out: DataFrame, query: dict, bounded: bool) -> DataFrame:
    if bounded:
        # at most one row per bucket: sort in one partition, with no
        # range-partitioning sample job and no shuffle
        out = out.coalesce(1)
    return out.orderBy(F.col(TIME_COLUMN).desc() if query.get("descending")
                       else F.col(TIME_COLUMN))


def _zero_fill(out: DataFrame, query: dict, gran, spark: SparkSession,
               catalog, src: DataFrame) -> DataFrame:
    context = query.get("context") or {}
    if context.get("skipEmptyBuckets"):
        return out
    p = gran.period
    if query.get("filter") is None and (p.is_calendar or p.millis >= DAY_MS) \
            and utc_day_segments(segment_granularity(catalog, src)):
        # no dim filter, and every segment lies in a UTC day holding rows:
        # every covered day-or-coarser bucket is already present
        return out
    # Druid fills only buckets where SEGMENTS exist, within [minTime,
    # maxTime] (testTimeseriesWithFirstLastAggregator: FULL_ON gives 4
    # months, not 600; testTimeseriesQueryZeroFilling: all hours of a day
    # segment up to maxTime), whatever the filter matches
    # (testTimeseriesWithNonExistentFilter).
    ivs = parse_intervals(query.get("intervals"))
    keep = timeline(src, ivs).buckets(gran, ivs)
    spine = local_frame(spark, [(m,) for m in keep],
                        f"{TIME_COLUMN} timestamp")
    # the spine is one partition: over a one-partition source the join
    # plans no exchange; otherwise AQE broadcasts `out` from its exact
    # post-aggregation size (the spine, the preserved side, cannot be built).
    # Null-safe equality: the isnotnull(key) Catalyst infers from a plain
    # equi-join goes below the aggregate and evaluates the bucketing
    # expression a second time per row
    joined = spine.join(out, spine[TIME_COLUMN].eqNullSafe(out[TIME_COLUMN]),
                        "left").drop(out[TIME_COLUMN])
    # aggregator identity values for empty buckets
    fills = []
    for spec in query.get("aggregations") or []:
        # a filtered wrapper's name wins, its delegate's only as fallback
        # (FilteredAggregatorFactory.getName); the TYPE is the delegate's
        inner = spec["aggregator"] if spec["type"] == "filtered" else spec
        name, atype = spec.get("name") or inner.get("name"), inner["type"]
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
