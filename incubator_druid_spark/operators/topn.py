"""topN query — top-K groups of ONE dimension by a metric.

Reference: query/topn/TopNQuery.java:64-74; PooledTopNAlgorithm.java computes
per-segment top-K then merges (approximate under multi-segment merge,
minTopNThreshold in TopNQueryConfig.java).  We compute the EXACT answer:
groupBy(dim).agg(...).orderBy(metric).limit(K) — Catalyst plans the sort+limit
as TakeOrderedAndProject (per-partition top-K, merge K·partitions rows at the
driver), which is the same algorithm Druid approximates but with a correct
global merge.  Documented capability upgrade (SURVEY §2.1): exact ⊇ approximate.

Metric specs (query/topn/metric/): numeric (desc by agg), dimension
(by dim value with a StringComparator), lexicographic (legacy), inverted
(reverses the inner ordering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_druid_spark.catalog import Catalog, TIME_COLUMN
from incubator_druid_spark.filters.filters import (FilterContext,
                                                   _ordering_key,
                                                   _ordering_sort_key)
from incubator_druid_spark.model.granularity import parse_granularity
from incubator_druid_spark.operators.aggregations import (compile_aggregations,
                                                          compile_post_aggregations)
from incubator_druid_spark.model.columns import qcol
from incubator_druid_spark.operators.dimensions import apply_dimensions
from incubator_druid_spark.plans.translator import prepare_frame

_GRANULE = "__granule"  # the time bucket key, renamed __time on return


def run(query: dict, spark: SparkSession, catalog: Catalog) -> DataFrame:
    from incubator_druid_spark.operators.aggregations import rewrite_sketch_query
    query = rewrite_sketch_query(query)
    df = prepare_frame(query, spark, catalog)
    gran = parse_granularity(query.get("granularity", "all"))
    df, dim_names = apply_dimensions(df, [query["dimension"]], query_type="topN")
    dim = dim_names[0]

    keys = [dim]
    per_bucket = gran.kind != "all"
    if per_bucket:
        df = df.withColumn(_GRANULE, F.expr(gran.floor_sql(TIME_COLUMN)))
        keys = [_GRANULE, dim]

    # DimensionTopNMetricSpec.previousStop: pagination — only dimension
    # values strictly after the stop (query/topn/DimensionTopNMetricSpec.java)
    metric_spec = query["metric"]
    inner, stop_inverted = metric_spec, False
    while isinstance(inner, dict) and inner.get("type") == "inverted":
        # InvertedTopNMetricSpec reverses the comparator, so "after the
        # previousStop" in the reversed order = strictly BEFORE it naturally
        inner = inner["metric"]
        stop_inverted = not stop_inverted
    if isinstance(inner, dict) and inner.get("previousStop") is not None:
        from incubator_druid_spark.filters.filters import _ordering_key
        ordering = inner.get("ordering", "lexicographic")
        key = _ordering_key(qcol(dim), ordering)
        skey = _ordering_key(F.lit(str(inner["previousStop"])), ordering)
        df = df.filter(key < skey if stop_inverted else key > skey)

    ctx = FilterContext(df)
    from incubator_druid_spark.functions.sketch_fold import grouped_agg
    folds = []
    aggs = compile_aggregations(query.get("aggregations"), ctx, query,
                                folds=folds)
    from incubator_druid_spark.functions.lookups import flush_lookup_joins
    df = flush_lookup_joins(df)  # large-lookup refs inside expression aggs
    if aggs or folds:
        out = grouped_agg(df, [qcol(k) for k in keys], aggs, folds)
    else:
        # no aggregators (TopNQueryRunnerTest.testSortOnDoubleAsLong /
        # testTopNLexicographicNoAggregators): distinct dimension values,
        # ordered by the metric spec only
        out = df.select(*[qcol(k) for k in keys]).distinct()

    post = compile_post_aggregations(query.get("postAggregations"))
    if post:
        for _p in post:
            out = out.select("*", _p)

    order = _metric_order(query["metric"], dim, invert=False)
    k = int(query["threshold"])

    # null metric values RANK (smallest) rather than being omitted: the
    # numeric spec's comparator is the aggregator factory's nullsFirst
    # ordering (LongSumAggregator.COMPARATOR via NumericTopNMetricSpec
    # .getComparator), so test_topN_orderBy*NumericColumnWithNulls expects
    # all 13 groups with the null-metric rows last in descending order —
    # which is Spark's desc default (desc_nulls_last)

    if per_bucket:
        # top-K within each time bucket → window rank (single shuffle on the
        # bucket+dim keys already done by the agg; rank reuses that partitioning)
        from pyspark.sql import Window
        w = Window.partitionBy(_GRANULE).orderBy(*order)
        out = (out.withColumn("__rank", F.row_number().over(w))
                  .filter(F.col("__rank") <= k).drop("__rank")
                  .orderBy(_GRANULE, *order)
                  .withColumnRenamed(_GRANULE, TIME_COLUMN))
        return out
    return out.orderBy(*order).limit(k)


def _metric_order(metric_spec, dim: str, invert: bool):
    if isinstance(metric_spec, str):
        metric_spec = {"type": "numeric", "metric": metric_spec}
    t = metric_spec["type"]
    if t == "numeric":
        # TopNNumericResultBuilder:96-99 — metric first, DIM_VALUE_COMPARATOR
        # ascending on ties (testTopNDimExtractionFastTopN* bakes the
        # tie-break into its ordering-prefixed rename map)
        col = qcol(metric_spec["metric"])
        return [col.asc() if invert else col.desc(), qcol(dim).asc()]
    if t == "inverted":
        return _metric_order(metric_spec["metric"], dim, not invert)
    if t == "dimension":
        ordering = metric_spec.get("ordering", "lexicographic")
        col = _ordering_sort_key(qcol(dim), ordering)
        return [col.desc() if invert else col.asc()]
    if t == "lexicographic":
        col = qcol(dim).cast("string")
        return [col.desc() if invert else col.asc()]
    if t == "alphaNumeric":
        # AlphaNumericTopNMetricSpec.java — legacy dimension sort with the
        # alphanumeric StringComparator
        col = _ordering_sort_key(qcol(dim), "alphanumeric")
        return [col.desc() if invert else col.asc()]
    raise ValueError(f"unknown topN metric spec {t!r}")
