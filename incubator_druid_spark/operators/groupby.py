"""groupBy query — multi-dimension grouped aggregation with having/limit/subtotals.

Reference: query/groupby/GroupByQuery.java:137-149 (fields); engine v2
epinephelinae/GroupByQueryEngineV2.java (off-heap hash agg + spill + broker
merge, GroupByStrategyV2.java:199).  All of that physical machinery is Tungsten
HashAggregateExec here: map-side partial agg, shuffle on group keys, final agg —
one declarative groupBy.

- having specs: query/groupby/having/*.java → post-aggregation filter Column.
- limitSpec: query/groupby/orderby/DefaultLimitSpec.java → orderBy + offset +
  limit; per-column `dimensionOrder` comparators via the sortable-key exprs
  (query/ordering/StringComparators.java).  Catalyst turns orderBy+limit into
  TakeOrderedAndProject (per-partition top-K then merge) — the same limit
  pushdown GroupByQuery.java:430-433 hand-implements.
- subtotalsSpec: GroupByQuery.java:115,148 → one grouped aggregate per subtotal
  list, unioned (Druid re-processes the base result the same way,
  GroupByStrategyV2.processSubtotalsSpec:465).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_druid_spark.catalog import Catalog, TIME_COLUMN
from incubator_druid_spark.filters.filters import (FilterContext,
                                                    _ordering_sort_key,
                                                   compile_filter)
from incubator_druid_spark.model.granularity import parse_granularity
from incubator_druid_spark.operators.aggregations import (compile_aggregations,
                                                          compile_post_aggregations)
from incubator_druid_spark.model.columns import qcol
from incubator_druid_spark.operators.dimensions import apply_dimensions
from incubator_druid_spark.plans.translator import prepare_frame

_GRANULE = "__granule"  # the time bucket key, renamed __time on return


def run(query: dict, spark: SparkSession, catalog: Catalog) -> DataFrame:
    from incubator_druid_spark.operators.aggregations import rewrite_sketch_query
    from incubator_druid_spark.operators.tuple_keyed import analyze_keyed_aods
    keyed = analyze_keyed_aods(query)
    if keyed is None:
        query = rewrite_sketch_query(query)
    df = prepare_frame(query, spark, catalog)
    gran = parse_granularity(query.get("granularity", "all"))

    df, dim_names = apply_dimensions(df, query.get("dimensions"))

    keys = list(dim_names)
    if gran.kind not in ("all",):
        df = df.withColumn(_GRANULE, F.expr(gran.floor_sql(TIME_COLUMN)))
        keys = [_GRANULE] + keys

    ctx = FilterContext(df)
    agg_specs = query.get("aggregations") or []

    # GroupByQuery.java verifyOutputNames — dimension / aggregator /
    # post-aggregator output names must be unique
    seen: set[str] = set()
    for n in (list(dim_names)
              + [a.get("aggregator", {}).get("name")
                 if a.get("type") == "filtered" else a.get("name")
                 for a in agg_specs]
              + [p.get("name") for p in query.get("postAggregations") or []]):
        if n is None:
            continue
        if n == TIME_COLUMN:
            # GroupByQuery.java — reserved output name
            raise ValueError(
                "'__time' cannot be used as an output name for dimensions, "
                "aggregators, or post-aggregators.")
        if n in seen:
            raise ValueError(f"[{n}] already defined")
        seen.add(n)

    subtotals = query.get("subtotalsSpec")
    if subtotals:
        if keyed is not None:
            raise NotImplementedError(
                "keyed tuple-sketch post-aggs cannot combine with "
                "subtotalsSpec; run subtotal lists as separate queries")
        out = _subtotals(df, keys, dim_names, subtotals, agg_specs, ctx)
    elif keyed is not None:
        from incubator_druid_spark.operators.tuple_keyed import run_keyed_aods
        out = run_keyed_aods(df, keys, keyed, ctx)

    else:
        from incubator_druid_spark.functions.sketch_fold import grouped_agg
        folds = []
        aggs = compile_aggregations(agg_specs, ctx, query, folds=folds)
        from incubator_druid_spark.functions.lookups import flush_lookup_joins
        df = flush_lookup_joins(df)  # large-lookup refs inside expr aggs
        if not aggs and not folds and keys:
            # no aggregators (GroupByQueryRunnerTest.testGroupByNoAggregators)
            # — the result is the distinct group keys
            out = df.select(*[qcol(k) for k in keys]).distinct()
        else:
            out = grouped_agg(df, [qcol(k) for k in keys], aggs, folds)

    # resource guards apply to the INTERMEDIATE grouped rows — Druid's
    # grouper raises while building groups, before having prunes them
    out = _apply_resource_limits(out, query.get("context") or {}, dim_names)

    post = compile_post_aggregations(
        keyed["remaining_posts"] if keyed is not None
        else query.get("postAggregations"))
    if post:
        for _p in post:
            out = out.select("*", _p)

    having = query.get("having")
    if having is not None:
        out = out.filter(_having_predicate(having, out))

    out = _apply_limit_spec(
        out, query.get("limitSpec"), dim_names,
        sort_dims_first=bool(
            (query.get("context") or {}).get("sortByDimsFirst")))

    if _GRANULE in out.columns:
        out = out.withColumnRenamed(_GRANULE, TIME_COLUMN)
    return out


def _subtotals(df: DataFrame, keys, dim_names, subtotals, agg_specs,
               ctx) -> DataFrame:
    """subtotalsSpec via NATIVE grouping sets — one scan + one shuffle for
    all subtotal lists (Druid re-processes the base result per list,
    GroupByStrategyV2.processSubtotalsSpec:465; Catalyst's Expand operator
    does the same replication pipeline-side, which is what survives a 100×
    scale-up).  The `grouping` aggregator (GroupingAggregatorFactory.java)
    maps onto the native GROUPING() bitmask."""
    from incubator_druid_spark.operators.aggregations import compile_aggregator
    time_keys = [k for k in keys if k not in dim_names]
    sets = [[qcol(d) for d in dim_names if d in subset] for subset in subtotals]
    if time_keys:
        sets = [[qcol(t) for t in time_keys] + s for s in sets]
    # grouping aggs compile to the order-independent composed F.grouping
    # bits (aggregations.py) — F.grouping_id would demand its argument list
    # match ALL grouping columns (incl. time keys) exactly, crashing valid
    # subset/reordered `groupings` lists
    from incubator_druid_spark.functions.lookups import flush_lookup_joins
    aggs = [compile_aggregator(spec, ctx) for spec in agg_specs]
    df = flush_lookup_joins(df)  # large-lookup refs inside the aggregators
    grouped = df.groupingSets(sets, *[qcol(k) for k in keys])
    return grouped.agg(*aggs)


# -- resource-limit context (QueryContexts / GroupByQueryConfig) ------------

def _apply_resource_limits(out: DataFrame, ctx: dict, dim_names: list[str]):
    """Druid's per-query resource guardrails as RUNTIME guards
    (GroupByQueryRunnerTest context-override family):

    - maxResults (v1 broker cap) and bufferGrouperMaxSize-with-spill-
      disabled (v2 buffer grouper): more result groups than allowed raises
      ResourceLimitExceededException.
    - maxMergingDictionarySize: the merge dictionary holds the grouping
      key strings; when their total bytes exceed the cap the overflow
      spills — with maxOnDiskStorage=0 that raises 'Not enough dictionary
      space', with a too-small positive maxOnDiskStorage 'Not enough disk
      space' (GroupByQueryRunnerTest:2022,2084).

    The guard columns are added ONLY when the context sets these keys, so
    ordinary queries keep their shuffle-free plans; the guarded count runs
    over the already-aggregated (small) frame.  In this engine the limits
    are honored as contracts — Tungsten manages actual memory/spill."""
    max_results = ctx.get("maxResults")
    buffer_max = ctx.get("bufferGrouperMaxSize")
    dict_max = ctx.get("maxMergingDictionarySize")
    disk_max = ctx.get("maxOnDiskStorage")
    spill_off = disk_max is not None and int(disk_max) == 0

    cap = None
    msg = None
    if max_results is not None and int(max_results) >= 0:
        cap = int(max_results)
        msg = (f"Resource limit exceeded: maxResults[{cap}] — "
               "not enough resources to execute this query")
    if buffer_max is not None and spill_off:
        c2 = int(buffer_max)
        if cap is None or c2 < cap:
            cap = c2
            msg = "Not enough aggregation buffer space to execute this query"
    if cap is not None:
        # a broadcast one-row probe carrying the (cap-bounded) group count,
        # joined back as a filter so the guard stays in the executed plan —
        # NOT a global Window.orderBy row_number, which would funnel every
        # result group through a single sorted partition at scale
        probe = (out.select(F.lit(1).alias("__one")).limit(cap + 1)
                    .groupBy().agg(F.count("*").alias("__n")))
        out = (out.join(F.broadcast(probe))
                  .filter(F.when(F.col("__n") > F.lit(cap),
                                 F.raise_error(F.lit(msg)).cast("boolean"))
                          .otherwise(F.lit(True)))
                  .drop("__n"))

    if dict_max is not None:
        str_dims = [f.name for f in out.schema.fields
                    if f.name in dim_names
                    and isinstance(f.dataType, T.StringType)]
        est = F.lit(8 * max(1, len(dim_names)))
        for n in str_dims:
            est = est + F.coalesce(F.length(qcol(n)) * 2, F.lit(0))
        dmsg = ("Not enough disk space to execute this query"
                if (disk_max is not None and int(disk_max) > 0)
                else "Not enough dictionary space to execute this query")
        # distributed partial-aggregated total, broadcast back as a one-row
        # probe (the previous global running-sum window single-partitioned
        # the whole result); total > cap ⟺ some prefix exceeds, so the
        # raise condition is identical
        probe = (out.select(est.alias("__sz")).groupBy()
                    .agg(F.sum("__sz").alias("__dictsz")))
        out = (out.join(F.broadcast(probe))
                  .filter(F.when(F.col("__dictsz") > F.lit(int(dict_max)),
                                 F.raise_error(F.lit(dmsg)).cast("boolean"))
                          .otherwise(F.lit(True)))
                  .drop("__dictsz"))
    return out


# -- having ------------------------------------------------------------------

def _having_ctx(out: DataFrame) -> FilterContext:
    """Having filters run over RESULT rows, where the reference renders
    __time as epoch MILLIS (ResultRow position 0 is a long;
    DimFilterHavingSpec.eval feeds it to the filter as a long) — expose the
    bucket timestamp as a millis virtual so selector/bound specs on __time
    compare numerically.  At having time the bucket column still has its
    internal name (renamed on return)."""
    tcol = _GRANULE if _GRANULE in out.columns else TIME_COLUMN
    if tcol in out.columns:
        return FilterContext(
            out, virtual={TIME_COLUMN: F.unix_millis(qcol(tcol))})
    return FilterContext(out)


def _having_predicate(spec: dict, out: DataFrame):
    """query/groupby/having/: filter | equalTo | greaterThan | lessThan |
    dimSelector | and | or | not | always."""
    t = spec["type"]
    if t == "filter":
        return compile_filter(spec["filter"], _having_ctx(out))
    if t == "equalTo":
        return F.col(spec["aggregation"]) == F.lit(spec["value"])
    if t == "greaterThan":
        return F.col(spec["aggregation"]) > F.lit(spec["value"])
    if t == "lessThan":
        return F.col(spec["aggregation"]) < F.lit(spec["value"])
    if t == "dimSelector":
        return F.col(spec["dimension"]).cast("string") == F.lit(str(spec["value"]))
    if t == "and":
        preds = [_having_predicate(s, out) for s in spec["havingSpecs"]]
        p = preds[0]
        for q in preds[1:]:
            p = p & q
        return p
    if t == "or":
        preds = [_having_predicate(s, out) for s in spec["havingSpecs"]]
        p = preds[0]
        for q in preds[1:]:
            p = p | q
        return p
    if t == "not":
        return ~_having_predicate(spec["havingSpec"], out)
    if t == "always":
        return F.lit(True)
    if t == "never":
        # query/groupby/having/NeverHavingSpec.java — eval() is always false
        return F.lit(False)
    raise ValueError(f"unknown having spec {t!r}")


# -- limitSpec ---------------------------------------------------------------

def _apply_limit_spec(out: DataFrame, spec: dict | None, dim_names,
                      sort_dims_first: bool = False) -> DataFrame:
    if not spec:
        # even with no limitSpec the merge emits Druid's DEFAULT row
        # ordering — (time, dims) ascending, or (dims, time) under
        # sortByDimsFirst (GroupByQuery.getRowOrdering).  The sort runs over
        # the aggregated result, not the input, so it stays cheap at scale.
        order = [qcol(d).asc() for d in dim_names]
        if _GRANULE in out.columns:
            order = (order + [F.col(_GRANULE).asc()] if sort_dims_first
                     else [F.col(_GRANULE).asc()] + order)
        return out.orderBy(*order) if order else out
    if spec.get("type", "default") != "default":
        raise ValueError(f"unknown limitSpec type {spec.get('type')!r}")
    cols = spec.get("columns") or []
    order_exprs = []
    for c in cols:
        if isinstance(c, str):
            c = {"dimension": c}
        name = c["dimension"]
        direction = c.get("direction", "ascending")
        comparator = c.get("dimensionOrder", "lexicographic")
        col = qcol(name)
        # comparator applies to string dims (numeric included —
        # _ordering_sort_key handles it); numeric agg columns sort natively
        if comparator != "lexicographic" and name in dim_names:
            col = _ordering_sort_key(col, comparator)
        order_exprs.append(col.desc() if str(direction).lower().startswith("desc")
                           else col.asc())
    if not order_exprs and (spec.get("limit") is not None
                            or spec.get("offset")):
        # a limit/offset with no ordering columns still pages over Druid's
        # DEFAULT result ordering — (time, dims) ascending
        # (GroupByQuery.getRowOrdering; the merge always emits that order)
        order_exprs = [qcol(d).asc() for d in dim_names]
    elif order_exprs:
        # the limitSpec sort is STABLE over the merge's (time, dims) base
        # ordering (LimitedBufferHashGrouper keeps insertion order on ties),
        # so dimensions not named in the spec break ties ascending — e.g.
        # ordering by a hyperUnique metric with equal estimates returns the
        # tied groups in dimension order
        listed = {(c if isinstance(c, str) else c["dimension"]) for c in cols}
        order_exprs += [qcol(d).asc() for d in dim_names if d not in listed]
    if order_exprs:
        # DefaultLimitSpec.makeComparator:393-396 — for granular queries the
        # row timestamp orders FIRST (then the limit columns); with
        # sortByDimsFirst the columns order first and time breaks ties
        if _GRANULE in out.columns:
            order_exprs = (order_exprs + [F.col(_GRANULE).asc()]
                           if sort_dims_first
                           else [F.col(_GRANULE).asc()] + order_exprs)
        out = out.orderBy(*order_exprs)
    offset = int(spec.get("offset") or 0)
    if offset:
        out = out.offset(offset)
    if spec.get("limit") is not None:
        if int(spec["limit"]) < 0:
            # DefaultLimitSpec.java — "limit[%s] must be >= 0"
            raise ValueError(f"limit[{spec['limit']}] must be >= 0")
        out = out.limit(int(spec["limit"]))
    return out
