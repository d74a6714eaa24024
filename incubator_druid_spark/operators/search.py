"""search query — find dimension VALUES matching a pattern.

Reference: query/search/SearchQueryRunner.java; result rows are
(dimension, value, count) sorted by a SearchSortSpec
(query/search/SearchSortSpec.java: lexicographic | alphanumeric | numeric |
strlen).  Druid has two strategies (UseIndexesStrategy walks bitmap-index
dictionaries, CursorOnlyStrategy scans); Spark has no per-value dictionary
exposed, so we scan — but the scan is a single pass producing all dimensions'
matches at once via an unpivot (stack), with MVD columns exploded first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_druid_spark.catalog import Catalog, TIME_COLUMN
from incubator_druid_spark.filters.filters import (_ordering_sort_key,
                                                    compile_search_spec)
from incubator_druid_spark.model.granularity import parse_granularity
from incubator_druid_spark.plans.translator import prepare_frame


def run(query: dict, spark: SparkSession, catalog: Catalog) -> DataFrame:
    df = prepare_frame(query, spark, catalog)
    gran = parse_granularity(query.get("granularity", "all"))

    types = {f.name: f.dataType for f in df.schema.fields}
    # dimension SPECS (outputType / extractionFn) compile through the shared
    # dimension layer; bare names search the raw column
    from incubator_druid_spark.operators.dimensions import dimension_column
    dim_cols: list[tuple] = []
    for d in (query.get("searchDimensions") or []):
        if isinstance(d, str):
            # a nonexistent dimension reads as NULL (no values → no hits),
            # same schema-free semantics as groupBy
            col = F.col(d) if d in types else F.lit(None).cast("string")
            dim_cols.append((d, col,
                             isinstance(types.get(d), T.ArrayType)))
        else:
            dim_cols.append(dimension_column(d, df))
            from incubator_druid_spark.functions.lookups import (
                flush_lookup_joins)
            df = flush_lookup_joins(df)  # large-lookup extraction refs
    if not dim_cols:
        # no searchDimensions → every string dimension, INCLUDING
        # multi-value ones (SearchQueryRunnerTest.testSearch expects hits
        # from the MVD placementish)
        dim_cols = [(f.name, F.col(f.name),
                     isinstance(f.dataType, T.ArrayType))
                    for f in df.schema.fields
                    if (isinstance(f.dataType, T.StringType)
                        or (isinstance(f.dataType, T.ArrayType)
                            and isinstance(f.dataType.elementType,
                                           T.StringType)))
                    and f.name != TIME_COLUMN]
    per_bucket = gran.kind != "all"

    # ONE scan: unpivot every search dimension into an array of
    # (dimension, value) structs and explode — a union of per-dimension
    # branches would scan the source once per dimension (no exchange reuse
    # across differing branches), which is N full scans at scale.  MVD
    # columns contribute one entry per element; null arrays become empty so
    # a row's other dimensions survive the concat.
    def _tagger(dname):
        # single-arg lambda: pyspark reads a 2-arg lambda as (value, index)
        return lambda v: F.struct(F.lit(dname).alias("dimension"),
                                  v.cast("string").alias("value"))

    entries = []
    for d, col, is_arr in dim_cols:
        if is_arr:
            entries.append(F.coalesce(F.transform(col, _tagger(d)), F.array()))
        else:
            entries.append(F.array(F.struct(
                F.lit(d).alias("dimension"), col.cast("string").alias("value"))))
    arr = F.concat(*entries) if len(entries) > 1 else entries[0]
    sel = [F.explode(arr).alias("dv")]
    if per_bucket:
        sel = [F.expr(gran.floor_sql(TIME_COLUMN)).alias(TIME_COLUMN)] + sel
    out = df.select(*sel).select(
        *([TIME_COLUMN] if per_bucket else []),
        F.col("dv.dimension").alias("dimension"),
        F.col("dv.value").alias("value"))
    # filter before the groupBy so the shuffle carries matches only.
    # A missing query spec is the ALL spec (Druids.SearchQueryBuilder
    # defaults to AllSearchQuerySpec), which accepts null values too —
    # testSearchWithNullValueInDimension reports (dim, null) hits
    spec = query.get("query")
    if spec is None or spec == "":
        pass  # every value, nulls included
    elif isinstance(spec, str):
        # convenience: bare string = insensitive contains
        out = out.filter(compile_search_spec(
            {"type": "insensitive_contains", "value": spec}, F.col("value")))
    else:
        out = out.filter(compile_search_spec(spec, F.col("value")))

    keys = ([TIME_COLUMN] if per_bucket else []) + ["dimension", "value"]
    out = out.groupBy(*keys).agg(F.count(F.lit(1)).alias("count"))

    sort = (query.get("sort") or {}).get("type", "lexicographic")
    out = out.orderBy(_ordering_sort_key(F.col("value"), sort).asc(),
                      F.col("dimension").asc())

    # SearchQuery default limit is 1000 (query/search/SearchQuery.java)
    limit = query.get("limit", 1000)
    if limit is not None:
        out = out.limit(int(limit))
    return out
