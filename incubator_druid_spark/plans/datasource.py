"""DataSource algebra → DataFrame.

Reference: processing/.../query/DataSource.java:33-39 enumerates table, query,
union, join, lookup, inline, globalTable.  The broker resolves this tree by
inlining subqueries (ClientQuerySegmentWalker.java:152-190) and requiring a
broadcastable right for joins (HashJoinEngine.java:35-55 — Druid has ONLY
broadcast hash join, equi-condition, right side a table/lookup/inline).

Spark-first: the tree maps 1:1 onto DataFrame combinators; subqueries are free
(no maxSubqueryRows cap — Spark executes them distributed instead of inlining
at a coordinator), joins get `broadcast()` hints where Druid *requires*
broadcastability (global/lookup/inline right sides) and otherwise let Catalyst/
AQE choose shuffle vs broadcast — a strict superset (large-large joins work).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incubator_druid_spark.catalog import Catalog
from incubator_druid_spark.session import local_frame


def resolve_datasource(spec, spark, catalog: Catalog) -> DataFrame:
    if isinstance(spec, str):  # shorthand for table
        return catalog.table(spec)
    t = spec["type"]
    if t == "table":
        return catalog.table(spec["name"])
    if t == "query":
        # query/QueryDataSource.java — subquery as input
        from incubator_druid_spark.plans.translator import translate
        inner = translate(spec["query"], spark, catalog)
        if "__time" not in inner.columns:
            # an ALL-granularity inner result still carries a row timestamp
            # in Druid (AllGranularity buckets to the query interval start),
            # which outer interval filters / day buckets read
            from incubator_druid_spark.model.intervals import parse_intervals
            ivs = parse_intervals(spec["query"].get("intervals"))
            start = ivs[0][0] if ivs else 0
            inner = inner.withColumn(
                "__time", F.timestamp_millis(F.lit(int(start))))
        iq = spec["query"]
        if iq.get("queryType") == "groupBy" and "__rowid" not in inner.columns:
            # Druid materializes subquery results in the groupBy's default
            # row order — (time, dims) per GroupByQuery.getRowOrdering — and
            # outer first/last aggregators tie-break equal timestamps by
            # that order (testSubqueryWithFirstLast: the month's `first` is
            # the alphabetically-first market of the first day).  Encode the
            # dim ordering as a sortable struct so min_by/max_by see the
            # exact sequence without a global sort.  A limitSpec with its
            # own ordering replaces the default order; ties stay arbitrary
            # there, same as a Druid segment from unordered input.
            dims = [d.get("outputName", d.get("dimension"))
                    if isinstance(d, dict) else d
                    for d in iq.get("dimensions") or []]
            lim_cols = (iq.get("limitSpec") or {}).get("columns") or []
            if dims and not lim_cols:
                inner = inner.withColumn(
                    "__rowid",
                    F.struct(*[F.col(f"`{n}`").alias(f"d{i}")
                               for i, n in enumerate(dims)]))
        return inner
    if t == "union":
        # query/UnionDataSource.java:34-58 — union of TABLES, matched by name
        dfs = [catalog.table(n) for n in spec["dataSources"]]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out
    if t == "join":
        return _join(spec, spark, catalog)
    if t == "lookup":
        # query/LookupDataSource.java — columns named k, v
        return F.broadcast(catalog.lookup_df(spec["lookup"]))
    if t == "inline":
        # query/InlineDataSource.java — literal rows.  columnTypes (when
        # given) define the schema: type inference would crash on an
        # all-null column and read declared DOUBLEs as long.
        cols = spec["columnNames"]
        rows = [tuple(r) for r in spec["rows"]]
        types = spec.get("columnTypes")
        if types:
            mapping = {"STRING": "string", "LONG": "long",
                       "DOUBLE": "double", "FLOAT": "float"}
            fields = []
            for n, ty in zip(cols, types):
                sty = mapping.get(str(ty).upper())
                if sty is None:  # COMPLEX<...> / ARRAY<...> — infer
                    fields = None
                    break
                fields.append(f"`{n}` {sty}")
            if fields is not None:
                # floats arrive as Python floats even for LONG columns in
                # JSON — coerce row values to the declared type
                import pyspark.sql.types as T
                ddl = ", ".join(fields)
                schema = T._parse_datatype_string(ddl)
                conv = []
                for r in rows:
                    conv.append(tuple(
                        None if v is None
                        else int(v) if isinstance(f.dataType, T.LongType)
                        and not isinstance(v, bool)
                        else float(v) if isinstance(
                            f.dataType, (T.DoubleType, T.FloatType))
                        else str(v) if isinstance(f.dataType, T.StringType)
                        else v
                        for v, f in zip(r, schema.fields)))
                return local_frame(spark, conv, ddl)
        # no declared types (or a COMPLEX/ARRAY one): Spark infers them
        return spark.createDataFrame(rows, schema=cols)
    if t == "globalTable":
        # query/GlobalTableDataSource.java — broadcast-replicated table
        return F.broadcast(catalog.table(spec["name"]))
    raise ValueError(f"unknown datasource type {t!r}")


def _join(spec, spark, catalog: Catalog) -> DataFrame:
    """JoinDataSource.java:94-99 — left, right, rightPrefix, condition
    (equi-only, AND of `leftExpr == "prefix.rightCol"`), joinType."""
    left = resolve_datasource(spec["left"], spark, catalog)
    if spec.get("leftFilter") is not None:
        # JoinDataSource.java:97 leftFilter — pre-join pushdown on the left
        # base table (the broker applies it before fanning out); filtering
        # before the join keeps the predicate eligible for parquet pushdown
        from incubator_druid_spark.filters.filters import (FilterContext,
                                                           compile_filter)
        left = left.filter(compile_filter(spec["leftFilter"],
                                          FilterContext(left)))
    right = resolve_datasource(spec["right"], spark, catalog)
    prefix = spec.get("rightPrefix", "j0.")

    # Prefix right columns the way Druid exposes them to the outer query.
    for c in right.columns:
        right = right.withColumnRenamed(c, prefix + c)

    cond = _join_condition(spec["condition"], left, right, prefix)
    how = {"INNER": "inner", "LEFT": "left", "RIGHT": "right", "FULL": "full",
           "CROSS": "cross"}[spec.get("joinType", "INNER").upper()]

    # Druid requires a broadcastable right (lookup/inline/global); for plain
    # tables let AQE decide — but hint broadcast for lookup-ish rights.
    rt = spec["right"].get("type") if isinstance(spec["right"], dict) else "table"
    if rt in ("lookup", "inline", "globalTable"):
        right = F.broadcast(right)

    if how == "cross" or cond is None:
        return left.crossJoin(right)
    return left.join(right, cond, how)


def _join_condition(expression: str, left: DataFrame, right: DataFrame, prefix: str):
    """Parse Druid's join condition (JoinConditionAnalysis.java): AND of
    equalities `f(leftCols) == rightCol`, where the right ref carries the
    prefix.  Compiled with the druid-expr compiler; identifiers resolve against
    the joined namespace (left columns bare, right columns prefixed)."""
    from incubator_druid_spark.functions.druid_expr import compile_expr

    if expression in ("1", "1 == 1", None):
        return None

    from incubator_druid_spark.model.columns import qcol

    def resolver(name: str):
        return qcol(name)

    # JoinConditionAnalysis restricts conditions to ANDed EQUALITIES, which
    # compile to boolean Columns already — wrapping them in the generic
    # truthiness CASE would hide the equi-join shape from Catalyst and
    # forfeit BroadcastHashJoin
    return compile_expr(expression, resolver).cast("boolean")
