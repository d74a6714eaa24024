"""Query API surface: Druid's two POST endpoints as callable functions.

Reference:
- POST /druid/v2/    (native JSON)  — server/.../QueryResource.java
- POST /druid/v2/sql (SQL)         — sql/.../http/SqlResource.java:65-83,
  result formats sql/.../http/ResultFormat.java (object/array/objectLines/
  arrayLines/csv).

These are transport-agnostic: `native_query(body)` / `sql_query(body)` take
the request body dict and return the serialized response, so any HTTP server
(stdlib http.server, flask, etc.) can mount them with a two-line handler.  No
server dependency is baked in.

Result path: each query is collected with ONE Spark action.  A rendering
projection computes Druid's JSON values JVM-side — instants as
``yyyy-MM-dd'T'HH:mm:ss.SSSXXX`` in the frame's session zone (UTC for native
queries, sqlTimeZone for SQL), so the host machine's zone never enters;
bytes as hex; NaN/±Inf as null — and ``toArrow()`` ships the rows.  The
native envelopes and the five SQL result formats are then built from
positional rows, so duplicate output column names stay distinct in the
array formats.

Query context options (query/QueryContexts.java): `skipEmptyBuckets` and
`grandTotal` are honored in the timeseries translation; `timeout`/laning are
deferred to Spark's own job cancellation and scheduler pools (orthogonal to
translation — see SURVEY §2.12); `useCache`/`populateCache` are accepted and
ignored, as on a Druid broker with its result cache off.
"""

from __future__ import annotations

import csv
import io
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from incubator_druid_spark.catalog import Catalog, TIME_COLUMN
from incubator_druid_spark.plans.translator import translate


# ISODateTimeFormat.dateTime: exactly 3 fractional digits, then 'Z' at a
# zero offset or the zone's '-08:00'-style offset
_INSTANT = "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"

# types whose values Spark renders before they cross to Python; intervals
# become strings (Arrow carries no year-month interval, JSON no duration)
_RENDERED = (T.TimestampType, T.TimestampNTZType, T.DateType, T.BinaryType,
             T.FloatType, T.DoubleType, T.DayTimeIntervalType,
             T.YearMonthIntervalType, T.CalendarIntervalType)


def _holds(t: T.DataType, kinds) -> bool:
    """Whether t, or a type nested in it (array elements, map values,
    struct fields), is one of ``kinds``."""
    if isinstance(t, kinds):
        return True
    if isinstance(t, T.ArrayType):
        return _holds(t.elementType, kinds)
    if isinstance(t, T.MapType):
        return _holds(t.valueType, kinds)
    if isinstance(t, T.StructType):
        return any(_holds(f.dataType, kinds) for f in t.fields)
    return False


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _render(c: str, t: T.DataType, date_pattern: str, depth: int = 0) -> str:
    """SQL for Druid's JSON value of ``c`` (a column or lambda variable of
    type t): instants in the frame's session zone
    ('2000-01-01T00:00:00.000Z' under UTC, '1999-12-31T16:00:00.000-08:00'
    under America/Los_Angeles — SqlResourceTest
    testTimestampsInResponseLosAngelesTimeZone; a TIMESTAMP_NTZ wall clock
    is the UTC instant with those digits, as the catalog reads a zone-less
    time column), DATEs by ``date_pattern``, bytes as lower-case hex,
    NaN/±Inf as null.  SQL text rather than Column objects: the whole
    projection then costs one py4j call instead of several per column."""
    if not _holds(t, _RENDERED):
        return c
    x = f"x{depth}"
    if isinstance(t, T.ArrayType):
        return f"transform({c}, {x} -> " \
               f"{_render(x, t.elementType, date_pattern, depth + 1)})"
    if isinstance(t, T.MapType):
        return f"transform_values({c}, (k{depth}, {x}) -> " \
               f"{_render(x, t.valueType, date_pattern, depth + 1)})"
    if isinstance(t, T.StructType):
        fields = ", ".join(
            _sql_str(f.name) + ", " + _render(
                f"{c}.`{f.name.replace('`', '``')}`", f.dataType,
                date_pattern, depth)
            for f in t.fields)
        return f"CASE WHEN {c} IS NOT NULL THEN named_struct({fields}) END"
    if isinstance(t, T.TimestampNTZType):
        c = f"timestamp_micros(timestampdiff(MICROSECOND, " \
            f"TIMESTAMP_NTZ'1970-01-01 00:00:00', {c}))"
    if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
        return f"date_format({c}, {_sql_str(_INSTANT)})"
    if isinstance(t, T.DateType):
        return f"date_format({c}, {_sql_str(date_pattern)})"
    if isinstance(t, T.BinaryType):
        return f"lower(hex({c}))"
    if isinstance(t, (T.FloatType, T.DoubleType)):
        return f"CASE WHEN NOT (isnan({c}) OR abs({c}) = double('Infinity'))" \
               f" THEN {c} END"
    return f"CAST({c} AS STRING)"


def _values(col, t: T.DataType) -> list:
    """One Arrow column as Python values.  Arrow hands a map over as
    (key, value) pairs, so map columns go through _dicts."""
    if _holds(t, T.MapType):
        return [_dicts(v, t) for v in col.to_pylist()]
    return col.to_pylist()


def _dicts(v, t: T.DataType):
    """A map value (nested anywhere in v) as the JSON object Druid sends."""
    if v is None:
        return None
    if isinstance(t, T.MapType):
        return {k: _dicts(x, t.valueType) for k, x in v}
    if isinstance(t, T.ArrayType):
        return [_dicts(x, t.elementType) for x in v]
    if isinstance(t, T.StructType):
        return {f.name: _dicts(v[f.name], f.dataType) for f in t.fields}
    return v


def _collect(df: DataFrame, date_pattern: str) -> list[tuple]:
    """The query's rows as positional tuples, from ONE Spark action: the
    rendering projection (see _render) and ``toArrow()``.  The projection
    addresses columns by name; only when two output names collide (two
    joined tables both exposing 'k', or 'K' and 'k') are they renamed by
    position first, so each stays distinct."""
    fields = df.schema.fields
    names = [f.name for f in fields]
    if len({n.lower() for n in names}) < len(names):
        names = [f"_{i}" for i in range(len(fields))]
        df = df.toDF(*names)
    table = df.selectExpr(*[
        f"{_render('`' + n.replace('`', '``') + '`', f.dataType, date_pattern)}"
        f" AS _{i}" for i, (n, f) in enumerate(zip(names, fields))]).toArrow()
    return list(zip(*[_values(col, f.dataType)
                      for col, f in zip(table.columns, fields)]))


class QueryTimeoutError(TimeoutError):
    """context.timeout exceeded (QueryContexts.java `timeout`; the reference
    raises QueryTimeoutException and frees the query's resources — here the
    Spark job group is cancelled, interrupting running tasks)."""


def _collect_timed(df: DataFrame, timeout_ms, date_pattern: str) -> list[tuple]:
    """_collect with an optional wall-clock budget.  The collect runs in a
    worker thread under a dedicated Spark job group (a thread-local property,
    so it must be set inside that thread); the thread inherits the request
    thread's other local properties, so the lane/priority scheduler pool
    holds.  On expiry the group is cancelled — executors interrupt the
    tasks — and QueryTimeoutError surfaces.

    Limitation: job-group cancellation reaches SUBMITTED jobs only.  Driver
    -side work before submission — analysis, optimization, and especially
    RDD partition-array materialization — is not interruptible, so a plan
    whose partition count explodes (e.g. a deep cartesian of multi-file
    scans multiplies partitions per level) keeps allocating on the
    abandoned worker thread after the timeout fires.  That is a Spark-core
    property, not something this wrapper can bound."""
    if not timeout_ms:
        return _collect(df, date_pattern)
    import threading
    import uuid

    from pyspark import InheritableThread

    sc = df.sparkSession.sparkContext
    group = f"druid-query-{uuid.uuid4().hex[:12]}"
    result: list = []
    error: list = []

    def run():
        sc.setJobGroup(group, "query with context.timeout",
                       interruptOnCancel=True)
        try:
            result.append(_collect(df, date_pattern))
        except Exception as ex:  # noqa: BLE001 — re-raised on the caller thread
            error.append(ex)
        finally:
            sc.setJobGroup(None, None)

    t = InheritableThread(run, daemon=True)
    t.start()
    t.join(float(timeout_ms) / 1000.0)
    if t.is_alive():
        # One cancelJobGroup is NOT enough: it reaches ACTIVE jobs only, and
        # when the budget expires while the worker thread is still planning
        # (analysis/optimization can exceed a short timeout), the job it
        # submits moments later would run to completion unopposed — measured:
        # the cancelled query's task waves starved every follow-up query for
        # minutes.  Prefer the JVM-side cancelJobGroupAndFutureJobs (Spark
        # ≥3.5) which also rejects later submissions in the group; in either
        # case a bounded reaper re-cancels until the worker thread exits.
        try:
            sc._jsc.sc().cancelJobGroupAndFutureJobs(group)
        except Exception:  # noqa: BLE001 — older JVM surface
            sc.cancelJobGroup(group)

        def _reap():
            import time as _time
            deadline = _time.time() + 600
            while t.is_alive() and _time.time() < deadline:
                try:
                    sc.cancelJobGroup(group)
                except Exception:  # noqa: BLE001 — context shut down
                    break
                t.join(0.25)

        threading.Thread(target=_reap, daemon=True).start()
        raise QueryTimeoutError(
            f"Query timeout of {timeout_ms} ms exceeded (context.timeout)")
    if error:
        raise error[0]
    return result[0]


# ---------------------------------------------------------------------------
# native endpoint
# ---------------------------------------------------------------------------

def native_query(body: dict, spark: SparkSession, catalog: Catalog) -> list[dict]:
    """POST /druid/v2/ — returns Druid-shaped result envelopes per query type:
    timeseries → [{timestamp, result:{...}}], topN → [{timestamp, result:[...]}],
    groupBy → [{version, timestamp, event:{...}}], scan → [{columns, events}],
    others → plain row objects."""
    qt = body["queryType"]
    df = translate(body, spark, catalog)
    cols = df.columns
    # native DATE columns render as the calendar day; instants always in
    # UTC (translate runs every native query under a UTC session)
    rows = _collect_timed(df, (body.get("context") or {}).get("timeout"),
                          "yyyy-MM-dd")
    if qt == "scan":
        # ScanQuery.ResultFormat (ScanQuery.java:53-55): RESULT_FORMAT_LIST
        # (event maps, default) vs RESULT_FORMAT_COMPACTED_LIST (value arrays
        # in column order — the wire-efficient form)
        if body.get("resultFormat") == "compactedList":
            return [{"columns": cols, "events": [list(r) for r in rows]}]
        return [{"columns": cols,
                 "events": [dict(zip(cols, r)) for r in rows]}]
    if qt in ("timeseries", "groupBy", "topN", "search"):
        ts, events = _split_time(cols, rows)
        if qt == "timeseries":
            return [{"timestamp": t, "result": e} for t, e in zip(ts, events)]
        if qt == "groupBy":
            return [{"version": "v1", "timestamp": t, "event": e}
                    for t, e in zip(ts, events)]
        # one envelope per time bucket ({timestamp, result: [entries]}) —
        # TopNResultValue / SearchResultValue shape
        buckets: dict = {}
        for t, e in zip(ts, events):
            buckets.setdefault(t, []).append(e)
        return [{"timestamp": t, "result": es} for t, es in buckets.items()]
    objs = [dict(zip(cols, r)) for r in rows]
    if qt == "timeBoundary":
        return [{"timestamp": objs[0].get("minTime"), "result": objs[0]}] \
            if objs else []
    return objs


def _split_time(cols: list[str], rows: list[tuple]):
    """The two halves of a native envelope: each row's bucket instant, and
    the row as an object without __time (None / the whole row when the
    frame has no __time column)."""
    if TIME_COLUMN not in cols:
        return [None] * len(rows), [dict(zip(cols, r)) for r in rows]
    i = cols.index(TIME_COLUMN)
    rest = cols[:i] + cols[i + 1:]
    return ([r[i] for r in rows],
            [dict(zip(rest, r[:i] + r[i + 1:])) for r in rows])


# ---------------------------------------------------------------------------
# SQL endpoint
# ---------------------------------------------------------------------------

def sql_query(body: dict, spark: SparkSession, catalog: Catalog) -> str | list:
    """POST /druid/v2/sql — body: {query, resultFormat, header, parameters}.
    Formats per ResultFormat.java: object (default) | array | objectLines |
    arrayLines | csv."""
    from incubator_druid_spark.sql.functions import druid_sql

    fmt = body.get("resultFormat", "object")
    if fmt not in _SQL_FORMATS:
        raise ValueError(f"unknown resultFormat {fmt!r}")
    sql = body["query"]
    params = body.get("parameters") or []
    if params or "?" in sql:
        # bind even with an empty list so an unbound '?' raises Druid's
        # "Parameter: [?N] is not bound" instead of a parse error ('?'
        # inside string literals/comments is left alone by the binder)
        sql = _bind_parameters(sql, params)

    ctx = body.get("context") or {}
    outer_limit = ctx.get("sqlOuterLimit")
    if ctx.get("sqlCurrentTimestamp"):
        from incubator_druid_spark.sql.functions import \
            set_sql_current_timestamp
        # render the pinned instant in the zone the query will execute
        # under (sqlTimeZone, else the dialect's UTC default — NOT the
        # host session zone; druid_sql pins the execution session) so the
        # naive literal re-reads as the same instant —
        # PlannerContext.java localNow
        eff_tz = ctx.get("sqlTimeZone") or "UTC"
        set_sql_current_timestamp(ctx["sqlCurrentTimestamp"], eff_tz)
        try:
            body2 = dict(body)
            body2["context"] = {k: v for k, v in ctx.items()
                                if k != "sqlCurrentTimestamp"}
            return sql_query(body2, spark, catalog)
        finally:
            set_sql_current_timestamp(None)
    # sqlTimeZone (PlannerContext.CTX_SQL_TIME_ZONE): FLOOR-to-unit /
    # EXTRACT / result rendering interpret timestamps in this zone —
    # druid_sql pins the EXECUTION session's timezone to it (default UTC)
    # so the host session is never mutated, and the returned DataFrame is
    # bound to that session: collect/toPandas render under the same zone.
    df = druid_sql(spark, sql, catalog, ctx.get("sqlTimeZone"))
    if ctx.get("requireTimeCondition"):
        _require_time_condition(df)
    if outer_limit is not None:
        # PlannerContext.CTX_SQL_OUTER_LIMIT — wrap the whole result in a
        # limit (the broker applies it outside any query-level LIMIT)
        df = df.limit(int(outer_limit))
    return _SQL_FORMATS[fmt](_collect_timed(df, ctx.get("timeout"), _INSTANT),
                             df.columns, bool(body.get("header")))


def _require_time_condition(df) -> None:
    """PlannerConfig.requireTimeCondition (DruidQuery.java's
    CannotBuildQueryException: 'requireTimeCondition is enabled, all
    queries must include a filter condition on the __time column') as a
    plan guardrail: every file-relation scan must sit below a Filter that
    references __time.  Checked on BOTH the analyzed plan (where the
    filter still names __time even when the table derives it from a raw
    source column) and the optimized plan (where the optimizer has pushed
    a predicate on an ALIAS of __time down to the column itself); either
    satisfies.  At 100 TB this is the guard against accidental
    full-table scans."""

    def plan_ok(jplan) -> bool:
        ok = [True]

        def time_ids(cond) -> set:
            # exprIds of AttributeReferences literally NAMED __time — a
            # substring scan of condition.toString() would also accept
            # string literals containing '__time'
            ids = set()
            try:
                refs = cond.references().toSeq()
                for i in range(refs.size()):
                    a = refs.apply(i)
                    if a.name() == "__time":
                        ids.add(a.exprId().id())
            except Exception:  # pragma: no cover — defensive py4j
                pass
            return ids

        def out_ids(node) -> set:
            ids = set()
            try:
                s = node.outputSet().toSeq()
                for i in range(s.size()):
                    ids.add(s.apply(i).exprId().id())
            except Exception:  # pragma: no cover
                pass
            return ids

        def walk(node, ids, seen):
            cls = node.getClass().getSimpleName()
            if cls == "Filter":
                t = time_ids(node.condition())
                if t:
                    ids = ids | t
                    seen = True
            try:  # scans inside scalar/IN subqueries must be guarded too
                subs = node.subqueries()
                for i in range(subs.size()):
                    walk(subs.apply(i), set(), False)
            except Exception:  # pragma: no cover
                pass
            n = node.children().size()
            if n == 0:
                if cls == "LogicalRelation" and not seen:
                    ok[0] = False
                return
            if cls == "Join":
                # a filter on a.__time does NOT cover the other join
                # input: each branch keeps only the __time attributes ITS
                # subtree produces (a Filter above a Union covers every
                # branch, so only Join intersects)
                for i in range(n):
                    ch = node.children().apply(i)
                    c_ids = ids & out_ids(ch)
                    walk(ch, c_ids, bool(c_ids))
            else:
                for i in range(n):
                    walk(node.children().apply(i), ids, seen)

        walk(jplan, set(), False)
        return ok[0]

    qe = df._jdf.queryExecution()
    if not (plan_ok(qe.analyzed()) or plan_ok(qe.optimizedPlan())):
        raise ValueError(
            "requireTimeCondition is enabled, all queries must "
            "include a filter condition on the __time column")


def _millis_to_wall(millis: int) -> str:
    """Epoch millis → UTC wall-clock string (TimestampString
    .fromMillisSinceEpoch semantics); fractional seconds kept only when
    non-zero."""
    import datetime as _dt
    t = _dt.datetime.fromtimestamp(millis / 1000.0, _dt.timezone.utc)
    base = t.strftime("%Y-%m-%d %H:%M:%S")
    ms = millis % 1000
    return base + (".%03d" % ms if ms else "")


def _bind_parameters(sql: str, params: list) -> str:
    """Positional '?' binding (SqlParameter / SqlQuery.getParameterList) —
    a '?' binds only in code, so one inside a string literal, a quoted
    identifier or a comment is left alone; string values have embedded
    quotes doubled."""
    from incubator_druid_spark.sql.functions import _code_sub

    it = iter(params)

    def bind(_m) -> str:
        try:
            p = next(it)
        except StopIteration:
            # DruidPlanner's unbound-dynamic-param message
            # (SqlParameterizerShuttle leaves the param in place and
            # validation fails with this text)
            raise ValueError(f"Parameter: [?{len(params)}] is not bound")
        v = p.get("value") if isinstance(p, dict) else p
        ptype = (p.get("type") or "").upper() if isinstance(p, dict) else ""
        if v is None:
            return "NULL"
        if ptype == "TIMESTAMP":
            # SqlParameterizerShuttle.java:61-66 — a Long is epoch
            # millis rendered as the UTC wall clock; a string is used
            # verbatim as the TIMESTAMP literal body
            if isinstance(v, bool):
                raise ValueError("invalid TIMESTAMP parameter")
            if isinstance(v, (int, float)):
                return "TIMESTAMP '%s'" % _millis_to_wall(int(v))
            return "TIMESTAMP '%s'" % str(v).replace("'", "''")
        if ptype == "DATE":
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                return "DATE '%s'" % _millis_to_wall(int(v))[:10]
            return "DATE '%s'" % str(v).replace("'", "''")
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            # Spark's parser interprets backslash escapes inside string
            # literals, so a trailing '\' would escape the closing quote —
            # double backslashes as well as quotes
            return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
        return str(v)
    return _code_sub(sql, r"\?", bind)


def _objects(rows, names, header):
    # ObjectWriter.writeHeader: header=true prepends a {col: null} row
    objs = [dict(zip(names, r)) for r in rows]
    return [dict.fromkeys(names)] + objs if header else objs


def _arrays(rows, names, header):
    out = [list(r) for r in rows]
    return [names] + out if header else out


def _lines(rows):
    # ObjectLinesWriter / ArrayLinesWriter: one JSON value per line (an
    # optional header row first), terminated by a BLANK line —
    # writeResponseEnd emits '\n\n', the marker streaming clients use to
    # detect truncation
    return "\n".join(map(json.dumps, rows)) + "\n\n"


def _csv(rows, names, header):
    # CsvWriter: '\n' line endings (not Python csv's default '\r\n'),
    # trailing blank-line terminator like the lines formats
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    if header:
        w.writerow(names)
    w.writerows(rows)
    return buf.getvalue() + "\n"


# ResultFormat.java: each SQL result format and its writer over positional
# rows.  The array formats keep every column; a JSON object cannot carry
# duplicate keys, so there the last of two same-named columns wins.
_SQL_FORMATS = {
    "object": _objects,
    "array": _arrays,
    "objectLines": lambda rows, names, header: _lines(
        _objects(rows, names, header)),
    "arrayLines": lambda rows, names, header: _lines(
        _arrays(rows, names, header)),
    "csv": _csv,
}


# ---------------------------------------------------------------------------
# timewarp (§2.12 — query/TimewarpOperator.java)
# ---------------------------------------------------------------------------

def timewarp(body: dict, period_ms: int, origin_ms: int) -> dict:
    """TimewarpOperator: rewrite a query's intervals into a reference period
    (e.g. run this week's query against last week's data), shifting the
    result timestamps back.  Here: shift intervals before translation; the
    caller shifts `__time` in the result by +offset if display alignment is
    wanted."""
    from incubator_druid_spark.model.intervals import parse_intervals

    ivs = parse_intervals(body.get("intervals"))
    if not ivs:
        return body
    shifted = []
    for start, end in ivs:
        offset = _timewarp_offset(start, period_ms, origin_ms)
        shifted.append((start - offset, end - offset))

    def fmt(ms):
        import datetime
        return datetime.datetime.fromtimestamp(
            ms / 1000, tz=datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"

    out = dict(body)
    out["intervals"] = [f"{fmt(s)}/{fmt(e)}" for s, e in shifted]
    return out


def _timewarp_offset(t_ms: int, period_ms: int, origin_ms: int) -> int:
    # number of whole periods between t and origin (TimewarpOperator.java
    # computeOffset)
    periods = (t_ms - origin_ms) // period_ms
    return periods * period_ms
