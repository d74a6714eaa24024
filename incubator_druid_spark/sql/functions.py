"""Druid SQL surface: register Druid's SQL function names in Spark SQL.

Reference: sql/src/main/java/org/apache/druid/sql/calcite/expression/builtin/
(~60 operator conversions) registered in sql/.../planner/DruidOperatorTable.java.
Most Druid SQL functions are name-identical to Spark SQL (ABS, CONCAT, LOWER,
COALESCE, EXTRACT …) — those need nothing.  The Druid-specific names are
registered as **SQL scalar UDFs** (CREATE TEMPORARY FUNCTION … RETURN expr),
which Catalyst inlines into the plan — JVM-side, codegen-friendly, zero Python
in the hot path.

After ``register_druid_sql(spark)`` + ``register_views(catalog)``, Druid SQL
like ``SELECT TIME_PARSE(s), MV_CONTAINS(dim2, 'a') …`` runs directly through
``spark.sql``.

TIME_FLOOR/TIME_CEIL/TIME_SHIFT have no registered function: ``druid_sql``
rewrites them (every arity), FLOOR/CEIL … TO and DATE_TRUNC call-site into
``Granularity``'s SQL text (model/granularity.py), as
TimeFloorOperatorConversion.java:40-75 delegates to PeriodGranularity: any
literal ISO period, the origin and the zone (the query's sqlTimeZone by
default) are inlined as literals.  A NON-literal period (a period read from
a column) picks among the common periods at run time and raises via
raise_error on any other — never a silent NULL.

Every text rewrite reads the query through one scanner.  ``_tokens`` splits
it into code, string literals, quoted identifiers and comments;
``_code_sub`` runs a regex on the matches that begin in code, and the call
walker ``_rewrite_calls`` finds ``NAME(`` in code and splits its arguments
at depth-1 commas over the same tokens.  The '?' binder of the SQL endpoint
(api.py) is a ``_code_sub`` too.
"""

from __future__ import annotations

import bisect
import functools
import re
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

from incubator_druid_spark.catalog import Catalog
from incubator_druid_spark.session import local_frame
from incubator_druid_spark.timeline import segment_dirs

_FUNCTIONS: list[str] = [
    # -- time (TimeParseOperatorConversion.java and siblings)
    """CREATE OR REPLACE TEMPORARY FUNCTION TIME_PARSE(s STRING)
       RETURNS TIMESTAMP RETURN try_cast(s AS TIMESTAMP)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION TIME_FORMAT(ts TIMESTAMP, fmt STRING)
       RETURNS STRING RETURN date_format(ts, fmt)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION MILLIS_TO_TIMESTAMP(ms BIGINT)
       RETURNS TIMESTAMP RETURN timestamp_millis(ms)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION TIMESTAMP_TO_MILLIS(ts TIMESTAMP)
       RETURNS BIGINT RETURN unix_millis(ts)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION TIME_EXTRACT(ts TIMESTAMP, unit STRING)
       RETURNS BIGINT RETURN
       CASE upper(unit)
           WHEN 'EPOCH' THEN unix_seconds(ts)
           WHEN 'MILLIS' THEN unix_millis(ts)
           WHEN 'SECOND' THEN second(ts) WHEN 'MINUTE' THEN minute(ts)
           WHEN 'HOUR' THEN hour(ts) WHEN 'DAY' THEN day(ts)
           WHEN 'DOW' THEN weekday(ts) + 1
           WHEN 'ISODOW' THEN weekday(ts) + 1
           WHEN 'DOY' THEN dayofyear(ts) WHEN 'WEEK' THEN weekofyear(ts)
           WHEN 'MONTH' THEN month(ts) WHEN 'QUARTER' THEN quarter(ts)
           WHEN 'YEAR' THEN year(ts) WHEN 'ISOYEAR' THEN year(ts)
           WHEN 'MICROSECOND' THEN unix_seconds(ts) DIV 1000
           WHEN 'MILLISECOND' THEN pmod(unix_millis(ts), 1000)
           WHEN 'DECADE' THEN year(ts) DIV 10
           WHEN 'CENTURY' THEN CAST(ceil(year(ts) / 100.0) AS BIGINT)
           WHEN 'MILLENNIUM' THEN CAST(ceil(year(ts) / 1000.0) AS BIGINT)
       END""",
    """CREATE OR REPLACE TEMPORARY FUNCTION TIME_IN_INTERVAL(ts TIMESTAMP, iv STRING)
       RETURNS BOOLEAN RETURN
       ts >= cast(split(iv, '/')[0] AS TIMESTAMP)
       AND ts < cast(split(iv, '/')[1] AS TIMESTAMP)""",
    # -- multi-value strings (MultiValueStringOperatorConversions.java)
    # size(NULL) is -1 under Spark's legacy default; Druid's array_length of
    # a null MVD is NULL
    """CREATE OR REPLACE TEMPORARY FUNCTION MV_LENGTH(a ARRAY<STRING>)
       RETURNS INT RETURN CASE WHEN a IS NULL THEN NULL ELSE size(a) END""",
    """CREATE OR REPLACE TEMPORARY FUNCTION MV_CONTAINS(a ARRAY<STRING>, v STRING)
       RETURNS BOOLEAN RETURN array_contains(a, v)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION MV_OVERLAP(a ARRAY<STRING>, b ARRAY<STRING>)
       RETURNS BOOLEAN RETURN arrays_overlap(a, b)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION MV_OFFSET(a ARRAY<STRING>, i INT)
       RETURNS STRING RETURN get(a, i)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION MV_ORDINAL(a ARRAY<STRING>, i INT)
       RETURNS STRING RETURN try_element_at(a, i)""",
    # miss → NULL in SQL-compatible mode (Function.java ArrayOffsetOfFunction
    # :3258 — -1/0 only under replaceWithDefault); Spark's array_position
    # returns 0 on miss, so nullif first
    """CREATE OR REPLACE TEMPORARY FUNCTION MV_OFFSET_OF(a ARRAY<STRING>, v STRING)
       RETURNS BIGINT RETURN nullif(array_position(a, v), 0) - 1""",
    """CREATE OR REPLACE TEMPORARY FUNCTION MV_ORDINAL_OF(a ARRAY<STRING>, v STRING)
       RETURNS BIGINT RETURN nullif(array_position(a, v), 0)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION MV_PREPEND(v STRING, a ARRAY<STRING>)
       RETURNS ARRAY<STRING> RETURN array_prepend(a, v)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION MV_APPEND(a ARRAY<STRING>, v STRING)
       RETURNS ARRAY<STRING> RETURN array_append(a, v)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION MV_CONCAT(a ARRAY<STRING>, b ARRAY<STRING>)
       RETURNS ARRAY<STRING> RETURN concat(a, b)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION MV_SLICE(a ARRAY<STRING>, s INT, e INT)
       RETURNS ARRAY<STRING> RETURN slice(a, s + 1, e - s)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION MV_TO_STRING(a ARRAY<STRING>, sep STRING)
       RETURNS STRING RETURN array_join(a, sep, 'null')""",
    """CREATE OR REPLACE TEMPORARY FUNCTION STRING_TO_MV(s STRING, sep STRING)
       RETURNS ARRAY<STRING> RETURN split(s, sep)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION MV_FILTER_ONLY(a ARRAY<STRING>, keep ARRAY<STRING>)
       RETURNS ARRAY<STRING> RETURN filter(a, x -> array_contains(keep, x))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION MV_FILTER_NONE(a ARRAY<STRING>, drop ARRAY<STRING>)
       RETURNS ARRAY<STRING> RETURN filter(a, x -> NOT array_contains(drop, x))""",
    # -- strings (PositionOperatorConversion.java etc.)
    """CREATE OR REPLACE TEMPORARY FUNCTION STRPOS(h STRING, n STRING)
       RETURNS INT RETURN instr(h, n)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION TEXTCAT(a STRING, b STRING)
       RETURNS STRING RETURN concat(a, b)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION CONTAINS_STRING(h STRING, n STRING)
       RETURNS BOOLEAN RETURN instr(h, n) > 0""",
    """CREATE OR REPLACE TEMPORARY FUNCTION ICONTAINS_STRING(h STRING, n STRING)
       RETURNS BOOLEAN RETURN instr(lower(h), lower(n)) > 0""",
    # -- math / misc
    """CREATE OR REPLACE TEMPORARY FUNCTION SAFE_DIVIDE(a DOUBLE, b DOUBLE)
       RETURNS DOUBLE RETURN CASE WHEN b = 0 THEN NULL ELSE a / b END""",
    """CREATE OR REPLACE TEMPORARY FUNCTION BITWISE_AND(a BIGINT, b BIGINT)
       RETURNS BIGINT RETURN a & b""",
    """CREATE OR REPLACE TEMPORARY FUNCTION BITWISE_OR(a BIGINT, b BIGINT)
       RETURNS BIGINT RETURN a | b""",
    """CREATE OR REPLACE TEMPORARY FUNCTION BITWISE_XOR(a BIGINT, b BIGINT)
       RETURNS BIGINT RETURN a ^ b""",
    """CREATE OR REPLACE TEMPORARY FUNCTION BITWISE_SHIFT_LEFT(a BIGINT, b INT)
       RETURNS BIGINT RETURN shiftleft(a, b)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION BITWISE_SHIFT_RIGHT(a BIGINT, b INT)
       RETURNS BIGINT RETURN shiftright(a, b)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION BITWISE_COMPLEMENT(a BIGINT)
       RETURNS BIGINT RETURN ~a""",
    # IEEE-754 bit reinterpretation (BitwiseOperatorConversions) — no Spark
    # builtin bit-casts a double; reflect() calls the JDK statics JVM-side
    """CREATE OR REPLACE TEMPORARY FUNCTION BITWISE_CONVERT_DOUBLE_TO_LONG_BITS(d DOUBLE)
       RETURNS BIGINT RETURN CASE WHEN d IS NULL THEN NULL ELSE
       CAST(reflect('java.lang.Double', 'doubleToLongBits', d) AS BIGINT) END""",
    """CREATE OR REPLACE TEMPORARY FUNCTION BITWISE_CONVERT_LONG_BITS_TO_DOUBLE(l BIGINT)
       RETURNS DOUBLE RETURN CASE WHEN l IS NULL THEN NULL ELSE
       CAST(reflect('java.lang.Double', 'longBitsToDouble', l) AS DOUBLE) END""",
    # -- approx aggregates: Druid names → Spark natives (registered as
    #    aliases via SELECT rewrite would hide FILTER clauses; instead the
    #    name-compatible ones below suffice for scalar call sites)
    """CREATE OR REPLACE TEMPORARY FUNCTION IPV4_PARSE(s STRING)
       RETURNS BIGINT RETURN
       TRY_CAST(get(split(s, '\\\\.'), 0) AS BIGINT) * 16777216 +
       TRY_CAST(get(split(s, '\\\\.'), 1) AS BIGINT) * 65536 +
       TRY_CAST(get(split(s, '\\\\.'), 2) AS BIGINT) * 256 +
       TRY_CAST(get(split(s, '\\\\.'), 3) AS BIGINT)""",
    # IPv4AddressMatchExprMacro.java: address ∈ CIDR subnet — compare the
    # network prefixes after shifting out the host bits
    """CREATE OR REPLACE TEMPORARY FUNCTION IPV4_MATCH(s STRING, subnet STRING)
       RETURNS BOOLEAN RETURN
       shiftright(TRY_CAST(get(split(s, '\\\\.'), 0) AS BIGINT) * 16777216 +
                  TRY_CAST(get(split(s, '\\\\.'), 1) AS BIGINT) * 65536 +
                  TRY_CAST(get(split(s, '\\\\.'), 2) AS BIGINT) * 256 +
                  TRY_CAST(get(split(s, '\\\\.'), 3) AS BIGINT),
                  32 - TRY_CAST(get(split(subnet, '/'), 1) AS INT)) =
       shiftright(TRY_CAST(get(split(get(split(subnet, '/'), 0), '\\\\.'), 0) AS BIGINT) * 16777216 +
                  TRY_CAST(get(split(get(split(subnet, '/'), 0), '\\\\.'), 1) AS BIGINT) * 65536 +
                  TRY_CAST(get(split(get(split(subnet, '/'), 0), '\\\\.'), 2) AS BIGINT) * 256 +
                  TRY_CAST(get(split(get(split(subnet, '/'), 0), '\\\\.'), 3) AS BIGINT),
                  32 - TRY_CAST(get(split(subnet, '/'), 1) AS INT))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION IPV4_STRINGIFY(n BIGINT)
       RETURNS STRING RETURN concat_ws('.',
       cast(cast(n / 16777216 AS BIGINT) % 256 AS STRING),
       cast(cast(n / 65536 AS BIGINT) % 256 AS STRING),
       cast(cast(n / 256 AS BIGINT) % 256 AS STRING),
       cast(n % 256 AS STRING))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION TRUNCATE(x DOUBLE, d INT)
       RETURNS DOUBLE RETURN
       CAST(TRY_CAST(x * power(10, d) AS BIGINT) AS DOUBLE) / power(10, d)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION PARSE_LONG(s STRING)
       RETURNS BIGINT RETURN COALESCE(TRY_CAST(s AS BIGINT),
       TRY_CAST(TRY_CAST(s AS DOUBLE) AS BIGINT))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION HUMAN_READABLE_BINARY_BYTE_FORMAT(n BIGINT)
       RETURNS STRING RETURN
       CASE WHEN abs(n) >= 1073741824 THEN concat(format_number(n / 1073741824, 2), ' GiB')
            WHEN abs(n) >= 1048576 THEN concat(format_number(n / 1048576, 2), ' MiB')
            WHEN abs(n) >= 1024 THEN concat(format_number(n / 1024, 2), ' KiB')
            ELSE concat(cast(n AS STRING), ' B') END""",
]


import weakref

# per-SparkSession registration state: temp functions and temp views are
# session-scoped and re-registering ~50 of them per druid_sql call costs
# ~0.7 s of py4j roundtrips — a 30-50% overhead on short queries.
_FN_STATE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
# session -> {datasource name: the frame its temp view holds}
_VIEW_FRAMES: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

# name → CREATE statement; the ~45 CREATEs cost ~2.4 s of py4j roundtrips
# together (Spark resolves each body at CREATE), so registration is lazy:
# a query registers only the names its final SQL text references.
_FN_BY_NAME: dict[str, str] = {
    re.search(r"TEMPORARY FUNCTION (\w+)\s*\(", stmt).group(1): stmt
    for stmt in _FUNCTIONS
}


def register_druid_sql(spark: SparkSession, sql: str | None = None) -> None:
    """Register the Druid-specific SQL function names that ``sql``
    references (every name when ``sql`` is None) — idempotent, cached per
    session.  Druid names that Spark ships as builtins with the same
    semantics (REGEXP_LIKE, DIV) have no body here; a name the session
    already binds to a non-SQL function keeps that binding.  The
    LOOKUP function body inlines the registered lookup maps, so it
    re-registers whenever the lookup registry changes."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from incubator_druid_spark.functions.lookups import lookup_version
    ver = lookup_version()
    st = _fn_state(spark)
    if sql is None:
        needed = set(_FN_BY_NAME)
        bloom_needed = lookup_needed = True
    else:
        # word-boundary scan of the final SQL; a hit inside a string
        # literal over-registers harmlessly.  Scan a backtick-stripped
        # copy too: Calcite-quoted calls arrive as `MV_LENGTH`(...) after
        # the quoted-identifier rewrite, which \b{name}\s*\( won't match.
        scan = sql + " " + sql.replace("`", "")
        needed = {n for n in _FN_BY_NAME
                  if re.search(rf"(?i)\b{n}\s*\(", scan)}
        bloom_needed = bool(re.search(r"(?i)\bBLOOM_FILTER_TEST\s*\(", scan))
        lookup_needed = bool(re.search(r"(?i)\bLOOKUP\b", scan))
    missing = needed - st["names"]
    bloom_missing = bloom_needed and not st["bloom"]
    lookup_missing = lookup_needed and st["lookup_ver"] != ver
    if not missing and not bloom_missing and not lookup_missing:
        return
    # Spark resolves a SQL temp function's body ONCE, with the session
    # timezone at CREATE baked into its date/cast expressions.  druid_sql
    # executes each sqlTimeZone under its own per-(host, tz) session clone,
    # and each clone keeps its own function registry, so the CREATE-time
    # zone is the query's sqlTimeZone (TIME_EXTRACT, TIME_FORMAT).
    for name in missing:
        try:
            spark.sql(_FN_BY_NAME[name])
        except AnalysisException as e:
            if "CANNOT_REPLACE_NON_SQL_UDF" not in str(e):
                raise
        st["names"].add(name)
    if bloom_missing:
        _register_bloom_test_fn(spark)
        st["bloom"] = True
    if lookup_missing:
        _register_lookup_fn(spark)
        st["lookup_ver"] = ver


def _fn_state(spark: SparkSession) -> dict:
    return _FN_STATE.setdefault(
        spark, {"names": set(), "bloom": False, "lookup_ver": None})


_COMPILING = threading.local()


@contextmanager
def compiling_for(spark: SparkSession):
    """Make ``spark`` the session that ``register_function`` registers in
    while this thread compiles a query for it."""
    prev = getattr(_COMPILING, "spark", None)
    _COMPILING.spark = spark
    try:
        yield
    finally:
        _COMPILING.spark = prev


def register_function(name: str, stmt: str) -> None:
    """Run CREATE statement ``stmt`` of temporary function ``name`` once per
    session, in the session this thread compiles for (``compiling_for``),
    else the active one."""
    spark = getattr(_COMPILING, "spark", None) or SparkSession.active()
    st = _fn_state(spark)
    if name not in st["names"]:
        spark.sql(stmt)
        st["names"].add(name)


def _register_bloom_test_fn(spark: SparkSession) -> None:
    """BLOOM_FILTER_TEST(expr, base64) (druid-bloom-filter
    sql/BloomFilterOperatorConversion): membership in a serialized
    BloomKFilter.  Python UDF with the parsed filter memoized per base64
    string — the deserialization cost is paid once per executor, the per-row
    work is the murmur3 probe.  Interop surface; the engine-native bloom
    path stays JVM-side."""
    _cache: dict = {}

    def test(v, b64):
        if b64 is None:
            return None
        from incubator_druid_spark.functions.bloomk import BloomKFilter
        bf = _cache.get(b64)
        if bf is None:
            bf = _cache[b64] = BloomKFilter.deserialize(b64)
        # BloomFilterExprMacro: a NULL input evaluates nullMatch() =
        # testBytes(null) — a filter that had null added matches null rows
        if v is None:
            return bf.test_bytes(None)
        return bf.test_string(v)

    spark.udf.register("BLOOM_FILTER_TEST", test, "boolean")


def _register_lookup_fn(spark: SparkSession) -> None:
    """LOOKUP(expr, name) over the registered lookup maps, inlined as a CASE
    over map literals (QueryLookupOperatorConversion.java).  Re-run after
    registering new lookups."""
    from incubator_druid_spark.functions.lookups import (_DF_LOOKUPS,
                                                         _LOOKUPS,
                                                         LOOKUP_JOIN_THRESHOLD,
                                                         _lookup_frame)
    if not _LOOKUPS and not _DF_LOOKUPS:
        body = "CAST(NULL AS STRING)"
    else:
        branches = []
        # join-regime lookups: a map literal would put every pair in the
        # UDF body; expose the cached lookup frame as a temp view and
        # probe via a correlated scalar subquery — Catalyst rewrites it
        # into a (broadcastable) LeftSingle join, O(1) SQL size
        def q(v):  # SQL-escape: quotes in keys/values/names must not
            return str(v).replace("'", "''")  # inject extra map entries

        def ident(name):  # lookup names aren't identifier-safe (hyphens)
            import hashlib
            if re.fullmatch(r"\w+", name):
                return name
            return "h" + hashlib.sha1(name.encode()).hexdigest()[:16]

        joined = [*_DF_LOOKUPS,
                  *(n for n, m in _LOOKUPS.items()
                    if len(m) > LOOKUP_JOIN_THRESHOLD)]
        for name in joined:
            view = f"__lookup_{ident(name)}"
            # GLOBAL temp view: the cached lookup frame is bound to the
            # session that first built it, and createOrReplaceTempView
            # registers in the FRAME's session — a rebuilt non-ANSI clone
            # would not see it.  global_temp views are visible from every
            # session sharing the SparkContext.
            _lookup_frame(spark, name).createOrReplaceGlobalTempView(view)
            branches.append(
                f"WHEN '{q(name)}' THEN (SELECT v FROM global_temp.{view} "
                f"AS {view} WHERE {view}.k = LOOKUP.k)")
        for name, m in _LOOKUPS.items():
            if not m or len(m) > LOOKUP_JOIN_THRESHOLD:
                continue
            kv = ", ".join(f"'{q(k)}', '{q(v)}'" for k, v in m.items())
            branches.append(
                f"WHEN '{q(name)}' THEN element_at(map({kv}), k)")
        body = f"CASE name {' '.join(branches)} ELSE CAST(NULL AS STRING) END" \
            if branches else "CAST(NULL AS STRING)"
    spark.sql(f"""CREATE OR REPLACE TEMPORARY FUNCTION LOOKUP(k STRING, name STRING)
                  RETURNS STRING RETURN {body}""")


def register_views(catalog: Catalog, names: list[str] | None = None) -> None:
    """Expose catalog datasources (``names``, else every one) as temp views
    of the catalog's session.  A view is replaced only when
    ``Catalog.table`` resolves a different frame than the one it holds, so
    the views go stale exactly when the catalog's frames do: a repeated
    query over unchanged tables registers nothing, and a re-registration or
    a rewrite of the files replaces the view on the next query that reads
    it.  A table the catalog does not reuse (managed, or on a non-local
    path) resolves a new frame each time, so its view is replaced on each
    such query.  Switching catalogs on one session replaces the views too:
    their frames differ."""
    held = _VIEW_FRAMES.setdefault(catalog.spark, {})
    for name in catalog.names() if names is None else names:
        df = catalog.table(name)
        if held.get(name) is not df:
            df.createOrReplaceTempView(name)
            held[name] = df


def _druid_type(dt) -> str:
    """Spark type → Druid SQL DATA_TYPE name (RowSignatures.java mapping)."""
    from pyspark.sql import types as T
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "BIGINT"
    if isinstance(dt, T.DoubleType):
        return "DOUBLE"
    if isinstance(dt, T.FloatType):
        return "FLOAT"
    if isinstance(dt, T.StringType):
        return "VARCHAR"
    if isinstance(dt, T.TimestampType):
        return "TIMESTAMP"
    if isinstance(dt, T.BooleanType):
        return "BOOLEAN"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{_druid_type(dt.elementType)}>"
    return "OTHER"


def _jdbc_type(druid_t: str) -> int:
    """Druid DATA_TYPE name -> java.sql.Types code (RowSignatures.java
    toSqlTypeName + Calcite's JDBC mapping; ARRAY = 2003, OTHER = 1111)."""
    if druid_t.startswith("ARRAY<"):
        return 2003
    return {"TIMESTAMP": 93, "BIGINT": -5, "VARCHAR": 12, "FLOAT": 6,
            "DOUBLE": 8, "BOOLEAN": 16}.get(druid_t, 1111)


def register_metadata_views(spark: SparkSession, catalog: Catalog) -> None:
    """Druid's SQL metadata surface (sql/.../schema/InformationSchema.java,
    SystemSchema.java): INFORMATION_SCHEMA.TABLES / .COLUMNS and
    sys.segments.  Spark temp views can't be namespaced with a dot, so the
    views register under information_schema_* / sys_* and ``druid_sql``
    rewrites the dotted names — client SQL runs verbatim.

    Re-entrancy guarded: resolving a registered SQL view's schema below
    calls druid_sql, and a view that itself references sys.* /
    INFORMATION_SCHEMA.* would otherwise recurse unboundedly."""
    if getattr(_SQL_CTX, "in_metadata_views", False):
        return
    _SQL_CTX.in_metadata_views = True
    try:
        _register_metadata_views_inner(spark, catalog)
    finally:
        _SQL_CTX.in_metadata_views = False


def _register_metadata_views_inner(spark: SparkSession,
                                   catalog: Catalog) -> None:
    import os as _os

    tables = [("druid", "druid", n, "TABLE") for n in catalog.names()]
    tables += [("druid", "view", v, "VIEW") for v in sorted(_SQL_VIEWS)]
    local_frame(
        spark, tables,
        "TABLE_CATALOG string, TABLE_SCHEMA string, TABLE_NAME string, "
        "TABLE_TYPE string") \
        .createOrReplaceTempView("information_schema_tables")

    # INFORMATION_SCHEMA.SCHEMATA (InformationSchema.java SCHEMATA_SIGNATURE)
    local_frame(
        spark, [("druid", s) for s in
         ("lookup", "view", "druid", "sys", "INFORMATION_SCHEMA")],
        "CATALOG_NAME string, SCHEMA_NAME string") \
        .createOrReplaceTempView("information_schema_schemata")

    cols, segs = [], []
    for name in catalog.names():
        df = catalog.table(name)
        for i, f in enumerate(df.schema.fields, start=1):
            dt = _druid_type(f.dataType)
            cols.append(("druid", "druid", name, f.name, i, dt,
                         "YES" if f.nullable else "NO", _jdbc_type(dt)))
        # sys.segments: one row per time-partition directory ("segment") for
        # ingested tables, one per file for plain parquet sources; sizes from
        # the filesystem listing (the analogue of the coordinator's segment
        # metadata — no data read)
        path = catalog._specs[name].path
        if path and _os.path.isdir(path):
            for key, full in segment_dirs(path) or [("", path)]:
                size = sum(_os.path.getsize(_os.path.join(r, f))
                           for r, _, fs in _os.walk(full) for f in fs)
                segs.append((f"{name}_{key}" if key else name, name, key,
                             size, 1, 1))
        elif path:
            segs.append((name, name, "", _os.path.getsize(path), 1, 1))
    # registered SQL views surface their resolved schemas under the `view`
    # schema (InformationSchema resolves view row types the same way)
    for vname in sorted(_SQL_VIEWS):
        try:
            vdf = druid_sql(spark, _SQL_VIEWS[vname], catalog)
        except Exception:  # pragma: no cover - broken view definition
            continue
        for i, f in enumerate(vdf.schema.fields, start=1):
            dt = _druid_type(f.dataType)
            cols.append(("druid", "view", vname, f.name, i, dt,
                         "YES" if f.nullable else "NO", _jdbc_type(dt)))
    local_frame(
        spark, cols,
        "TABLE_CATALOG string, TABLE_SCHEMA string, TABLE_NAME string, "
        "COLUMN_NAME string, ORDINAL_POSITION int, DATA_TYPE string, "
        "IS_NULLABLE string, JDBC_TYPE int") \
        .createOrReplaceTempView("information_schema_columns")
    local_frame(
        spark, segs,
        "segment_id string, datasource string, start string, "
        "size long, is_published int, is_available int") \
        .createOrReplaceTempView("sys_segments")

    # sys.servers / sys.tasks (SystemSchema.java): in this engine the whole
    # process topology is one Spark application — one server row (the
    # driver), and batch ingests run synchronously so the task table drains
    # to empty.  Shapes match the reference so client dashboards parse.
    sc = spark.sparkContext
    local_frame(
        spark, [(f"{sc.master}", "historical", sc.master.split("[")[0],
                 int(sc.defaultParallelism), 0)],
        "server string, server_type string, tier string, "
        "curr_size long, max_size long") \
        .createOrReplaceTempView("sys_servers")
    local_frame(
        spark, [],
        "task_id string, type string, datasource string, status string") \
        .createOrReplaceTempView("sys_tasks")


# The one scanner of the dialect's text.  Every rewrite reads the text it
# is handed through _tokens: a string literal ('' escapes), a quoted
# identifier ("…" Calcite's, `…` Spark's) or a comment (-- or /* */) is one
# token that no rewrite looks inside, and one left open runs to the end.
_TOKEN = re.compile(r"""
    (?P<lit>'[^']*(?:''[^']*)*'?)
  | (?P<ident>"[^"]*(?:""[^"]*)*"?|`[^`]*(?:``[^`]*)*`?)
  | (?P<comment>--[^\n]*|/\*.*?(?:\*/|\Z))
""", re.S | re.X)


def _tokens(sql: str) -> list[tuple[int, int, str]]:
    """``sql`` as consecutive (start, end, kind) runs; kind is "code",
    "lit", "ident" or "comment"."""
    out, pos = [], 0
    for m in _TOKEN.finditer(sql):
        if m.start() > pos:
            out.append((pos, m.start(), "code"))
        out.append((m.start(), m.end(), m.lastgroup))
        pos = m.end()
    if pos < len(sql):
        out.append((pos, len(sql), "code"))
    return out


def _token_index(toks, pos: int) -> int:
    """The index of the token holding ``pos``."""
    return bisect.bisect_right(toks, pos, key=lambda t: t[0]) - 1


def _starts_code(toks, pos: int) -> bool:
    """May a rewrite match begin at ``pos``: in code, or at the opening
    quote of a literal or identifier (a pattern may embed one), never
    inside either or inside a comment."""
    start, _, kind = toks[_token_index(toks, pos)]
    return kind == "code" or (kind != "comment" and start == pos)


def _names_text(sql: str) -> str:
    """The code and quoted identifiers of ``sql``: the text a table, view
    or lookup name can appear in."""
    return " ".join(sql[s:e] for s, e, kind in _tokens(sql)
                    if kind in ("code", "ident"))


# Nearest-preceding-keyword context classes for boolean matcher rewrites:
# after one of _EXPR_KW the comparison is a projected EXPRESSION (Druid's
# sql-compatible != yields NULL there); after the filter keywords it is a
# two-valued ValueMatcher.  ',' covers select-list / function-arg positions.
_CTX_KW = re.compile(r"(?i)\b(WHERE|HAVING|WHEN|THEN|ELSE|SELECT|AND|OR|NOT"
                     r"|ON|BY|FROM|RETURNING)\b|,")
_EXPR_KW = {"SELECT", "THEN", "ELSE", ",", "BY", "FROM", "RETURNING"}


def _code_sub(sql: str, pattern: str, repl, *,
              filter_ctx_only: bool = False) -> str:
    """re.sub over the matches of ``pattern`` that begin where
    ``_starts_code`` allows; a match is free to span a literal (the
    patterns of the matcher rewrites embed one).  With filter_ctx_only,
    additionally skip matches whose nearest preceding keyword puts them in
    an expression (projection) context."""
    toks = None

    def sub(m):
        nonlocal toks
        toks = toks or _tokens(sql)
        if not _starts_code(toks, m.start()):
            return m.group(0)
        if filter_ctx_only:
            kw = None
            for km in _CTX_KW.finditer(sql, 0, m.start()):
                if _starts_code(toks, km.start()):
                    kw = km.group(0).upper()
            if kw in _EXPR_KW:
                return m.group(0)
        return repl(m) if callable(repl) else m.expand(repl)
    return re.sub(pattern, sub, sql)


_PUNCT = re.compile(r"[(\[\]),]")


def _split_args(sql: str, toks, i: int) -> tuple[list[str], int] | None:
    """The arguments of the bracket opened just before ``i``, split at its
    depth-1 commas, and the index just past its closing bracket; None when
    the text ends first.  Brackets and commas count in code only; a comment
    inside an argument reads as one space."""
    depth, args, piece = 1, [], []
    for s, e, kind in toks[_token_index(toks, i):]:
        s = max(s, i)
        if kind != "code":
            piece.append(" " if kind == "comment" else sql[s:e])
            continue
        for m in _PUNCT.finditer(sql, s, e):
            c = m.group()
            if c in "([":
                depth += 1
            elif c in ")]" and depth > 1:
                depth -= 1
            elif c in ")]" or depth == 1:
                piece.append(sql[s:m.start()])
                arg = "".join(piece).strip()
                if c == "," or arg or args:
                    args.append(arg)
                if c != ",":
                    return args, m.end()
                piece, s = [], m.end()
        piece.append(sql[s:e])
    return None


_FILTER = re.compile(r"(?is)\s*FILTER\s*\(\s*WHERE\b")


def _rewrite_calls(sql: str, name: str, repl, *, bracket: str = "(",
                   with_filter: bool = False) -> str:
    """The call walker: rewrite every call ``name(...)`` that begins in
    code via ``repl(args) -> str | None`` (None leaves the call untouched);
    ``bracket="["`` walks ``name[...]`` instead.  Nested same-name calls
    inside the arguments are rewritten first; replacement text is not
    re-scanned; an unterminated call and everything after it pass through
    verbatim.  With ``with_filter`` an aggregate's trailing ``FILTER (WHERE
    p)`` is read too: ``repl(args, p)`` gets p (None without the clause),
    and a non-None result replaces the clause with the call."""
    pat = re.compile(rf"(?i)\b{name}\s*\{bracket}")
    if not pat.search(sql):
        return sql
    close = "]" if bracket == "[" else ")"
    toks = _tokens(sql)
    out, pos = [], 0
    for m in pat.finditer(sql):
        if m.start() < pos or not _starts_code(toks, m.start()):
            continue
        got = _split_args(sql, toks, m.end())
        if got is None:
            break  # never invent a closing bracket the source lacks
        args, end = got
        # nested calls first, so an outer call left alone (repl → None)
        # does not shadow a rewritable inner one: CAST(CAST('10.1' AS
        # INTEGER) AS VARCHAR) needs only the inner truncating cast
        args = [_rewrite_calls(a, name, repl, bracket=bracket,
                               with_filter=with_filter) for a in args]
        if with_filter:
            fm = _FILTER.match(sql, end)
            clause = fm and _split_args(sql, toks, fm.end())
            pred = ", ".join(clause[0]) if clause else None
            rep = repl(args, pred)
            if rep is not None and clause:
                end = clause[1]
        else:
            rep = repl(args)
        out.append(sql[pos:m.start()])
        out.append(m.group(0) + ", ".join(args) + close if rep is None
                   else rep)
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _split_keyword(text: str, kw: str) -> tuple[str, str] | None:
    """``text`` split around its first keyword ``kw`` in code outside
    brackets — FLOOR(x TO unit), POSITION(a IN b FROM c) — else None."""
    pat = re.compile(rf"(?i)[(\[]|[)\]]|\b{kw}\b")
    depth = 0
    for s, e, kind in _tokens(text):
        if kind != "code":
            continue
        for m in pat.finditer(text, s, e):
            if m.group() in "([":
                depth += 1
            elif m.group() in ")]":
                depth -= 1
            elif not depth:
                return text[:m.start()].strip(), text[m.end():].strip()
    return None


def _rewrite_aggregate_names(sql: str) -> str:
    """Druid SQL aggregate names that can't be SQL-UDF-registered (they are
    aggregates, not scalars) → Spark builtins with identical semantics:

      EARLIEST(x) / LATEST(x)          → min_by/max_by(x, __time)
        (sql/.../aggregation/builtin/EarliestLatestAnySqlAggregator.java —
         value at min/max __time)
      EARLIEST_BY(x, t) / LATEST_BY(x, t) → min_by/max_by(x, t)
      ANY_VALUE(x)                      → any_value(x)   (Spark builtin)
      APPROX_QUANTILE[_DS](x, p[, k])   → percentile_approx(x, p, 10000)

    Rewrites are paren- and quote-aware (_rewrite_calls) so nested call
    arguments like EARLIEST(LOWER(dim1)) pass through.  Single-argument
    EARLIEST/LATEST append the __time column the same way the reference's
    SQL layer injects it; the 2-arg string forms drop the maxBytes
    buffer-sizing hint (meaningless here)."""
    import re

    def first_last(fn):
        def repl(a):
            if len(a) == 1:
                return f"{fn}({a[0]}, __time)"
            if len(a) == 2 and re.fullmatch(r"\d+", a[1].strip()):
                return f"{fn}({a[0]}, __time)"
            return None
        return repl

    sql = _rewrite_calls(sql, "EARLIEST", first_last("min_by"))
    sql = _rewrite_calls(sql, "LATEST", first_last("max_by"))

    def any_value_repl(a):
        if len(a) == 2 and re.fullmatch(r"\d+", a[1].strip()):
            return f"any_value({a[0]})"
        return None
    sql = _rewrite_calls(sql, "ANY_VALUE", any_value_repl)

    # Calcite's GROUPING(a, b, ...) returns the multi-column bitmask in the
    # ARGUMENT order (GroupingSqlAggregator accepts varargs in any order);
    # Spark's grouping_id(cols...) demands GROUP BY order
    # (GROUPING_ID_COLUMN_MISMATCH).  Expand to an order-independent bit
    # composition of single-arg grouping() calls, which Spark accepts for
    # any grouped column regardless of position.
    def grouping_repl(a):
        if len(a) > 1:
            n = len(a)
            terms = [f"grouping({arg.strip()}) * {1 << (n - 1 - i)}"
                     if n - 1 - i else f"grouping({arg.strip()})"
                     for i, arg in enumerate(a)]
            return "(" + " + ".join(terms) + ")"
        return None
    sql = _rewrite_calls(sql, "GROUPING", grouping_repl)

    # datasketches SQL names (ApproxCountDistinctSqlAggregator + DS variants
    # — the lgK / tgtHllType / size tuning args don't apply)
    for ds_name in ("APPROX_COUNT_DISTINCT_DS_HLL",
                    "APPROX_COUNT_DISTINCT_DS_THETA"):
        sql = _rewrite_calls(sql, ds_name,
                             lambda a: f"approx_count_distinct({a[0]})"
                             if a else None)
    # EARLIEST_BY/LATEST_BY(expr, ts[, maxBytesPerValue]) — the string form
    # takes a third buffer-sizing hint (EarliestLatestBySqlAggregator);
    # drop it like the EARLIEST/LATEST 2-arg forms above
    def by_repl(fn):
        def repl(a):
            if len(a) == 3 and re.fullmatch(r"\d+", a[2].strip()):
                return f"{fn}({a[0]}, {a[1]})"
            if len(a) == 2:
                return f"{fn}({a[0]}, {a[1]})"
            return None
        return repl
    sql = _rewrite_calls(sql, "EARLIEST_BY", by_repl("min_by"))
    sql = _rewrite_calls(sql, "LATEST_BY", by_repl("max_by"))

    def approx_quantile_repl(a):
        if len(a) >= 2:
            return f"percentile_approx({a[0]}, {a[1]}, 10000)"
        return None
    sql = _rewrite_calls(sql, "APPROX_QUANTILE_DS", approx_quantile_repl)
    sql = _rewrite_calls(sql, "APPROX_QUANTILE", approx_quantile_repl)
    return sql


_SQL_VIEWS: dict[str, str] = {}

# sqlCurrentTimestamp (PlannerContext.CTX_SQL_CURRENT_TIMESTAMP): the
# reference pins CURRENT_TIMESTAMP/CURRENT_DATE to a context-supplied
# instant for reproducible plans; thread-local so view expansion (which
# re-enters druid_sql) sees the same pin.
_SQL_CTX = __import__("threading").local()


def set_sql_current_timestamp(iso: str | None, tz: str | None = None) -> None:
    """Pin (or clear, with None) CURRENT_TIMESTAMP/CURRENT_DATE for this
    thread's druid_sql calls.  ``tz`` is the effective sqlTimeZone the query
    will execute under (PlannerContext converts now into the sql timezone,
    PlannerContext.java localNow) — the instant is rendered in that zone's
    wall clock so the naive literal re-reads as the same instant under the
    matching Spark session timezone."""
    _SQL_CTX.current_ts = iso
    _SQL_CTX.current_ts_tz = tz


def _resolve_tz(name: str):
    """tz name ('UTC', 'America/Los_Angeles') or fixed offset ('+05:30')
    -> tzinfo, None if unresolvable."""
    import datetime as _dt
    import re as _re
    m = _re.fullmatch(r"([+-])(\d{2}):?(\d{2})", name.strip())
    if m:
        sign = 1 if m.group(1) == "+" else -1
        return _dt.timezone(sign * _dt.timedelta(hours=int(m.group(2)),
                                                 minutes=int(m.group(3))))
    try:
        from zoneinfo import ZoneInfo
        return ZoneInfo(name)
    except Exception:
        return None


def _apply_current_timestamp(sql: str) -> str:
    iso = getattr(_SQL_CTX, "current_ts", None)
    if not iso:
        return sql
    import datetime as _dt
    ts = _dt.datetime.fromisoformat(str(iso).replace("Z", "+00:00"))
    if ts.tzinfo is None:
        # Druid parses a zone-less sqlCurrentTimestamp as a UTC instant
        # (DateTimes.of); localNow then renders it in the sql timezone
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    tz_name = getattr(_SQL_CTX, "current_ts_tz", None)
    if tz_name and ts.tzinfo is not None:
        tzinfo = _resolve_tz(str(tz_name))
        if tzinfo is not None:
            ts = ts.astimezone(tzinfo)
    ts_lit = ts.strftime("%Y-%m-%d %H:%M:%S")
    if ts.microsecond:  # keep milliseconds (reference localNow has millis)
        ts_lit += ".%03d" % (ts.microsecond // 1000)
    d_lit = ts.strftime("%Y-%m-%d")
    sql = _code_sub(sql, r"(?i)\bCURRENT_TIMESTAMP\b", f"TIMESTAMP '{ts_lit}'")
    return _code_sub(sql, r"(?i)\bCURRENT_DATE\b", f"DATE '{d_lit}'")


def register_sql_view(name: str, sql: str) -> None:
    """ViewManager.createView (sql/.../calcite/view/ViewManager.java): a
    view is a named Druid SQL macro queryable as ``view.<name>``."""
    _SQL_VIEWS[name] = sql


def drop_sql_view(name: str) -> None:
    _SQL_VIEWS.pop(name, None)


def _rewrite_array_literals(sql: str) -> str:
    """Calcite's ``ARRAY[...]`` constructor → Spark ``array(...)``
    (ArrayConstructorOperatorConversion.java); nested ``ARRAY[ARRAY[..]]``
    too.  Druid's array constructor makes DOUBLE elements from decimal
    literals (ExprEval — there is no DECIMAL type); Spark would infer
    DECIMAL(p,s), which then refuses to mix with double columns
    (ARRAY_APPEND(ARRAY[1.2,2.2], d1)), so those are cast in place."""
    def repl(args):
        return "array(" + ", ".join(
            _code_sub(a, r"(?<![\w.])(\d+\.\d+(?:[eE][+-]?\d+)?)(?![\w.])",
                      r"CAST(\1 AS DOUBLE)") for a in args) + ")"
    return _rewrite_calls(sql, "ARRAY", repl, bracket="[")


def _rewrite_array_agg(sql: str) -> str:
    """``ARRAY_AGG([DISTINCT] x[, maxBytes])[ FILTER (WHERE ..)]`` →
    a null-keeping Spark form (ArraySqlAggregator.java appends nulls;
    Spark's array_agg drops them, so the value rides inside a struct):

        transform(array_agg([DISTINCT] named_struct('__v', x)) [FILTER ..],
                  __s -> __s.__v)

    The maxBytes argument (a sizing hint for Druid's buffer aggregator)
    is dropped — Spark grows aggregation buffers dynamically."""
    def repl(args, pred):
        if not args:
            return None
        distinct, expr = "", args[0]
        dm = re.match(r"(?is)^DISTINCT\s+(.*)$", expr)
        if dm:
            distinct, expr = "DISTINCT ", dm.group(1)
        # zero aggregated rows → NULL like the reference (Spark's array_agg
        # yields an empty array there); the duplicated aggregate is
        # deduplicated by the planner's common-aggregate elimination
        agg = (f"transform(array_agg({distinct}named_struct('__v', {expr}))"
               f"{_filter_clause(pred)}, __s -> __s.__v)")
        return f"CASE WHEN size({agg}) > 0 THEN {agg} ELSE NULL END"
    return _rewrite_calls(sql, "ARRAY_AGG", repl, with_filter=True)


def _filter_clause(pred: str | None) -> str:
    return "" if pred is None else f" FILTER (WHERE {pred})"


def _is_array_text(arg: str, array_cols: frozenset = frozenset()) -> bool:
    """Does this argument TEXT denote an array value?  Literal constructors
    and array-returning function calls are syntactic; bare identifiers
    consult ``array_cols`` (array-typed column names collected from the
    catalog schemas) so non-literal second arguments dispatch like Druid's
    type-driven ArrayContains/ArrayOverlap (Function.java) — e.g.
    ARRAY_CONTAINS(dim3, dim2) with dim2 an MVD means contains-ALL."""
    import re
    if re.match(r"(?i)\s*(array\s*[(\[]|mv_to_array\s*\(|string_to_array\s*\(|"
                r"array_(append|prepend|concat|slice|distinct)\s*\()", arg):
        return True
    m = re.match(r"\s*`?([A-Za-z_]\w*)`?\s*$|\s*\w+\s*\.\s*`?([A-Za-z_]\w*)`?\s*$",
                 arg)
    if m:
        return (m.group(1) or m.group(2)) in array_cols
    return False


def _rewrite_array_functions(sql: str,
                             array_cols: frozenset = frozenset()) -> str:
    """The ARRAY_* scalar family (sql/.../expression/builtin/Array*OperatorConversion.java)
    as type-preserving rewrites to Spark builtins.  Semantics follow
    core/.../math/expr/Function.java (SQL-compatible null mode):

      * ARRAY_OFFSET/ORDINAL out-of-range → NULL (ArrayOffsetFunction:3209)
      * ARRAY_OFFSET_OF/ORDINAL_OF miss → NULL (ArrayOffsetOfFunction:3258)
      * ARRAY_TO_STRING prints null elements as 'null' (String.valueOf join)
      * ARRAY_CONTAINS with an array second argument = contains-all
        (ArrayContainsFunction); scalar second argument = membership
      * ARRAY_SLICE is 0-based half-open; 2-arg form runs to the end
      * ARRAY_PREPEND takes (value, array) — Druid's order, not Spark's
    """
    sql = _rewrite_array_literals(sql)
    sql = _rewrite_array_agg(sql)

    # the type dispatch reads each argument while it still carries its
    # Druid name: ARRAY_SLICE(...) is an array, its rewrite slice(...) is
    # not recognisable as one
    def contains_repl(a):
        if len(a) != 2:
            return None
        arr, v = a
        if _is_array_text(v, array_cols):
            return f"forall({v}, __x -> array_contains({arr}, __x))"
        return f"array_contains({arr}, {v})"
    sql = _rewrite_calls(sql, "ARRAY_CONTAINS", contains_repl)
    # MV_CONTAINS / MV_OVERLAP accept scalar OR array second arguments in
    # Druid — same dispatch as the ARRAY_ forms
    sql = _rewrite_calls(sql, "MV_CONTAINS", contains_repl)

    def overlap_repl(a):
        if len(a) != 2:
            return None
        arr, v = a
        rhs = v if _is_array_text(v, array_cols) else f"array({v})"
        return f"arrays_overlap({arr}, {rhs})"
    sql = _rewrite_calls(sql, "ARRAY_OVERLAP", overlap_repl)
    sql = _rewrite_calls(sql, "MV_OVERLAP", overlap_repl)

    def only(nargs, fmt):
        def repl(a):
            if len(a) != nargs:
                return None
            return fmt(*a)
        return repl

    sql = _rewrite_calls(sql, "ARRAY_LENGTH", only(1, lambda a:
        f"CASE WHEN ({a}) IS NULL THEN NULL ELSE size({a}) END"))
    sql = _rewrite_calls(sql, "ARRAY_OFFSET_OF", only(2, lambda a, v:
        f"(nullif(array_position({a}, {v}), 0) - 1)"))
    sql = _rewrite_calls(sql, "ARRAY_ORDINAL_OF", only(2, lambda a, v:
        f"nullif(array_position({a}, {v}), 0)"))
    sql = _rewrite_calls(sql, "ARRAY_OFFSET", only(2, lambda a, i:
        f"get({a}, {i})"))
    sql = _rewrite_calls(sql, "ARRAY_ORDINAL", only(2, lambda a, i:
        f"get({a}, ({i}) - 1)"))
    sql = _rewrite_calls(sql, "ARRAY_PREPEND", only(2, lambda v, a:
        f"array_prepend({a}, {v})"))
    sql = _rewrite_calls(sql, "ARRAY_APPEND", only(2, lambda a, v:
        f"array_append({a}, {v})"))
    sql = _rewrite_calls(sql, "ARRAY_CONCAT", only(2, lambda a, b:
        f"concat({a}, {b})"))
    sql = _rewrite_calls(sql, "ARRAY_TO_STRING", only(2, lambda a, s:
        f"array_join({a}, {s}, 'null')"))
    sql = _rewrite_calls(sql, "STRING_TO_ARRAY", only(2, lambda s, sep:
        f"split({s}, {sep})"))

    def slice_repl(a):
        if len(a) == 2:
            arr, s = a
            return f"slice({arr}, ({s}) + 1, greatest(size({arr}) - ({s}), 0))"
        if len(a) == 3:
            arr, s, e = a
            return f"slice({arr}, ({s}) + 1, ({e}) - ({s}))"
        return None
    sql = _rewrite_calls(sql, "ARRAY_SLICE", slice_repl)
    # MV_SLICE also has the 2-arg run-to-end form
    # (MultiValueStringOperatorConversions.java) — the fixed-arity macro
    # can't express it, so route through the same rewrite
    sql = _rewrite_calls(sql, "MV_SLICE", slice_repl)

    return sql


def _null_arg(a: str | None) -> bool:
    if a is None:
        return True
    s = a.strip().upper()
    # a typed null literal (`CAST(NULL AS TIMESTAMP)`) is how Calcite spells
    # an omitted origin (testTimeseriesLosAngelesUsingTimeFloorConnectionUtc)
    import re
    return s == "NULL" or \
        re.fullmatch(r"CAST\s*\(\s*NULL\s+AS\s+\w+\s*\)", s) is not None


def _lit_string(arg: str) -> str | None:
    """The string if ``arg`` is a plain quoted literal."""
    a = arg.strip()
    if len(a) >= 2 and a[0] == "'" and a[-1] == "'" and "'" not in a[1:-1]:
        return a[1:-1].strip()
    return None


def _rewrite_time_buckets(sql: str, tz: str | None, origin_ms) -> str:
    """TIME_FLOOR/TIME_CEIL(ts, period[, origin[, tz]]) and TIME_SHIFT(ts,
    period, step[, tz]) → ``Granularity``'s SQL text
    (TimeFloorOperatorConversion.java and siblings delegate to
    PeriodGranularity).  The zone defaults to the query's sqlTimeZone
    ``tz``; ``origin_ms`` turns an origin argument into epoch millis.  A
    non-literal period is a CASE over the common periods that raises on any
    other."""
    from incubator_druid_spark.model.granularity import (COMMON_PERIODS,
                                                         Granularity,
                                                         parse_period)

    def repl(fname, args):
        shift = fname == "TIME_SHIFT"
        if not (3 if shift else 2) <= len(args) <= 4:
            return None
        ts, period = args[0], args[1]
        origin = None if shift or len(args) < 3 or _null_arg(args[2]) \
            else origin_ms(args[2])
        zone = tz
        if len(args) == 4 and not _null_arg(args[3]):
            zone = _lit_string(args[3])
            if zone is None:
                raise ValueError(f"{fname}: the time zone must be a string "
                                 "literal")

        def text(iso):
            g = Granularity("period", parse_period(iso), origin, zone)
            return (g.shift_sql(ts, args[2]) if shift else
                    g.ceil_sql(ts) if fname == "TIME_CEIL" else
                    g.floor_sql(ts))

        lit = _lit_string(period)
        if lit is not None:
            return text(lit)  # a malformed period raises loudly here
        branches = " ".join(f"WHEN '{p}' THEN {text(p)}"
                            for p in COMMON_PERIODS)
        return (f"(CASE {period} {branches} ELSE CAST(raise_error(concat("
                f"'{fname}: unsupported non-literal period ', {period}, "
                f"'; pass the period as a string literal or use the native "
                f"API')) AS TIMESTAMP) END)")

    names = ("TIME_SHIFT", "TIME_CEIL", "TIME_FLOOR")
    # Calcite-quoted calls arrive backtick-quoted from the identifier rewrite
    sql = _code_sub(sql, rf"(?i)`({'|'.join(names)})`(?=\s*\()", r"\1")
    # a call nested in another name's operand is rewritten in each copy of
    # that operand, so an origin is evaluated once per text
    origin_ms = functools.cache(origin_ms)
    for fname in names:
        sql = _rewrite_calls(sql, fname, lambda args, f=fname: repl(f, args))
    return sql


def _origin_millis(spark: SparkSession, text: str) -> int:
    """Epoch millis of a constant origin argument, already in final Spark
    SQL, evaluated on the exec session (a TIMESTAMP literal is wall time in
    its sqlTimeZone)."""
    register_druid_sql(spark, text)
    row = spark.sql(f"SELECT unix_millis({text}) AS o").first()
    if row["o"] is None:
        raise ValueError(f"origin {text!r} is not a constant timestamp")
    return row["o"]


def _rewrite_time_tz(sql: str) -> str:
    """3-arg TIME_EXTRACT/TIME_FORMAT(ts, .., tz) read local fields in an
    explicit zone (TimeExtractOperatorConversion.java etc.).  Both consume
    their operand in the SESSION zone (the query's sqlTimeZone on the pinned
    exec session), so the operand shifts from_utc(tz) then to_utc(session
    zone): the session-zone wall of the wrapped value equals the tz wall of
    the original.  current_timezone() folds to a literal at analysis."""
    def wrap(ts, tz):
        return (f"to_utc_timestamp(from_utc_timestamp({ts}, {tz}), "
                f"current_timezone())")

    for fn in ("TIME_EXTRACT", "TIME_FORMAT"):
        sql = _rewrite_calls(
            sql, fn,
            lambda a, fn=fn: None if len(a) <= 2 or _null_arg(a[2]) else
            f"{fn}({wrap(a[0], a[2])}, {a[1]})")
    return sql


def _rewrite_regexp_extract(sql: str) -> str:
    """REGEXP_EXTRACT(s, p[, idx]) — RegexpExtractExprMacro.java returns NULL
    when the pattern does not match (matcher.find() fails); Spark's builtin
    returns ''.  Also: Druid's default group is 0, Spark's is 1."""
    def repl(args):
        if len(args) == 2:
            s, p, i = args[0], args[1], "0"
        elif len(args) == 3:
            s, p, i = args
        else:
            return None
        return (f"(CASE WHEN {s} RLIKE {p} "
                f"THEN regexp_extract({s}, {p}, {i}) END)")
    return _rewrite_calls(sql, "REGEXP_EXTRACT", repl)


# Calcite FLOOR(ts TO unit) / CEIL(ts TO unit) — the idiom in every Druid
# SQL tutorial query (sql/.../expression/builtin/FloorOperatorConversion.java,
# CeilOperatorConversion.java); Spark's FLOOR/CEIL have no TO-unit form.
_UNIT_PERIOD = {"SECOND": "PT1S", "MINUTE": "PT1M", "HOUR": "PT1H",
                "DAY": "P1D", "WEEK": "P1W", "MONTH": "P1M",
                "QUARTER": "P3M", "YEAR": "P1Y"}


def _rewrite_floor_ceil_to(sql: str) -> str:
    """FLOOR/CEIL(ts TO unit) → TIME_FLOOR/TIME_CEIL(ts, period), which
    the time-bucket rewrite then turns into the same text."""
    def to_call(fname):
        def repl(args):
            parts = _split_keyword(args[0], "TO") if len(args) == 1 else None
            if parts is None or not re.fullmatch(r"\w+", parts[1]):
                return None
            period = _UNIT_PERIOD.get(parts[1].upper())
            if period is None:
                # TimeUnits.java maps only SECOND..YEAR; an unknown unit
                # must raise like the reference's plan error
                raise ValueError(f"{fname} … TO {parts[1]}: unknown time "
                                 "unit")
            return f"TIME_{fname}({parts[0]}, '{period}')"
        return repl

    for fname in ("FLOOR", "CEIL"):
        sql = _rewrite_calls(sql, fname, to_call(fname))
    return sql


# DATE_TRUNC's units (DateTruncOperatorConversion.java TRUNC_PERIOD_MAP)
_TRUNC_PERIOD = {**{u.lower(): p for u, p in _UNIT_PERIOD.items()},
                 "milliseconds": "PT0.001S", "microseconds": "PT0.001S",
                 "decade": "P10Y", "century": "P100Y", "millennium": "P1000Y"}


def _rewrite_date_trunc(sql: str) -> str:
    """DATE_TRUNC('unit', ts) → TIME_FLOOR(ts, period): Druid maps each
    unit to a Period floored in the query zone.  Centuries and millennia
    keep the Postgres phase (century 2019 → 2001), an origin in year 2001,
    where Druid's 1970-anchored grid would give 1970."""
    def repl(args):
        unit = _lit_string(args[0]) if len(args) == 2 else None
        if unit is None:
            return None
        period = _TRUNC_PERIOD.get(unit.lower())
        if period is None:
            raise ValueError(f"DATE_TRUNC cannot truncate to {unit!r}")
        origin = (", TIMESTAMP '2001-01-01 00:00:00'"
                  if unit.lower() in ("century", "millennium") else "")
        return f"TIME_FLOOR({args[1]}, '{period}'{origin})"
    return _rewrite_calls(sql, "DATE_TRUNC", repl)


_NON_ANSI_CLONES: "weakref.WeakKeyDictionary" = None


# Temp views the ENGINE itself registers (lookup tables, SQL views,
# INFORMATION_SCHEMA / sys emulation) — excluded from _exec_session's
# staleness checks so the engine's own registrations never rebuild its clone.
_ENGINE_VIEW_RE = re.compile(
    r"(?i)^(?:lookup_|view_|__lookup_|information_schema_|sys_)")


def _host_view_names(spark: SparkSession) -> list[str]:
    """Current non-engine host temp-view names — ONE py4j round-trip
    (listLocalTempViews(...).mkString), vs one per view."""
    try:
        jcat = spark._jsparkSession.sessionState().catalog()
        s = jcat.listLocalTempViews("*").mkString("\n")
        names = [n.strip("`") for n in s.split("\n") if n]
    except Exception:  # pragma: no cover — unexpected catalog shape
        try:
            names = [t.name for t in spark.catalog.listTables()
                     if t.isTemporary]
        except Exception:
            return []
    return sorted(n for n in names if not _ENGINE_VIEW_RE.match(n))


def _view_identity(spark: SparkSession, name: str) -> int:
    """Identity hash of the view's stored TemporaryViewRelation object —
    createOrReplaceTempView always installs a fresh object, so identity
    change is a strict superset of semantic change.  0 when absent."""
    try:
        jcat = spark._jsparkSession.sessionState().catalog()
        raw = jcat.getRawTempView(name)
        if raw.isDefined():
            return int(spark.sparkContext._jvm.java.lang.System
                       .identityHashCode(raw.get()))
    except Exception:  # pragma: no cover
        pass
    return 0


def _referenced_views(names: list[str], sql: str | None) -> list[str]:
    """The views or datasources among ``names`` a query COULD reference:
    names appearing as a word in the SQL's code or quoted identifiers
    (case-insensitive, as Spark resolves temp views).  Overmatching (a
    view name used as a column alias) only costs an extra check; a table
    cannot be referenced without its name appearing, so nothing is
    missed.  sql=None (defensive callers) checks everything."""
    if sql is None or not names:
        return list(names)
    text = _names_text(sql)
    return [n for n in names
            if re.search(rf"(?i)\b{re.escape(n)}\b", text)]


# Spellings of the zero-offset zone Spark/JVM hosts commonly carry — a
# host on any of these needs no tz clone for the dialect's UTC default.
_UTC_ALIASES = frozenset({"UTC", "Etc/UTC", "GMT", "Etc/GMT", "Z",
                          "+00:00", "GMT0", "Greenwich", "Universal",
                          "Zulu", "Etc/Greenwich", "Etc/Universal",
                          "Etc/Zulu", "GMT+0", "GMT-0", "Etc/GMT+0",
                          "Etc/GMT-0", "Etc/GMT0", "UCT", "Etc/UCT"})


def _same_tz(a: str, b: str) -> bool:
    return a == b or (a in _UTC_ALIASES and b in _UTC_ALIASES)


def _exec_session(spark: SparkSession, tz: str,
                  sql: str | None = None) -> SparkSession:
    """The session the Druid dialect executes under.  Druid SQL fixes BOTH
    planner knobs regardless of host/server config (PlannerContext):
    non-ANSI semantics (CAST('x' AS BIGINT) is null, x/0 is null, MVD
    element reads never throw) and the query's effective sqlTimeZone
    (CTX_SQL_TIME_ZONE, else ``druid.sql.planner.sqlTimeZone`` whose
    default is UTC — NOT the host session's zone).

    Returns the host itself when it already matches (ANSI off + same tz);
    otherwise a per-(host, tz) session CLONE: cloneSession() copies the
    host's SQLConf and temp-view state, the two knob flips apply only to
    the clone, and the host session is never mutated.

    Staleness (a host that replaces/adds/drops a temp view or changes its
    timezone between calls must not get a stale snapshot) is validated in
    two tiers, both O(1)-ish per call:
    - GLOBAL: the full name list (one py4j mkString) + the host timezone
      — catches add/drop/rename and tz drift.
    - REFERENCED-ONLY identities: a same-name REPLACEMENT only changes
      the result if the query actually references the view (temp views
      store their analyzed plan, so even view-on-view chains resolve at
      definition time), so the per-view identity reads — the O(#views)
      py4j cost the r8 bench still charged on every call — run only for
      the views the SQL text can reference (usually zero)."""
    ansi_on = (spark.conf.get("spark.sql.ansi.enabled", "false")
               or "").lower() == "true"
    if not ansi_on and _same_tz(spark.conf.get("spark.sql.session.timeZone"),
                                tz):
        return spark
    global _NON_ANSI_CLONES
    if _NON_ANSI_CLONES is None:
        import weakref
        _NON_ANSI_CLONES = weakref.WeakKeyDictionary()
    names = _host_view_names(spark)
    # the no-default read: the key always resolves (falls back to the JVM
    # zone) and conf.get(key, default) VALIDATES the default on a vanilla
    # PySpark-4 host (r7 crack #1)
    global_token = (tuple(names),
                    spark.conf.get("spark.sql.session.timeZone"))
    per_tz = _NON_ANSI_CLONES.setdefault(spark, {})
    cached = per_tz.get(tz)
    if cached is not None and cached[1] == global_token:
        clone, _, ids = cached
        if all(_view_identity(spark, n) == ids.get(n)
               for n in _referenced_views(names, sql)):
            return clone
    clone = SparkSession(spark.sparkContext,
                         spark._jsparkSession.cloneSession())
    clone.conf.set("spark.sql.ansi.enabled", "false")
    clone.conf.set("spark.sql.session.timeZone", tz)
    ids = {n: _view_identity(spark, n) for n in names}
    per_tz[tz] = (clone, global_token, ids)
    return clone


def _backticked(ident: str) -> str:
    """A Calcite "quoted" identifier ("" escapes) as a Spark `quoted` one;
    one left open stays as it is."""
    if len(ident) < 2 or ident[-1] != '"':
        return ident
    return "`" + ident[1:-1].replace('""', '"').replace("`", "``") + "`"


# words after `lookup.<name>` / `view.<name>` that are not a table alias
_ALIAS_STOP = {"on", "where", "group", "order", "limit", "union",
               "intersect", "except", "inner", "left", "right", "full",
               "cross", "join", "having", "natural", "using"}


def druid_sql(spark: SparkSession, sql: str, catalog: Catalog | None = None,
              tz: str | None = None):
    """One-call Druid-flavored SQL entry: functions + views + execute.

    ``tz`` is the query's sqlTimeZone (PlannerContext.CTX_SQL_TIME_ZONE);
    None means the dialect default UTC (``druid.sql.planner.sqlTimeZone``)
    — the host session's zone is deliberately NOT inherited, matching the
    reference where the broker plans in UTC no matter what machine zone
    the server runs under."""
    import re
    m = re.match(r"(?is)\s*EXPLAIN\s+PLAN\s+FOR\s+(.*)", sql)
    if m:
        # SqlExplain handling (DruidPlanner plans the inner query and returns
        # one row: PLAN = the native plan, RESOURCES = touched datasources).
        # Here PLAN is the Catalyst physical plan — this engine's "native"
        # representation — so EXPLAIN-driven tooling keeps working.
        import json as _json
        inner = druid_sql(spark, m.group(1), catalog, tz)
        plan = inner._jdf.queryExecution().explainString(
            inner._sc._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted"))
        # RESOURCES from the ANALYZED plan's relations (view resolution
        # inserts `SubqueryAlias <view>` per referenced datasource) — a
        # word-search over the raw SQL would also hit names inside string
        # literals, comments, or aliases (ADVICE r1)
        analyzed = str(inner._jdf.queryExecution().analyzed())
        referenced = set(re.findall(r"SubqueryAlias\s+([\w.]+)", analyzed))
        referenced |= {r.split(".")[-1] for r in referenced}
        tables = sorted({t for t in (catalog.names() if catalog else [])
                         if t in referenced})
        res = _json.dumps([{"name": t, "type": "DATASOURCE"} for t in tables])
        return local_frame(spark, [(plan, res)],
                           "PLAN string, RESOURCES string")
    # Execute the dialect under its fixed knobs (non-ANSI + sqlTimeZone,
    # default UTC) — a clone only when the host session doesn't already
    # match; see _exec_session.
    exec_spark = _exec_session(spark, tz or "UTC", sql)
    if exec_spark is not spark:
        spark = exec_spark
        if catalog is not None:
            catalog = catalog.for_session(spark)
    sql = _apply_current_timestamp(sql)
    tables = [] if catalog is None else _referenced_views(catalog.names(), sql)
    if catalog is not None:
        register_views(catalog, tables)
        if re.search(r"(?i)\bINFORMATION_SCHEMA\s*\.|\bsys\s*\.", sql):
            register_metadata_views(spark, catalog)
    # Calcite identifier quoting (sql/.../planner/DruidPlanner — Calcite's
    # default DOUBLE_QUOTE quoting, "" escapes): convert to Spark backticks.
    sql = "".join(
        _backticked(sql[s:e]) if kind == "ident" and sql[s] == '"'
        else sql[s:e] for s, e, kind in _tokens(sql))
    # lookup schema (sql/.../schema/LookupSchema.java): every registered
    # lookup is a two-column (k, v) STRING table named lookup.<name> —
    # registered here as a broadcast-size temp view, dotted name rewritten.
    names_text = _names_text(sql)
    # lookups that can actually be an EARLIEST/LATEST target — those read as
    # a FROM datasource, not join-side references (whose star-expansion
    # schema must stay the two-column (k, v) contract)
    _from_lookups = set(re.findall(r"(?i)\bFROM\s+lookup\s*\.\s*(\w+)",
                                   names_text))
    for lk in set(re.findall(r"(?i)\blookup\s*\.\s*(\w+)", names_text)):
        from incubator_druid_spark.functions.lookups import (_lookup_frame,
                                                             get_lookup,
                                                             is_df_lookup)
        if is_df_lookup(lk):
            # DataFrame-backed (URI) lookup: the (k, v) frame IS the table;
            # a synthetic __time (EARLIEST/LATEST order) would require a
            # total order a file-based map doesn't have — the two-column
            # contract applies
            # the cached frame is bound to the session that built it, so a
            # plain createOrReplaceTempView would register the view THERE —
            # invisible to a (re)built non-ANSI clone.  Route through a
            # global temp view (visible from every session) plus a
            # session-local alias so references stay `lookup_<name>`.
            gview = f"__lookup_src_{lk}"
            _lookup_frame(spark, lk).createOrReplaceGlobalTempView(gview)
            spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW lookup_{lk} AS "
                      f"SELECT * FROM global_temp.{gview}")
            continue
        mapping = get_lookup(lk)  # KeyError on unknown lookup = clear error
        if lk in _from_lookups and re.search(
                r"(?i)\b(?:EARLIEST|LATEST)(?:_BY)?\s*\(", names_text):
            # EARLIEST/LATEST read __time, which a lookup table lacks; the
            # reference's lookup segments read the missing column as a
            # constant, so first/last degrade to map ITERATION order
            # (LookupSegmentWrangler scan).  A synthetic insertion-order
            # __time reproduces that deterministically; it is only added
            # when the query can reference it (star expansion over
            # lookup.<name> must stay the two-column (k, v) schema).
            rows3 = [(k, v, i) for i, (k, v) in enumerate(mapping.items())]
            local_frame(spark, rows3, "k string, v string, __time timestamp") \
                .createOrReplaceTempView(f"lookup_{lk}")
        else:
            local_frame(spark, list(mapping.items()), "k string, v string") \
                .createOrReplaceTempView(f"lookup_{lk}")
    # view schema (sql/.../calcite/view/ViewManager + ViewSchema): a view is
    # a registered SQL macro exposed as table view.<name>; planned here
    # through the same druid_sql pipeline (views can reference lookups,
    # druid.<table>, even other views) and registered as a temp view
    for vw in set(re.findall(r"(?i)\bview\s*\.\s*(\w+)", names_text)):
        vsql = _SQL_VIEWS[vw]  # KeyError on unknown view = clear error
        druid_sql(spark, vsql, catalog, tz) \
            .createOrReplaceTempView(f"view_{vw}")
    sql = _code_sub(sql, r"(?i)\bINFORMATION_SCHEMA\s*\.\s*",
                    "information_schema_")
    sql = _code_sub(sql, r"(?i)\bsys\s*\.\s*(segments|servers|tasks)",
                    r"sys_\1")

    # Calcite exposes an unaliased `lookup.<name>` (or `view.<name>`) under
    # its last name component (`lookyloo.k` resolves) — inject `AS <name>`
    # unless the query supplies its own alias right after the reference.
    def _schema_repl(m):
        table = f"{m.group(1).lower()}_{m.group(2)}"
        nxt = re.match(r"\s*(\w+)", m.string[m.end():])
        if nxt and nxt.group(1).lower() not in _ALIAS_STOP:
            return table  # AS or a user alias follows
        return f"{table} AS {m.group(2)}"
    sql = _code_sub(sql, r"(?i)\b(lookup|view)\s*\.\s*(\w+)", _schema_repl)
    # `druid` is the default datasource schema (DruidSchema) — strip the
    # qualifier so `druid.foo` resolves to the registered view `foo`.
    sql = _code_sub(sql, r"(?i)\bdruid\s*\.\s*(\w+)", r"\1")
    sql = _rewrite_floor_ceil_to(sql)
    sql = _rewrite_date_trunc(sql)
    sql = _rewrite_time_tz(sql)
    sql = _rewrite_regexp_extract(sql)
    # the referenced tables' column types, read once per query from the
    # schemas of the frames their views hold: array columns dispatch the
    # non-literal ARRAY_CONTAINS/ARRAY_OVERLAP arguments by type, as Druid's
    # runtime does; string arrays are MVDs; binaries are sketch state.  Only
    # referenced tables: a scalar column in table A sharing a name with an
    # MVD column in unreferenced table B must not pick up array rewrites.
    array_cols, mvd_cols, bin_cols, ts_cols = set(), set(), set(), {"__time"}
    from pyspark.sql import types as _T
    for _t in tables:
        for _f in catalog.schema(_t).fields:
            if isinstance(_f.dataType, _T.ArrayType):
                array_cols.add(_f.name)
                if isinstance(_f.dataType.elementType, _T.StringType):
                    mvd_cols.add(_f.name)
            elif isinstance(_f.dataType, _T.BinaryType):
                bin_cols.add(_f.name)
            elif isinstance(_f.dataType, _T.TimestampType):
                ts_cols.add(_f.name)
    sql = _rewrite_array_functions(sql, frozenset(array_cols))

    # MVD-aware COUNT(DISTINCT col): Calcite exposes an MVD as VARCHAR and
    # plans a cardinality agg over its VALUES (CalciteQueryTest
    # testExactCountDistinct expects 3 for dim2's {'a','','abc'}), while a
    # bare Spark count-distinct over the array column would count distinct
    # ARRAYS.  collect_set bounds state by distinct arrays, then
    # flatten+distinct counts the value universe; null elements drop.  The
    # result is not an aggregate a trailing FILTER (WHERE p) can attach to,
    # so p folds into the collect_set (non-matching rows add no arrays).
    if catalog is not None:
        def _mvd_values(c, pred):
            v = c if pred is None else f"CASE WHEN ({pred}) THEN {c} END"
            return (f"CAST(size(filter(array_distinct(flatten("
                    f"collect_set({v}))), x -> x IS NOT NULL)) AS BIGINT)")

        def _cd_mvd_repl(a, pred):
            if len(a) != 1:
                return None
            m = re.match(r"(?is)^\s*DISTINCT\s+([A-Za-z_]\w*)\s*$", a[0])
            if m and m.group(1) in bin_cols:
                # exact COUNT(DISTINCT) over a COMPLEX sketch column would
                # silently count distinct serialized blobs; Druid refuses
                # ("Unable to plan", CalciteQueryTest
                # testUnplannableExactCountDistinctOnSketch) — match that.
                raise ValueError(
                    f"COUNT(DISTINCT {m.group(1)}) over a COMPLEX sketch "
                    "column cannot be planned exactly; use "
                    f"APPROX_COUNT_DISTINCT({m.group(1)}) to merge the "
                    "stored sketch state")
            if m and m.group(1) in mvd_cols:
                return _mvd_values(m.group(1), pred)
            # COUNT(<mvd>): Druid counts rows with at least one value — []
            # and null both read as "no values" (testCountNullableColumn,
            # testFilteredAggregations expect 4 / 3 in sql mode), while
            # Spark's COUNT(array) would count [] as a non-null array.
            m2 = re.match(r"(?is)^\s*([A-Za-z_]\w*)\s*$", a[0])
            if m2 and m2.group(1) in mvd_cols:
                return (f"COUNT(CASE WHEN size({m2.group(1)}) > 0 THEN 1 END)"
                        f"{_filter_clause(pred)}")
            return None
        sql = _rewrite_calls(sql, "COUNT", _cd_mvd_repl, with_filter=True)

        # APPROX_COUNT_DISTINCT(<mvd>) — the cardinality aggregator counts
        # the VALUE universe of the multi-value dimension, not distinct
        # arrays (testApproxCountDistinctWhenHllDisabled expects 3 for
        # dim2's {a, '', abc}); computed exact like the COUNT(DISTINCT)
        # rewrite above.  Runs before the generic aggregate-name rewrite,
        # which keeps scalar inputs on approx_count_distinct.
        def _acd_mvd_repl(a, pred):
            if len(a) != 1:
                return None
            m = re.match(r"(?is)^\s*(?:DISTINCT\s+)?([A-Za-z_]\w*)\s*$",
                         a[0])
            if m and m.group(1) in mvd_cols:
                return _mvd_values(m.group(1), pred)
            if m and m.group(1) in bin_cols:
                # COMPLEX hyperUnique column (rollup-stored HLL state):
                # union the stored sketches like the native hyperUnique
                # binary path (operators/aggregations.py)
                # allowDifferentLgConfigK=true, matching the native binary
                # path — segments may be written with mixed lgK settings
                return ("CAST(round(hll_sketch_estimate("
                        f"hll_union_agg({m.group(1)}, true)"
                        f"{_filter_clause(pred)})) AS BIGINT)")
            return None
        sql = _rewrite_calls(sql, "APPROX_COUNT_DISTINCT", _acd_mvd_repl,
                             with_filter=True)

        # Scalar =/<> comparisons over an MVD: Calcite types the column
        # VARCHAR and the native selector ANY-matches elements; <> is the
        # boolean matcher's negation, so null/[] rows match it
        # (testCountStarWithTimeAndDimFilter: dim2 <> 'a' keeps the
        # empty-array and null rows).  Comparisons become two-valued via
        # coalesce — Druid ValueMatchers have no three-valued NULL.
        def _mvd_cmp_repl(m):
            col, op, lit = m.group("col"), m.group("op"), m.group("lit")
            if not lit.startswith("'"):
                # numeric literal (e.g. a bound INTEGER parameter):
                # Druid plans a numericSelector over the VARCHAR column —
                # compare against the literal's string rendering
                lit = f"CAST({lit} AS STRING)"
            base = f"coalesce(array_contains({col}, {lit}), false)"
            return base if op == "=" else f"(NOT {base})"
        # Array indexing on an MVD (`dim2[0]`) is the dialect's scalar read
        # of a multi-value column.  Druid's VARCHAR read of an MVD never
        # throws on empty/short rows, and Spark's `[i]` accessor errors on
        # out-of-bounds under ANSI — rewrite to the null-safe `get()`,
        # whose semantics equal non-ANSI `[i]` in BOTH session modes.
        for _c in mvd_cols:
            sql = _code_sub(
                sql,
                rf"(?P<col>\b(?:\w+\.)?{_c})\s*\[\s*(?P<idx>\d+)\s*\]",
                lambda m: f"get({m.group('col')}, {m.group('idx')})")

        # A projection alias that shadows the MVD name (`dim2[0] AS dim2`)
        # binds the comparison to a SCALAR in its scope — rewriting it to
        # array_contains would be a type error (testExactCountDistinct-
        # UsingSubqueryWithWherePushDown's outer WHERE).  Regex rewriting
        # is scope-blind, so skip shadowed names entirely: the aliased
        # scalar already carries plain SQL semantics.
        mvd_cols = {c for c in mvd_cols
                    if not re.search(rf"(?is)\bAS\s+{c}\b", sql)}
        for _c in mvd_cols:
            sql = _code_sub(
                sql,
                rf"(?P<col>\b(?:\w+\.)?{_c})\s*(?P<op>=|<>|!=)\s*"
                rf"(?P<lit>'(?:[^']|'')*'|"
                rf"(?<![\w.])-?\d+(?:\.\d+)?(?![\w.]))",
                _mvd_cmp_repl)
            sql = _code_sub(
                sql,
                rf"(?P<lit>'(?:[^']|'')*'|"
                rf"(?<![\w.])-?\d+(?:\.\d+)?(?![\w.]))\s*"
                rf"(?P<op>=|<>|!=)\s*"
                rf"(?P<col>\b(?:\w+\.)?{_c})\b",
                _mvd_cmp_repl)

    # Integer-target CAST follows the reference's string coercion
    # (ExprEval.computeNumber:565-580 — tryParseLong, else parse double and
    # truncate): CAST('10.1' AS INTEGER) is 10 in Druid, NULL in plain
    # Spark.  Exact longs stay exact (first branch), decimals truncate via
    # the double branch.
    def _int_cast_repl(a):
        if len(a) != 1:
            return None
        m = re.match(r"(?is)^(.*)\s+AS\s+"
                     r"(INTEGER|INT|BIGINT|SMALLINT|TINYINT|LONG)\s*$", a[0])
        if not m:
            return None
        expr, t = m.group(1), m.group(2).upper()
        t = "BIGINT" if t == "LONG" else t
        # Druid's TIMESTAMP runtime type IS epoch MILLIS (sql.md type
        # table), so CAST(<timestamp> AS BIGINT) returns millis — Spark's
        # cast reads SECONDS.  Recognized shapes: a timestamp column of a
        # referenced table, or MIN/MAX over one.
        ts_m = re.match(
            r'(?is)^\s*(?:(?:MIN|MAX)\s*\(\s*)?"?([A-Za-z_][\w.]*)"?\s*\)?\s*$',
            expr)
        if ts_m and ts_m.group(1).split(".")[-1] in ts_cols:
            return f"CAST(unix_millis(CAST({expr} AS TIMESTAMP)) AS {t})"
        return (f"COALESCE(TRY_CAST({expr} AS {t}), "
                f"TRY_CAST(TRY_CAST({expr} AS DOUBLE) AS {t}))")
    sql = _rewrite_calls(sql, "CAST", _int_cast_repl)

    # EXTRACT(unit FROM ts): route the units Spark's EXTRACT rejects
    # (MILLISECOND/MICROSECOND/ISOYEAR/DECADE/CENTURY/MILLENNIUM/EPOCH/
    # ISODOW) or computes differently (SECOND → decimal with fraction,
    # DOW → Sun=1..Sat=7 instead of joda Mon=1..Sun=7) through the
    # TIME_EXTRACT udf, which implements TimestampExtractExprMacro.java
    # semantics for every unit
    _TE_UNITS = {"MILLISECOND", "MICROSECOND", "ISOYEAR", "DECADE",
                 "CENTURY", "MILLENNIUM", "EPOCH", "ISODOW", "DOW", "SECOND"}

    def _extract_repl(a):
        if len(a) != 1:
            return None
        m = re.match(r"(?is)^(\w+)\s+FROM\s+(.*)$", a[0].strip())
        if not m or m.group(1).upper() not in _TE_UNITS:
            return None
        return f"TIME_EXTRACT({m.group(2)}, '{m.group(1).upper()}')"
    sql = _rewrite_calls(sql, "EXTRACT", _extract_repl)

    # LIKE ... ESCAPE 'c': Calcite lets the escape char precede ANY
    # character (it reads as that literal char); Spark only allows it
    # before %, _ or itself (INVALID_FORMAT.ESC_IN_THE_MIDDLE) — so
    # unescape the non-wildcard uses inside the pattern literal
    def _like_escape_fix(m):
        pat, esc = m.group(1), m.group(2)
        out_p, i = [], 0
        while i < len(pat):
            c = pat[i]
            if c == esc and i + 1 < len(pat):
                nxt = pat[i + 1]
                if nxt in ("%", "_", esc):
                    out_p.append(c + nxt)
                else:
                    out_p.append(nxt)
                i += 2
            else:
                out_p.append(c)
                i += 1
        return f"LIKE '{''.join(out_p)}' ESCAPE '{esc}'"
    sql = _code_sub(sql, r"(?is)\bLIKE\s+'((?:[^']|'')*)'\s+ESCAPE\s+'(.)'",
                    _like_escape_fix)

    # POSITION(needle IN haystack FROM start) — Spark's parser accepts only
    # the 2-operand IN form; the FROM variant maps to the 3-arg function
    # (PositionOperatorConversion.java)
    def _position_repl(a):
        needle = _split_keyword(a[0], "IN") if len(a) == 1 else None
        rest = needle and _split_keyword(needle[1], "FROM")
        if not rest:
            return None
        return f"position({needle[0]}, {rest[0]}, {rest[1]})"
    sql = _rewrite_calls(sql, "POSITION", _position_repl)

    # LTRIM/RTRIM(expr, chars) (LTrimOperatorConversion — the Postgres
    # argument order) vs Spark's 2-arg (trimStr, str): swap
    for _nm, _fn in (("LTRIM", "ltrim"), ("RTRIM", "rtrim")):
        sql = _rewrite_calls(sql, _nm,
                             lambda a, fn=_fn: f"{fn}({a[1]}, {a[0]})"
                             if len(a) == 2 else None)

    # TRUNCATE/TRUNC numeric truncation (TruncateOperatorConversion —
    # digits defaults to 0; TRUNC is the alias) and PARSE_LONG with a radix
    # (ParseLongOperatorConversion) — fixed-arity macros cover the common
    # forms, these rewrites cover the optional-arg ones
    sql = _rewrite_calls(sql, "TRUNCATE",
                         lambda a: f"TRUNCATE({a[0]}, 0)"
                         if len(a) == 1 else None)
    sql = _rewrite_calls(sql, "TRUNC",
                         lambda a: f"TRUNCATE({a[0]}, 0)" if len(a) == 1
                         else (f"TRUNCATE({a[0]}, {a[1]})"
                               if len(a) == 2 else None))
    sql = _rewrite_calls(sql, "PARSE_LONG",
                         lambda a: f"CAST(conv({a[0]}, {a[1]}, 10) AS BIGINT)"
                         if len(a) == 2 else None)

    # TIME_PARSE(s, pattern[, tz]) (TimeParseOperatorConversion) — the 1-arg
    # ISO form stays on the SQL macro; patterned forms parse via
    # to_timestamp (these Joda pattern letters coincide with java.time's)
    def _joda_lit(arg: str) -> str:
        """Translate a LITERAL Joda pattern argument to java.time letters
        (Joda Y is year-of-era; java.time Y is week-based year — Spark
        even rejects 'YYYY' outright under the corrected parser)."""
        m0 = re.match(r"(?s)^\s*'(.*)'\s*$", arg)
        if not m0:
            return arg
        from incubator_druid_spark.functions.druid_expr import _joda_to_spark
        translated = _joda_to_spark(m0.group(1).replace("''", "'"))
        return "'" + translated.replace("'", "''") + "'"

    def _time_parse_repl(a):
        if len(a) not in (2, 3):
            return None
        # a NULL pattern means default ISO parsing
        # (testGroupAndFilterOnTimeFloorWithTimeZone passes NULL + tz)
        parsed = (f"TRY_CAST({a[0]} AS TIMESTAMP)" if _null_arg(a[1])
                  else f"try_to_timestamp({a[0]}, {_joda_lit(a[1])})")
        if len(a) == 2:
            return parsed
        # parsed interprets the naive wall in the SESSION zone (= the
        # query's sqlTimeZone on the pinned exec session); re-interpret in
        # the EXPLICIT zone session-independently: + offset(session) -
        # offset(tz).  current_timezone() folds to a literal at analysis.
        return (f"to_utc_timestamp(from_utc_timestamp({parsed}, "
                f"current_timezone()), {a[2]})")
    sql = _rewrite_calls(sql, "TIME_PARSE", _time_parse_repl)

    def _time_format_repl(a):
        # 3-arg tz forms were reduced to 2-arg by _rewrite_time_tz earlier
        if len(a) != 2 or _null_arg(a[1]):
            return None
        return f"date_format({a[0]}, {_joda_lit(a[1])})"
    sql = _rewrite_calls(sql, "TIME_FORMAT", _time_format_repl)
    # Calcite dialect forms Spark's parser rejects:
    #   CAST(x AS VARCHAR) with no length  → STRING
    #   GROUP BY ()                        → global aggregate (drop clause)
    #   ESCAPE '\'                         → backslash needs doubling in
    #                                        Spark string literals
    sql = _code_sub(sql, r"(?i)\bAS\s+VARCHAR\s*\)", "AS STRING)")
    sql = _code_sub(sql, r"(?i)\bGROUP\s+BY\s*\(\s*\)", "")
    # GROUP BY <string literal> — Druid plans this as a granularity-ALL
    # timeseries, which emits its single bucket even when no rows match
    # (testGroupByWithFilterMatchingNothingWithGroupByLiteral expects one
    # (0, null) row); Spark's literal grouping yields zero groups on empty
    # input.  Dropping the clause turns it into the same global aggregate.
    # Integer "literals" are ordinals in this dialect — never touched.
    sql = _code_sub(sql, r"(?i)\bGROUP\s+BY\s+'(?:[^']|'')*'(?=\s*(?:HAVING"
                    r"|ORDER|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|\)|$))", "")
    sql = _code_sub(sql, r"ESCAPE '\\'", r"ESCAPE '\\\\'")
    # STRING_FORMAT is variadic (StringFormatOperatorConversion.java) — SQL
    # UDFs have fixed arity, so map the name to Spark's format_string
    sql = _code_sub(sql, r"(?i)\bSTRING_FORMAT\s*\(", "format_string(")
    # Druid FILTERS are two-valued matchers even from SQL: `x <> 'z'` plans
    # as not(selector(x, 'z')) which MATCHES null values
    # (testCountStarOnView counts the substring-null row under
    # dim1_firstchar <> 'z').  Rewrite identifier-vs-string-literal
    # inequality into its matcher form; expression contexts where Druid's
    # own != would yield null are not identifier-vs-literal shapes.
    sql = _code_sub(
        sql,
        r"(?P<id>\b[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*(?:<>|!=)\s*"
        r"(?P<lit>'(?:[^']|'')*')",
        r"(NOT coalesce(\g<id> = \g<lit>, false))", filter_ctx_only=True)
    sql = _code_sub(
        sql,
        r"(?P<lit>'(?:[^']|'')*')\s*(?:<>|!=)\s*"
        r"(?P<id>\b[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\b",
        r"(NOT coalesce(\g<id> = \g<lit>, false))", filter_ctx_only=True)
    # Druid SUBSTRING (SubstringOperatorConversion → substring extraction)
    # returns NULL — not '' — when the result is empty (out-of-range start,
    # empty input): CalciteQueryTest testGroupByWithSelectProjections
    # expects SUBSTRING('1', 2) = null in sql mode.  LEFT/RIGHT keep ''.
    sql = _rewrite_calls(sql, "SUBSTRING",
                         lambda a: "NULLIF(substring("
                                   + ", ".join(a) + "), '')")
    sql = _rewrite_aggregate_names(sql)
    # last, so no later rewrite touches the inlined bucketing text
    sql = _rewrite_time_buckets(
        sql, tz, lambda text: _origin_millis(spark, text))
    # lazy function registration against the FINAL text: rewrites above may
    # inject macro names (EXTRACT→TIME_EXTRACT, …) and inline away others —
    # scanning the executed SQL catches both directions
    register_druid_sql(spark, sql)
    return spark.sql(sql)
