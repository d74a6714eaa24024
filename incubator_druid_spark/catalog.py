"""Datasource catalog: name -> (path, time column, options).

Druid's equivalent is the segment-metadata-driven ``DruidSchema``
(reference: sql/src/main/java/org/apache/druid/sql/calcite/schema/DruidSchema.java)
plus the coordinator's datasource registry.  Here a datasource is simply a
Parquet/Delta path (optionally time-partitioned) registered under a name; the
schema comes from the files.

Every datasource exposes a canonical ``__time`` timestamp column (Druid's
mandatory long-millis timestamp — reference:
processing/.../segment/column/ColumnHolder.java TIME_COLUMN_NAME).  For tables
whose natural time column has another name (e.g. ``events.ts``) the catalog
aliases it at load; tables with no time column get no ``__time`` and time-scoped
queries on them fail loudly.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.lenient import lenient_cast as _lcast
from .session import local_frame

TIME_COLUMN = "__time"

# Known time columns for the driver-generated test tables.
_DEFAULT_TIME_COLUMNS = {
    "events": "ts",
    "orders": "o_orderdate",
    "lineitem": "l_shipdate",
}

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@dataclass
class DatasourceSpec:
    name: str
    path: str
    fmt: str = "parquet"
    time_column: str | None = None  # aliased to __time on load (original kept)
    options: dict[str, str] = field(default_factory=dict)


class Catalog:
    """Registry of named datasources, resolved lazily to DataFrames."""

    _SERIAL = iter(range(1, 1 << 62))

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._specs: dict[str, DatasourceSpec] = {}
        self._lookups: dict[str, dict[str, str]] = {}
        # identity + mutation counter so per-session caches (temp-view
        # registration, schema lookups) can detect "same catalog, unchanged"
        self._serial = next(Catalog._SERIAL)
        self._version = 0
        self._schema_cache: dict[str, object] = {}
        # resolved-DataFrame cache: a DataFrame is an immutable plan handle,
        # but resolving one costs a ~90 ms reader/footer JVM roundtrip —
        # register_views + the SQL rewriters' schema scans touch every
        # table, so an uncached catalog pays ~2 s on the first druid_sql.
        # Managed (session-catalog) tables stay uncached: spark.table must
        # re-bind after a saveAsTable overwrite.
        self._df_cache: dict[str, DataFrame] = {}

    def version(self) -> tuple[int, int]:
        """(identity, mutation-count) — changes whenever datasources do."""
        src = getattr(self, "_parent", None) or self
        return (self._serial, src._version)

    def for_session(self, spark: SparkSession) -> "Catalog":
        """A read view of this catalog bound to ANOTHER SparkSession —
        same datasource specs and lookups (shared by reference, so later
        registrations on the parent are visible), but session-local
        DataFrame/schema caches since DataFrames bind to their session.
        Used by the SQL layer to execute the Druid dialect in a non-ANSI
        session clone while the host session stays untouched.

        Memoized per target session (on the parent): druid_sql calls this
        once per query, and a fresh view object per call would start with
        cold DataFrame/schema caches — re-resolving every table's reader
        footer (~90 ms each) on every query."""
        parent = getattr(self, "_parent", None) or self
        cache = getattr(parent, "_session_views", None)
        if cache is None:
            import weakref
            cache = parent._session_views = weakref.WeakKeyDictionary()
        view = cache.get(spark)
        if view is None:
            view = Catalog(spark)
            view._specs = self._specs
            view._lookups = self._lookups
            view._serial = self._serial
            view._parent = parent
            cache[spark] = view
        return view

    def _invalidate(self, name: str) -> None:
        """Drop per-session caches for a (re-)registered datasource — on
        this catalog, its parent, and every memoized session view (they
        share _specs by reference, so their DataFrame/schema caches must
        not outlive the spec they were resolved from)."""
        parent = getattr(self, "_parent", None) or self
        parent._version += 1
        peers = [self, parent]
        peers.extend(getattr(parent, "_session_views",
                             {}).values())
        for cat in peers:
            cat._schema_cache.pop(name, None)
            cat._df_cache.pop(name, None)

    # -- datasources -------------------------------------------------------
    def register(self, name: str, path: str, fmt: str = "parquet",
                 time_column: str | None = None, **options: str) -> None:
        self._specs[name] = DatasourceSpec(name, path, fmt, time_column, options)
        self._invalidate(name)

    def register_dir(self, sf_dir: str) -> "Catalog":
        """Register every ``<table>.parquet`` under a testdata dir."""
        for t in TPCH_TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.register(t, p, time_column=_DEFAULT_TIME_COLUMNS.get(t))
        return self

    def register_managed(self, name: str) -> None:
        """Datasource backed by a session-catalog table (saveAsTable) — the
        path for bucketed layouts, whose bucketing metadata only survives
        through spark.table()."""
        self._specs[name] = DatasourceSpec(name, path="", fmt="managed")
        self._invalidate(name)

    def table(self, name: str) -> DataFrame:
        if name not in self._specs:
            raise KeyError(f"unknown datasource: {name!r} (registered: {sorted(self._specs)})")
        spec = self._specs[name]
        if spec.fmt == "managed":
            return self.spark.table(name)
        token = self._path_token(spec.path)
        cached = self._df_cache.get(name)
        if cached is not None and token is not None and cached[0] == token:
            return cached[1]
        if str(spec.options.get("schemaEvolution", "")).lower() in (
                "1", "true", "yes"):
            df = self._read_evolving(spec)
        else:
            reader = self.spark.read.format(spec.fmt)
            for k, v in spec.options.items():
                reader = reader.option(k, v)
            df = reader.load(spec.path)
        if spec.time_column and spec.time_column in df.columns and TIME_COLUMN not in df.columns:
            # Alias (not rename): queries may address either name; Catalyst
            # prunes whichever is unused so the scan reads it once.
            tc = F.col(spec.time_column)
            dtype = dict(df.dtypes)[spec.time_column]
            if dtype == "bigint":
                # nanosAsLong path (parquet TIMESTAMP(NANOS) read as long ns)
                tc = F.timestamp_micros((tc / 1000).cast("long"))
            else:
                tc = tc.cast("timestamp")
            df = df.withColumn(TIME_COLUMN, tc)
        if token is not None:
            self._df_cache[name] = (token, df)
        return df

    def _read_evolving(self, spec: "DatasourceSpec") -> DataFrame:
        """Heterogeneous-segment read: Druid datasources evolve — a column
        can be a string in old segments, a long in newer ones, absent in
        others — and every segment is queried at its own local schema
        (SchemaEvolutionTest.java:137-147, the c1 string->long->float->
        absent matrix).  A flat parquet read can't express that (mergeSchema
        refuses conflicting types), so an opt-in ``schemaEvolution`` read
        groups data files by their individual schema, reads each epoch with
        one scan, promotes conflicting column types (integral pairs -> long,
        any-float numeric pairs -> double, numeric/string -> string —
        per-row casts reproduce Druid's per-segment aggregator reads:
        cast('10.1' as long) = 10 = (long) 10.1 — single/multi-value string
        -> array<string>, anything else -> string), and unions the epochs
        by name with missing columns null.  Scale shape: one scan per schema
        EPOCH (a handful in real evolution histories), not per file."""
        from pyspark.sql import types as T
        files: list[str] = []
        for root, _dirs, fns in os.walk(spec.path):
            for fn in fns:
                if not fn.startswith(("_", ".")) and not fn.endswith(".crc"):
                    files.append(os.path.join(root, fn))
        opts = {k: v for k, v in spec.options.items()
                if k != "schemaEvolution"}

        def read(paths):
            reader = self.spark.read.format(spec.fmt)
            for k, v in opts.items():
                reader = reader.option(k, v)
            # basePath keeps directory-partition columns (__bucket) intact
            # when loading leaf files directly
            return reader.option("basePath", spec.path).load(paths)

        # group files by schema epoch.  The sniff must stay cheap at scale
        # (thousands of segment files): parquet footers read via pyarrow in
        # ~1 ms each, no JVM roundtrip; only ONE Spark reader resolution is
        # paid per epoch (a handful in real evolution histories).  Non-
        # parquet formats fall back to per-file Spark resolution.
        groups: dict[str, list[str]] = {}
        resolved: dict[str, T.StructType] = {}
        if spec.fmt == "parquet":
            import pyarrow.parquet as pq
            for p in sorted(files):
                key = pq.read_schema(p).to_string()
                groups.setdefault(key, []).append(p)
        else:
            for p in sorted(files):
                sch = read(p).schema
                key = sch.json()
                groups.setdefault(key, []).append(p)
                resolved[key] = sch
        if len(groups) <= 1:
            reader = self.spark.read.format(spec.fmt)
            for k, v in opts.items():
                reader = reader.option(k, v)
            return reader.load(spec.path)
        schemas: dict[str, T.StructType] = {
            key: resolved.get(key) or read(paths[0]).schema
            for key, paths in groups.items()}
        target: dict[str, T.DataType] = {}
        order: list[str] = []
        for sch in schemas.values():
            for fld in sch.fields:
                if fld.name not in target:
                    target[fld.name] = fld.dataType
                    order.append(fld.name)
                else:
                    target[fld.name] = _promote(target[fld.name],
                                                fld.dataType)
        out = None
        for key, paths in groups.items():
            df = read(paths)
            src = {fld.name: fld.dataType for fld in schemas[key].fields}
            cols = [_evolve_cast(F.col(n), src[n], target[n]).alias(n)
                    for n in order if n in src]
            df = df.select(*cols)
            out = df if out is None else out.unionByName(
                df, allowMissingColumns=True)
        return out

    @staticmethod
    def _path_token(path: str):
        """Cheap staleness token for a local source path: a resolved
        DataFrame pins its file listing, so a rewrite of the same path must
        invalidate the cache.  Spark refreshes the top-level ``_SUCCESS``
        marker on every write job (including dynamic partition overwrite,
        whose leaf-dir changes leave the root mtime alone), and appends/
        deletes touch the root mtime; non-local URIs skip caching."""
        try:
            st = os.stat(path)
        except OSError:
            return None  # remote URI or vanished path — never cache
        try:
            success = os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns
        except OSError:
            success = None
        # one-level child scan: an external writer (no _SUCCESS refresh)
        # dropping files into an EXISTING partition dir bumps that dir's
        # mtime but neither the root's nor _SUCCESS — fold immediate
        # children (count + max mtime) in so such writes invalidate too.
        # O(#partition dirs), not a recursive walk.
        n_children, child_mtime = 0, 0
        try:
            with os.scandir(path) as it:
                for e in it:
                    n_children += 1
                    try:
                        m = e.stat().st_mtime_ns
                    except OSError:
                        continue
                    child_mtime = max(child_mtime, m)
        except OSError:
            pass
        return (st.st_mtime_ns, success, n_children, child_mtime)

    def schema(self, name: str):
        """Cached schema of a datasource — metadata-only callers (SQL
        rewriters scanning for MVD columns) must not pay a reader-resolution
        JVM roundtrip per query.  Invalidated on (re-)register."""
        s = self._schema_cache.get(name)
        if s is None:
            s = self._schema_cache[name] = self.table(name).schema
        return s

    def __contains__(self, name: str) -> bool:
        return name in self._specs

    def names(self) -> list[str]:
        return sorted(self._specs)

    # -- lookups (Druid key/value lookup containers) -----------------------
    # reference: query/LookupDataSource.java + query/expression/LookupExprMacro.java
    def register_lookup(self, name: str, mapping: dict[str, str]) -> None:
        self._lookups[name] = dict(mapping)

    def lookup_map(self, name: str) -> dict[str, str]:
        if name not in self._lookups:
            # URI-registered small lookups land in the functions registry
            # only; a lookup datasource must still reach them
            from incubator_druid_spark.functions import lookups as _fl
            if name in _fl._LOOKUPS:
                return _fl._LOOKUPS[name]
            raise KeyError(f"unknown lookup: {name!r}")
        return self._lookups[name]

    def lookup_df(self, name: str) -> DataFrame:
        if name not in self._lookups:
            # DataFrame-backed (URI) lookups live in the functions registry
            # only — the map never lands on the driver
            from incubator_druid_spark.functions.lookups import (
                _lookup_frame, is_df_lookup)
            if is_df_lookup(name):
                return _lookup_frame(self.spark, name)
        m = self.lookup_map(name)
        return local_frame(self.spark, list(m.items()), "k string, v string")


def _promote(a, b):
    """Common supertype for a column that changed type across segments.
    Integral pairs widen to long, any float/double involvement widens to
    double, numeric<->string falls back to STRING (the faithful carrier:
    per-row casts then reproduce Druid's per-segment typed reads), a
    single-value string beside a multi-value one becomes array<string>,
    and anything else (e.g. a COMPLEX binary beside a string) degrades to
    string — such columns are only scanned when a query actually selects
    them, and Catalyst prunes them otherwise."""
    from pyspark.sql import types as T
    if a == b:
        return a
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    numeric = integral + (T.FloatType, T.DoubleType, T.DecimalType)
    if isinstance(a, integral) and isinstance(b, integral):
        return T.LongType()
    if isinstance(a, numeric) and isinstance(b, numeric):
        return T.DoubleType()
    ts = (T.TimestampType,)
    if (isinstance(a, ts) and isinstance(b, integral)) or \
            (isinstance(b, ts) and isinstance(a, integral)):
        # the engine convention for numeric time columns is epoch MILLIS
        # (catalog time_column handling, fnum()'s unix_millis) —
        # _evolve_cast converts via timestamp_millis, never Spark's
        # seconds-interpreting long→timestamp cast
        return T.TimestampType()
    if (isinstance(a, ts) and isinstance(b, T.StringType)) or \
            (isinstance(b, ts) and isinstance(a, T.StringType)):
        return T.TimestampType()
    if isinstance(a, T.ArrayType) or isinstance(b, T.ArrayType):
        ea = a.elementType if isinstance(a, T.ArrayType) else a
        eb = b.elementType if isinstance(b, T.ArrayType) else b
        return T.ArrayType(_promote(ea, eb))
    return T.StringType()


def _evolve_cast(col: "F.Column", src, dst) -> "F.Column":
    from pyspark.sql import types as T
    if src == dst:
        return col
    if isinstance(dst, T.ArrayType) and not isinstance(src, T.ArrayType):
        # single-value segment of a column that is multi-value elsewhere:
        # a scalar row becomes a one-element array, null stays null
        return F.when(col.isNull(), F.lit(None).cast(dst)).otherwise(
            F.array(_lcast(col, dst.elementType.simpleString())))
    if isinstance(dst, T.TimestampType) and isinstance(
            src, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        # integral epochs are MILLIS by engine convention; a plain cast
        # would read them as seconds
        return F.timestamp_millis(col.cast("long"))
    return _lcast(col, dst.simpleString())


def load_catalog(spark: SparkSession, sf_dir: str) -> Catalog:
    return Catalog(spark).register_dir(sf_dir)
