"""Lookup registry — Druid's key→value lookup containers.

Reference: lookups are broker/historical-resident maps queried via the
``lookup(expr, name)`` expression macro (query/expression/LookupExprMacro.java),
the ``registeredLookup`` extraction fn (query/lookup/RegisteredLookupExtractionFn.java)
and the ``lookup`` datasource (query/LookupDataSource.java).

Spark-first, two regimes by size (the reference ships
extensions-core/lookups-cached-global/ precisely because production lookups
reach 10^5-10^7 keys — LookupExtractor.java is a node-resident map):

- **small** (≤ LOOKUP_JOIN_THRESHOLD keys): compile ``lookup(col, name)``
  into a literal ``map[...]`` (a `CreateMap` of literals) — Catalyst ships
  it in the serialized plan once per stage, evaluated JVM-side in codegen.
- **large**: a literal map would explode the serialized plan + codegen and
  probe O(n) per row.  Instead the compile DEFERS: it returns a reference
  to a not-yet-existing ``__lkpN`` column and records a pending broadcast
  left-join; the plan layer calls :func:`flush_lookup_joins` at every
  DataFrame mutation point, which joins the (cached, broadcast) lookup
  DataFrame on the key expression — a BroadcastHashJoin with O(1) hashed
  probes and O(1) plan size, the same physical strategy the lookup
  DATASOURCE path already uses (plans/datasource.py).
"""

from __future__ import annotations

import itertools
import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_LOOKUPS: dict[str, dict[str, str]] = {}

#: above this many keys, lookup application compiles to a broadcast
#: left-join instead of a literal CreateMap
LOOKUP_JOIN_THRESHOLD = 10000

# pending deferred joins, scoped per THREAD so concurrent translate() calls
# can't cross-contaminate (one thread's clear/flush must not touch another
# compile's pending joins): out_col -> (lookup_name, key Column); insertion
# order preserved so joins apply in compile order
_TLS = threading.local()


def _pending() -> dict[str, tuple[str, Column]]:
    d = getattr(_TLS, "pending", None)
    if d is None:
        d = _TLS.pending = {}
    return d


_SEQ = itertools.count()
# lookup-name -> cached (k, v) DataFrame (localCheckpoint'd so the 1M-row
# driver-side upload happens once per process, not once per query)
_LOOKUP_DFS: dict[str, DataFrame] = {}


_VERSION = 0


def lookup_version() -> int:
    """Bumped on every register_lookup — lets per-session caches (the SQL
    LOOKUP temp function) skip re-registration when nothing changed."""
    return _VERSION


#: lookups too large to hold as a driver dict — backed directly by a
#: cached (k, v) DataFrame; always served through the join regime
_DF_LOOKUPS: dict[str, DataFrame] = {}


def register_lookup(name: str, mapping: dict[str, str]) -> None:
    global _VERSION
    _LOOKUPS[name] = dict(mapping)
    _LOOKUP_DFS.pop(name, None)
    _DF_LOOKUPS.pop(name, None)
    _VERSION += 1


def register_lookup_df(name: str, df: DataFrame) -> None:
    """Register a DataFrame-backed lookup: (k, v) string columns, served
    exclusively through the broadcast-join regime — the map never lands on
    the driver.  The scale path for lookups-cached-global-sized maps."""
    global _VERSION
    kv = (df.select(F.col("k").cast("string").alias("k"),
                    F.col("v").cast("string").alias("v"))
            .filter(F.col("k").isNotNull())
            .dropDuplicates(["k"])
            .localCheckpoint(eager=False))
    _LOOKUPS.pop(name, None)
    _LOOKUP_DFS.pop(name, None)
    _DF_LOOKUPS[name] = kv
    _VERSION += 1


def register_lookup_uri(spark, name: str, uri: str, fmt: str = "csv",
                        key_column: str | None = None,
                        value_column: str | None = None,
                        columns: list[str] | None = None,
                        delimiter: str | None = None,
                        collect_threshold: int | None = None) -> int:
    """The lookups-cached-global URI namespace
    (extensions-core/lookups-cached-global/.../UriExtractionNamespace.java):
    load a key→value map from a file/directory URI.

    - ``csv`` / ``tsv``: ``columns`` names header-less files (Druid's
      namespaceParseSpec.columns); otherwise the first row is the header.
      keyColumn/valueColumn default to the first two columns.
    - ``simpleJson``: one ``{"key": "value"}`` object per line.
    - ``customJson``: JSON lines with keyFieldName/valueFieldName.

    Maps at or under ``collect_threshold`` keys (default: the literal-map
    gate, so small files behave exactly like inline lookups) collect to a
    driver dict; larger ones stay DataFrame-backed (register_lookup_df) and
    are served via broadcast join.  Returns the key count."""
    if fmt in ("csv", "tsv"):
        sep = delimiter or ("\t" if fmt == "tsv" else ",")
        reader = spark.read.option("sep", sep)
        if columns:
            df = reader.schema(" ".join(f"`{c}` STRING," for c in columns)
                               .rstrip(",")).csv(uri)
        else:
            df = reader.option("header", "true").csv(uri)
        cols = df.columns
        if (not key_column or not value_column) and len(cols) < 2:
            raise ValueError(
                f"lookup file {uri!r} parsed to {len(cols)} column(s) "
                f"({cols}); a k/v lookup needs two — check the delimiter, "
                "header, or pass columns=/key_column=/value_column=")
        kc = key_column or cols[0]
        vc = value_column or cols[1]
        kv = df.select(F.col(kc).alias("k"), F.col(vc).alias("v"))
    elif fmt == "simpleJson":
        kv = (spark.read.text(uri)
              .select(F.explode(F.map_entries(
                  F.from_json("value", "map<string,string>"))).alias("p"))
              .select(F.col("p.key").alias("k"), F.col("p.value").alias("v")))
    elif fmt == "customJson":
        if not (key_column and value_column):
            raise ValueError("customJson needs key_column and value_column "
                             "(keyFieldName/valueFieldName)")
        df = spark.read.json(uri)
        kv = df.select(F.col(key_column).cast("string").alias("k"),
                       F.col(value_column).cast("string").alias("v"))
    else:
        raise ValueError(f"unknown lookup URI format {fmt!r} "
                         "(csv, tsv, simpleJson, customJson)")
    # duplicate keys: LAST occurrence wins, matching the file-order map
    # build of UriExtractionNamespace — monotonically_increasing_id is
    # within-partition increasing with partitions in file/split order,
    # so max_by picks the later row deterministically
    kv = (kv.filter(F.col("k").isNotNull())
            .select(F.col("k").cast("string").alias("k"),
                    F.col("v").cast("string").alias("v"),
                    F.monotonically_increasing_id().alias("__ord"))
            .groupBy("k").agg(F.max_by("v", "__ord").alias("v")))
    gate = LOOKUP_JOIN_THRESHOLD if collect_threshold is None \
        else collect_threshold
    # one job decides the regime AND feeds the small path: collect at most
    # gate+1 rows — only when the file exceeds the gate do we pay a second
    # pass (count for the return value; the frame itself stays lazy)
    head = kv.limit(gate + 1).collect()
    if len(head) <= gate:
        register_lookup(name, {r["k"]: r["v"] for r in head})
        return len(head)
    register_lookup_df(name, kv)
    return kv.count()  # DISTINCT key count


def get_lookup(name: str) -> dict[str, str]:
    if name in _DF_LOOKUPS:
        raise ValueError(
            f"lookup {name!r} is DataFrame-backed (too large for a driver "
            "map); it is served via broadcast join — use lookup_frame()")
    if name not in _LOOKUPS:
        raise KeyError(f"unknown lookup {name!r}; registered: "
                       f"{sorted([*_LOOKUPS, *_DF_LOOKUPS])}")
    return _LOOKUPS[name]


def is_df_lookup(name: str) -> bool:
    return name in _DF_LOOKUPS


def lookup_names() -> list[str]:
    return sorted([*_LOOKUPS, *_DF_LOOKUPS])


def lookup_column(name: str, col: Column, replace_missing: str | None = None) -> Column:
    """lookup(col, name) → element_at(map<lit...>, col) below the size gate,
    else a deferred broadcast-join column (see module docstring)."""
    if name in _DF_LOOKUPS:
        out_name = f"__lkp{next(_SEQ)}"
        _pending()[out_name] = (name, col.cast("string"))
        out = F.col(out_name)
        if replace_missing is not None:
            out = F.coalesce(out, F.lit(replace_missing))
        return out
    m = get_lookup(name)
    if not m:
        return F.lit(replace_missing)
    if len(m) > LOOKUP_JOIN_THRESHOLD:
        out_name = f"__lkp{next(_SEQ)}"
        _pending()[out_name] = (name, col.cast("string"))
        out = F.col(out_name)
    else:
        pairs = []
        for k, v in m.items():
            pairs.append(F.lit(k))
            pairs.append(F.lit(v))
        out = F.element_at(F.create_map(*pairs), col.cast("string"))
    if replace_missing is not None:
        out = F.coalesce(out, F.lit(replace_missing))
    return out


def _lookup_frame(spark, name: str) -> DataFrame:
    """The lookup as a cached two-column (k, v) DataFrame."""
    if name in _DF_LOOKUPS:
        return _DF_LOOKUPS[name]
    df = _LOOKUP_DFS.get(name)
    if df is None:
        import pandas as pd
        m = get_lookup(name)
        # Arrow-batched upload; localCheckpoint pins the rows cluster-side so
        # repeated queries don't re-serialize the driver dict
        pdf = pd.DataFrame({"k": list(m.keys()), "v": list(m.values())},
                           dtype=str)
        df = spark.createDataFrame(pdf).localCheckpoint(eager=False)
        _LOOKUP_DFS[name] = df
    return df


def pending_lookup_joins() -> bool:
    return bool(_pending())


def clear_lookup_joins() -> None:
    """Drop leftovers from an abandoned compile (called at translate start)."""
    _pending().clear()


def flush_lookup_joins(df: DataFrame) -> DataFrame:
    """Apply every pending large-lookup join to ``df``.

    Called by the plan layer after compiling columns but BEFORE the frame is
    consumed (filter/groupBy/select), so the deferred ``__lkpN`` references
    resolve.  Each join is a broadcast left join on the key expression; map
    keys are unique, so row multiplicity is preserved."""
    pend = _pending()
    if not pend:
        return df
    items = list(pend.items())
    pend.clear()
    spark = df.sparkSession
    for out_name, (lk_name, key) in items:
        lk = _lookup_frame(spark, lk_name).select(
            F.col("k").alias(f"{out_name}_k"), F.col("v").alias(out_name))
        df = (df.join(F.broadcast(lk), key == F.col(f"{out_name}_k"), "left")
                .drop(f"{out_name}_k"))
    return df
