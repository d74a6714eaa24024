"""Regression tests for the second round-6 self-review batch:

1. TIME_FLOOR/TIME_CEIL/TIME_SHIFT with fixed periods follow the PLANNER
   timezone (TimeFloorOperatorConversion.java defaults the zone operand to
   plannerContext.getTimeZone(); PeriodGranularity truncates via the
   zone's chronology) — P1D floors to LOCAL midnight, TIME_SHIFT of
   calendar days is DST-aware.
2. Interval filter + timeFormat extractionFn on __time feeds the fn the
   TIMESTAMP (the same exemption leaf filters apply), then parses the
   output as epoch millis.
3. ARRAY_CONTAINS/ARRAY_OVERLAP non-literal dispatch consults only the
   REFERENCED tables' schemas (a same-named array column in an unrelated
   table must not hijack a scalar column).
4. groupBy resource-limit guards don't single-partition the result (no
   global Window row_number in the plan) and count INTERMEDIATE groups
   (pre-having), matching the grouper raising while building groups.
5. A timezone-naive sqlCurrentTimestamp is a UTC instant (DateTimes.of),
   rendered in the sql timezone.
6. numeric-ordering bound comparisons are BigDecimal-exact beyond 2^53
   (StringComparators.NUMERIC uses convertStringToBigDecimal).
7. The segment timeline is memoized per frame and file list (no per-query
   re-read of immutable parquet footers, no per-query timeline job).
"""

import datetime

import pytest

from pyspark.sql import functions as F

from incubator_druid_spark import translate


def _sql(spark, cat, sql, ctx=None):
    from incubator_druid_spark.api import sql_query
    out = sql_query({"query": sql, "resultFormat": "array",
                     "context": ctx or {}}, spark, cat)
    return [tuple(r) for r in out]


LA = {"sqlTimeZone": "America/Los_Angeles"}


# -- 1. fixed-period time functions in the planner timezone ----------------

def test_time_floor_p1d_local_midnight(spark, full_catalog):
    # 10:00 LA wall clock floors to LA midnight, rendered in LA
    rows = _sql(spark, full_catalog,
                "SELECT CAST(TIME_FLOOR(TIMESTAMP '2024-01-15 10:00:00', "
                "'P1D') AS VARCHAR) AS s", LA)
    assert rows[0][0].startswith("2024-01-15 00:00:00")


def test_time_floor_p1w_local_monday(spark, full_catalog):
    rows = _sql(spark, full_catalog,
                "SELECT CAST(TIME_FLOOR(TIMESTAMP '2024-01-18 10:00:00', "
                "'P1W') AS VARCHAR) AS s", LA)  # Thursday → Monday 01-15
    assert rows[0][0].startswith("2024-01-15 00:00:00")


def test_time_shift_p1d_dst_aware(spark, full_catalog):
    # 2024-03-10 is the LA spring-forward: +P1D from 03-09 12:00 LA lands
    # on 03-10 12:00 LA (23 real hours), not 13:00
    rows = _sql(spark, full_catalog,
                "SELECT CAST(TIME_SHIFT(TIMESTAMP '2024-03-09 12:00:00', "
                "'P1D', 1) AS VARCHAR) AS s", LA)
    assert rows[0][0].startswith("2024-03-10 12:00:00")


def test_time_floor_pt6h_local_buckets(spark, full_catalog):
    rows = _sql(spark, full_catalog,
                "SELECT CAST(TIME_FLOOR(TIMESTAMP '2024-01-15 10:30:00', "
                "'PT6H') AS VARCHAR) AS s", LA)
    assert rows[0][0].startswith("2024-01-15 06:00:00")


def test_time_ceil_p1d_local(spark, full_catalog):
    rows = _sql(spark, full_catalog,
                "SELECT CAST(TIME_CEIL(TIMESTAMP '2024-01-15 10:00:00', "
                "'P1D') AS VARCHAR) AS s", LA)
    assert rows[0][0].startswith("2024-01-16 00:00:00")
    # exact boundary stays put
    rows = _sql(spark, full_catalog,
                "SELECT CAST(TIME_CEIL(TIMESTAMP '2024-01-15 00:00:00', "
                "'P1D') AS VARCHAR) AS s", LA)
    assert rows[0][0].startswith("2024-01-15 00:00:00")


def test_time_floor_utc_unchanged(spark, full_catalog):
    rows = _sql(spark, full_catalog,
                "SELECT CAST(TIME_FLOOR(TIMESTAMP '2024-01-15 10:00:00', "
                "'P1D') AS VARCHAR) AS s")
    assert rows[0][0].startswith("2024-01-15 00:00:00")


# -- 2. interval filter + timeFormat extractionFn ---------------------------

def test_interval_filter_with_timeformat_extraction(spark, catalog):
    # TimeFilteringTest.testIntervalFilterWithExtractionFn shape: the fn
    # renders __time as yyyyMMdd (a parseable long), the filter then treats
    # that long as epoch millis — only values inside [20240101, 20240102)
    # "millis" match, i.e. days rendered 20240101
    q = {"queryType": "timeseries", "dataSource": "events",
         "granularity": "all",
         "intervals": ["2024-01-01T00:00:00Z/2024-02-01T00:00:00Z"],
         "filter": {"type": "interval", "dimension": "__time",
                    "extractionFn": {"type": "timeFormat",
                                     "format": "yyyyMMdd"},
                    "intervals": [
                        "1970-01-01T05:36:40.101Z/1970-01-01T05:36:40.102Z"
                    ]},
         "aggregations": [{"type": "count", "name": "rows"}]}
    # 20240101101..20240101102 ms — nothing renders there; instead pin the
    # window to the exact rendered value 20240101 (ms 20240101..20240102)
    q["filter"]["intervals"] = [
        "1970-01-01T05:37:20.101Z/1970-01-01T05:37:20.102Z"]
    ivs = q["filter"]["intervals"]
    # compute the true window for rendered long 20240101
    lo = datetime.datetime.fromtimestamp(20240101 / 1000.0,
                                         datetime.timezone.utc)
    hi = datetime.datetime.fromtimestamp(20240102 / 1000.0,
                                         datetime.timezone.utc)
    fmt = "%Y-%m-%dT%H:%M:%S.%f"
    ivs[0] = lo.strftime(fmt)[:-3] + "Z/" + hi.strftime(fmt)[:-3] + "Z"
    out = translate(q, spark, catalog).collect()
    # equals the count of events on 2024-01-01
    expected = translate(
        {"queryType": "timeseries", "dataSource": "events",
         "granularity": "all",
         "intervals": ["2024-01-01T00:00:00Z/2024-01-02T00:00:00Z"],
         "aggregations": [{"type": "count", "name": "rows"}]},
        spark, catalog).collect()
    assert out[0]["rows"] == expected[0]["rows"] > 0


# -- 3. array dispatch scoped to referenced tables --------------------------

def test_array_contains_not_hijacked_by_unreferenced_table(spark, tmp_path):
    from incubator_druid_spark.catalog import Catalog
    from incubator_druid_spark.sql.functions import druid_sql
    a = spark.createDataFrame(
        [(["x", "y"], "x")], "arr array<string>, dim2 string")
    b = spark.createDataFrame([(["q"],)], "dim2 array<string>")
    a.write.mode("overwrite").parquet(str(tmp_path / "ta"))
    b.write.mode("overwrite").parquet(str(tmp_path / "tb"))
    cat = Catalog(spark)
    cat.register("ta", str(tmp_path / "ta"))
    cat.register("tb", str(tmp_path / "tb"))
    # dim2 is SCALAR in ta; tb (unreferenced) has an array dim2 — the
    # rewrite must dispatch by ta's schema
    rows = druid_sql(spark,
                     "SELECT COUNT(*) AS n FROM ta "
                     "WHERE ARRAY_CONTAINS(arr, dim2)", cat).collect()
    assert rows[0]["n"] == 1


# -- 4. resource guards: distributed shape, pre-having count ----------------

def test_resource_guard_no_global_window(spark, catalog):
    q = {"queryType": "groupBy", "dataSource": "events",
         "granularity": "all", "dimensions": ["event_type"],
         "intervals": ["2024-01-01T00:00:00Z/2025-01-01T00:00:00Z"],
         "aggregations": [{"type": "count", "name": "rows"}],
         "context": {"maxResults": 100000}}
    df = translate(q, spark, catalog)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan.lower()
    assert df.count() > 0  # under the cap: passes


def test_resource_guard_counts_intermediate_groups(spark, catalog):
    # 5 event_type groups, having prunes to 0 — Druid still raises because
    # the grouper exceeded maxResults while building the 5 groups
    q = {"queryType": "groupBy", "dataSource": "events",
         "granularity": "all", "dimensions": ["event_type"],
         "intervals": ["2024-01-01T00:00:00Z/2025-01-01T00:00:00Z"],
         "aggregations": [{"type": "count", "name": "rows"}],
         "having": {"type": "greaterThan", "aggregation": "rows",
                    "value": 10**15},
         "context": {"maxResults": 2}}
    with pytest.raises(Exception, match="Resource limit exceeded"):
        translate(q, spark, catalog).collect()


# -- 5. naive sqlCurrentTimestamp is a UTC instant ---------------------------

def test_naive_pinned_now_is_utc_instant(spark, full_catalog):
    rows = _sql(spark, full_catalog,
                "SELECT CAST(CURRENT_TIMESTAMP AS VARCHAR) AS s",
                {"sqlCurrentTimestamp": "2000-01-01T00:00:00", **LA})
    assert rows[0][0].startswith("1999-12-31 16:00:00")


# -- 6. numeric ordering exact beyond 2^53 ----------------------------------

def test_numeric_bound_exact_beyond_double_precision(spark):
    from incubator_druid_spark.filters.filters import compile_filter
    from incubator_druid_spark.filters.filters import FilterContext
    df = spark.createDataFrame(
        [("9007199254740993",), ("9007199254740995",)], "v string")
    ctx = FilterContext(df)
    # both values collapse to the same double; BigDecimal says 995 > 993
    pred = compile_filter({"type": "bound", "dimension": "v",
                           "lower": "9007199254740993",
                           "lowerStrict": True,
                           "ordering": "numeric"}, ctx)
    got = sorted(r["v"] for r in df.filter(pred).collect())
    assert got == ["9007199254740995"]


# -- 7. segment timeline memoized -------------------------------------------

def test_footer_extent_memoized(spark, tmp_path):
    from incubator_druid_spark import timeline as tl_mod
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1), 1)], "__time timestamp, v long")
    p = str(tmp_path / "seg")
    df.write.mode("overwrite").parquet(p)
    src = spark.read.parquet(p)
    ivs = [(1704067200000, 1704153600000)]
    tl_mod._TIMELINES.clear()
    first = tl_mod.timeline(src, ivs)
    assert first.extent == (1704067200000, 1704067200000)
    assert len(tl_mod._TIMELINES) == 1
    key = next(iter(tl_mod._TIMELINES))
    # poison the cached value: a second call must serve it (no recompute)
    poisoned = tl_mod.Timeline((), (123, 456))
    tl_mod._TIMELINES[key] = poisoned
    assert tl_mod.timeline(src, ivs) is poisoned
    # a second read of the same files is the same frame: the memo holds
    assert tl_mod.timeline(spark.read.parquet(p), ivs) is poisoned


# -- catalog staleness: external write into an existing partition dir -------

def test_path_token_sees_nested_partition_writes(spark, tmp_path):
    import shutil

    from incubator_druid_spark.catalog import Catalog
    base = tmp_path / "pt"
    sub = base / "__bucket=2024-01-01T00"
    sub.mkdir(parents=True)
    df = spark.createDataFrame([(1,)], "v long")
    df.write.mode("overwrite").parquet(str(tmp_path / "onefile"))
    part = next((tmp_path / "onefile").glob("part-*.parquet"))
    shutil.copy(part, sub / "a.parquet")
    t1 = Catalog._path_token(str(base))
    import time
    time.sleep(0.02)
    shutil.copy(part, sub / "b.parquet")  # root mtime unchanged
    t2 = Catalog._path_token(str(base))
    assert t1 != t2


def test_time_floor_explicit_tz_with_session_tz(spark, full_catalog):
    # explicit zone argument composes with sqlTimeZone: the literal is LA
    # wall clock (18:00Z), floored to TOKYO midnight (Jan-16 00:00 +09 =
    # Jan-15 15:00Z), rendered back in LA (07:00) — the fixed-period
    # arithmetic must not double-apply either zone
    rows = _sql(spark, full_catalog,
                "SELECT CAST(TIME_FLOOR(TIMESTAMP '2024-01-15 10:00:00', "
                "'P1D', NULL, 'Asia/Tokyo') AS VARCHAR) AS s", LA)
    assert rows[0][0].startswith("2024-01-15 07:00:00")
    # and a fixed-period TIME_SHIFT with an explicit zone stays millis-add
    rows = _sql(spark, full_catalog,
                "SELECT CAST(TIME_SHIFT(TIMESTAMP '2024-01-15 10:00:00', "
                "'PT1H', 2, 'Asia/Tokyo') AS VARCHAR) AS s", LA)
    assert rows[0][0].startswith("2024-01-15 12:00:00")


# -- pass-3 findings ---------------------------------------------------------

def test_round_long_exact_beyond_2_53(spark, catalog):
    # RoundFunction returns the input's own type; a long must not pass
    # through the double NaN/Inf guard (2^53+1 would come back off by one
    # and typed double)
    q = {"queryType": "scan", "dataSource": "events", "intervals": [],
         "virtualColumns": [{"type": "expression", "name": "r",
                             "expression": "round(user_id * 0 + "
                                           "9007199254740993)",
                             "outputType": "LONG"},
                            {"type": "expression", "name": "r2",
                             "expression": "round(user_id)",
                             "outputType": "LONG"}],
         "columns": ["user_id", "r", "r2"], "limit": 1}
    df = translate(q, spark, catalog)
    row = df.collect()[0]
    assert row["r"] == 9007199254740993
    assert row["r2"] == row["user_id"]
    assert dict(df.dtypes)["r2"] == "bigint"


def test_timestamp_parse_explicit_offset_not_reshifted(spark, catalog):
    q = {"queryType": "scan", "dataSource": "events", "intervals": [],
         "virtualColumns": [
             {"type": "expression", "name": "t1",
              "expression": "timestamp_parse('2000-01-01T00:00:00Z', null, "
                            "'America/Los_Angeles')"},
             {"type": "expression", "name": "t2",
              "expression": "timestamp_parse('2000-01-01 00:00:00', null, "
                            "'America/Los_Angeles')"}],
         "columns": ["t1", "t2"], "limit": 1}
    row = translate(q, spark, catalog).collect()[0]
    # explicit Z pins the instant: 2000-01-01T00:00Z
    assert row["t1"].strftime("%Y-%m-%d %H:%M") == "2000-01-01 00:00"
    # zone-less wall clock localizes to LA: 2000-01-01T08:00Z
    assert row["t2"].strftime("%Y-%m-%d %H:%M") == "2000-01-01 08:00"


def test_strpos_negative_from_index_clamps(spark, catalog):
    q = {"queryType": "scan", "dataSource": "events", "intervals": [],
         "virtualColumns": [
             {"type": "expression", "name": "a",
              "expression": "strpos('abc', 'a', -1)"},
             {"type": "expression", "name": "b",
              "expression": "strpos('abc', 'c', -2)"}],
         "columns": ["a", "b"], "limit": 1}
    row = translate(q, spark, catalog).collect()[0]
    assert (row["a"], row["b"]) == (0, 2)  # Java indexOf clamps to 0


def test_require_time_condition_join_branch_not_leaked(spark, catalog):
    from incubator_druid_spark.api import sql_query
    ctx = {"requireTimeCondition": True}
    # a time filter on ONE join input must not excuse a full scan of the
    # other
    with pytest.raises(ValueError, match="requireTimeCondition"):
        sql_query({"query": """
            SELECT count(*) AS n FROM events e JOIN events o
              ON e.user_id = o.user_id
            WHERE e.__time >= TIMESTAMP '2024-01-01'""",
                   "resultFormat": "array", "context": ctx}, spark, catalog)
    # ...and a literal containing '__time' is not a time condition
    with pytest.raises(ValueError, match="requireTimeCondition"):
        sql_query({"query": "SELECT count(*) AS n FROM events "
                            "WHERE event_type <> '__time'",
                   "resultFormat": "array", "context": ctx}, spark, catalog)
    # both inputs filtered: passes
    out = sql_query({"query": """
        SELECT count(*) AS n FROM events e JOIN events o
          ON e.user_id = o.user_id
        WHERE e.__time >= TIMESTAMP '2024-01-01'
          AND o.__time >= TIMESTAMP '2024-01-01'""",
                     "resultFormat": "array", "context": ctx},
                    spark, catalog)
    assert out[0][0] > 0
