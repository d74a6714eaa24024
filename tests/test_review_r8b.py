"""Round-8b — explicit-timezone TIME_* forms are SESSION-independent.

Round 8 moved sqlTimeZone execution onto per-(host, tz) session clones,
which made the old from_utc_timestamp wall-trick wrong for EXPLICIT tz
arguments (it assumed a UTC execution session; under an LA-pinned clone
an explicit 'Asia/Kolkata' argument would compound with the planner
zone).  Contract pinned here: an explicit tz argument OVERRIDES the
planner zone (TimeFloorOperatorConversion et al. pass the literal zone
to the native expression), so the same query must return identical
values under sqlTimeZone UTC and sqlTimeZone America/Los_Angeles.

Also: a representative oracle-board slice must return identical results
on the engine session and on hostile host sessions (ANSI-on + LA zone /
caseSensitive) — the pytest twin of scripts/check_correctness.py
--hostile, so a regression fails CI instead of only the manual matrix.
"""

from __future__ import annotations

import pytest

from incubator_druid_spark.sql.functions import druid_sql

LA = "America/Los_Angeles"

# each query must be tz-deterministic: explicit zone or zone-free math
EXPLICIT_TZ_QUERIES = [
    # (name, sql) — all reference the same instant 2004-11-05T10:00Z
    ("floor_kolkata",
     "SELECT TIME_FLOOR(TIME_PARSE('2004-11-05T10:00:00', NULL, 'UTC'), "
     "'P1D', NULL, 'Asia/Kolkata') AS t"),
    ("ceil_kolkata",
     "SELECT TIME_CEIL(TIME_PARSE('2004-11-05T10:00:00', NULL, 'UTC'), "
     "'P1D', NULL, 'Asia/Kolkata') AS t"),
    ("floor_week_la",
     "SELECT TIME_FLOOR(TIME_PARSE('2004-11-05T10:00:00', NULL, 'UTC'), "
     "'P1W', NULL, 'America/Los_Angeles') AS t"),
    ("shift_month_kolkata",
     "SELECT TIME_SHIFT(TIME_PARSE('2004-01-31T10:00:00', NULL, 'UTC'), "
     "'P1M', 1, 'Asia/Kolkata') AS t"),
    ("extract_hour_kolkata",
     "SELECT TIME_EXTRACT(TIME_PARSE('2004-11-05T10:00:00', NULL, 'UTC'), "
     "'HOUR', 'Asia/Kolkata') AS h"),
    ("format_kolkata",
     "SELECT TIME_FORMAT(TIME_PARSE('2004-11-05T10:00:00', NULL, 'UTC'), "
     "'yyyy-MM-dd HH:mm', 'Asia/Kolkata') AS s"),
    ("parse_kolkata",
     "SELECT TIMESTAMP_TO_MILLIS(TIME_PARSE('2004-11-05T10:00:00', NULL, "
     "'Asia/Kolkata')) AS ms"),
    ("floor_origin_fixed_tz",
     "SELECT TIME_FLOOR(TIME_PARSE('2004-11-05T10:17:00', NULL, 'UTC'), "
     "'PT15M', TIME_PARSE('2004-11-05T00:05:00', NULL, 'UTC'), "
     "'Asia/Kolkata') AS t"),
]


@pytest.mark.parametrize("name,sql",
                         EXPLICIT_TZ_QUERIES,
                         ids=[n for n, _ in EXPLICIT_TZ_QUERIES])
def test_explicit_tz_overrides_planner_zone(spark, name, sql):
    """Identical values whether the planner zone is UTC or LA: the
    explicit zone argument must not compound with the session zone."""
    utc_rows = druid_sql(spark, sql).collect()
    la_rows = druid_sql(spark, sql, tz=LA).collect()
    assert [tuple(r) for r in utc_rows] == [tuple(r) for r in la_rows], name


def test_explicit_tz_known_values(spark):
    """Anchor the override semantics to absolute instants: 2004-11-05
    10:00Z is 15:30 IST — its IST day starts 2004-11-04T18:30Z."""
    ms = druid_sql(
        spark,
        "SELECT TIMESTAMP_TO_MILLIS(TIME_FLOOR(TIME_PARSE("
        "'2004-11-05T10:00:00', NULL, 'UTC'), 'P1D', NULL, "
        "'Asia/Kolkata')) AS ms", tz=LA).collect()[0]["ms"]
    assert ms == 1099593000000  # 2004-11-04T18:30:00Z
    h = druid_sql(
        spark,
        "SELECT TIME_EXTRACT(TIME_PARSE('2004-11-05T10:00:00', NULL, "
        "'UTC'), 'HOUR', 'Asia/Kolkata') AS h", tz=LA).collect()[0]["h"]
    assert h == 15  # 15:30 IST


def test_two_arg_forms_follow_planner_zone(spark):
    """No explicit zone → the PLANNER zone applies (the other half of
    the contract): day-floor of 10:00Z is 02:00 LA's day start
    2004-11-05T08:00Z under sqlTimeZone LA, midnight Z under UTC."""
    sql = ("SELECT TIMESTAMP_TO_MILLIS(TIME_FLOOR(TIME_PARSE("
           "'2004-11-05T10:00:00', NULL, 'UTC'), 'P1D')) AS ms")
    utc_ms = druid_sql(spark, sql).collect()[0]["ms"]
    la_ms = druid_sql(spark, sql, tz=LA).collect()[0]["ms"]
    assert utc_ms == 1099612800000  # 2004-11-05T00:00Z
    assert la_ms == 1099641600000   # 2004-11-05T08:00Z (LA midnight)


# ---------------------------------------------------------------------------
# hostile-host slice: engine results == hostile-session results
# ---------------------------------------------------------------------------

BOARD_SLICE = ["ts_day", "gb_event_type", "topn_event_type",
               "scan_offset", "search_types", "time_boundary",
               "sql_floor_to_day", "gb_quantile", "bloom_filtered_count",
               "tpch_q1", "sessionize_stats", "text_top_terms"]


@pytest.fixture(scope="module")
def hostile_la(spark):
    host = spark.newSession()
    host.conf.set("spark.sql.ansi.enabled", "true")
    host.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    return host


@pytest.fixture(scope="module")
def hostile_case(spark):
    host = spark.newSession()
    host.conf.set("spark.sql.ansi.enabled", "true")
    host.conf.set("spark.sql.caseSensitive", "true")
    host.conf.set("spark.sql.session.timeZone", "UTC")
    return host


def _norm(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append(round(v, 9))
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


@pytest.mark.parametrize("name", BOARD_SLICE)
def test_board_slice_la_host(spark, hostile_la, name):
    """Oracle-board slice: identical results on the engine session and
    on an ANSI + America/Los_Angeles host session (pytest twin of
    check_correctness.py --hostile's tz mode)."""
    import __spark_entry__ as entry
    sf = "/root/testdata/sf0.001"
    fn = entry.queries()[name]
    base = _norm(fn(spark, sf).collect())
    hostile = _norm(fn(hostile_la, sf).collect())
    assert hostile == base, name


@pytest.mark.parametrize("name", BOARD_SLICE[:6])
def test_board_slice_case_sensitive_host(spark, hostile_case, name):
    import __spark_entry__ as entry
    sf = "/root/testdata/sf0.001"
    fn = entry.queries()[name]
    base = _norm(fn(spark, sf).collect())
    hostile = _norm(fn(hostile_case, sf).collect())
    assert hostile == base, name


def test_for_session_view_sees_reregistered_datasource(spark):
    """Round-8 self-review: Catalog.for_session is memoized per target
    session, so a RE-registered datasource (new path/schema) must
    reach the memoized views' resolved frames and schemas too."""
    import tempfile

    from incubator_druid_spark.catalog import Catalog
    d1 = tempfile.mkdtemp(prefix="cat_v1_")
    d2 = tempfile.mkdtemp(prefix="cat_v2_")
    spark.createDataFrame([(1, "a")], "id long, s string") \
        .write.mode("overwrite").parquet(d1)
    spark.createDataFrame([(2, "b"), (3, "c")], "id long, s string") \
        .write.mode("overwrite").parquet(d2)
    cat = Catalog(spark)
    cat.register("rv8", d1)
    clone = spark.newSession()
    view = cat.for_session(clone)
    assert view is cat.for_session(clone)  # memoized
    assert view.table("rv8").count() == 1
    _ = view.schema("rv8")
    cat.register("rv8", d2)  # re-register on the PARENT
    assert view.table("rv8").count() == 2
