"""One period arithmetic behind every path that buckets time.

A native granularity, the timestamp_floor/ceil/shift expression macros and
Druid SQL's TIME_FLOOR/TIME_CEIL/TIME_SHIFT (every arity), FLOOR/CEIL … TO
and DATE_TRUNC all render through ``Granularity`` (model/granularity.py), as Druid's
TimeFloorOperatorConversion delegates to PeriodGranularity.  These tests
run the same (period, origin, zone) grid through each path and require
identical millis, including across DST transitions.
"""

import calendar
import datetime as dt
import math
from zoneinfo import ZoneInfo

import pytest
from pyspark.sql import functions as F

from incubator_druid_spark.model.granularity import (parse_granularity,
                                                     parse_period)

LA = "America/Los_Angeles"
KTM = "Asia/Kathmandu"


def ms(iso: str) -> int:
    return int(dt.datetime.fromisoformat(iso).timestamp() * 1000)


def iso(m: int) -> str:
    return dt.datetime.fromtimestamp(m / 1000, dt.timezone.utc) \
        .isoformat().replace("+00:00", "Z")


def _values(instants) -> str:
    return "(VALUES " + ", ".join(f"({m})" for m in instants) + ") AS v(ms)"


def _sql_column(spark, select: str, instants, tz=None) -> list:
    from incubator_druid_spark.sql.functions import druid_sql
    rows = druid_sql(spark, f"SELECT ms, {select} FROM {_values(instants)}"
                            " ORDER BY ms", None, tz).collect()
    return [r.asDict() for r in rows]


# ---------------------------------------------------------------------------
# sqlTimeZone is the default zone of the 2-arg forms, for every period
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("period,expected", [
    ("PT2H", "2024-07-01T07:00:00Z"),
    ("PT3H", "2024-07-01T07:00:00Z"),
    ("P2D", "2024-06-30T07:00:00Z"),
])
def test_two_arg_time_floor_uses_sql_time_zone(spark, period, expected):
    """2-arg TIME_FLOOR floors in the query's sqlTimeZone for non-common
    periods too: it equals the 4-arg form with that zone and the native
    period granularity in that zone (a UTC floor gave 06:00Z and
    2024-06-30T00:00Z here)."""
    t = ms("2024-07-01T07:30:00+00:00")
    got = _sql_column(
        spark,
        f"unix_millis(TIME_FLOOR(timestamp_millis(ms), '{period}')) AS two, "
        f"unix_millis(TIME_FLOOR(timestamp_millis(ms), '{period}', NULL, "
        f"'{LA}')) AS four", [t], LA)[0]
    native = parse_granularity({"type": "period", "period": period,
                                "timeZone": LA})
    nat = spark.createDataFrame([(t,)], "ms long").select(F.unix_millis(
        native.floor(F.timestamp_millis("ms"))).alias("f")).first()["f"]
    assert iso(got["two"]) == iso(got["four"]) == iso(nat) == expected


# ---------------------------------------------------------------------------
# DST fall-back: the repeated 01:00 LA hour is two buckets on every path
# ---------------------------------------------------------------------------

FALL_BACK = [ms("2012-11-04T00:30:00-07:00"), ms("2012-11-04T01:30:00-07:00"),
             ms("2012-11-04T01:30:00-08:00"), ms("2012-11-04T02:30:00-08:00"),
             ms("2012-11-04T03:30:00-08:00")]
FALL_BACK_BUCKETS = [ms("2012-11-04T00:00:00-07:00"),
                     ms("2012-11-04T01:00:00-07:00"),
                     ms("2012-11-04T01:00:00-08:00"),
                     ms("2012-11-04T02:00:00-08:00"),
                     ms("2012-11-04T03:00:00-08:00")]


def test_fall_back_hour_native_timeseries(spark, tmp_path):
    """A native PT1H LA timeseries keeps both 01:00 hours: a row in the
    second one floors to 09:00Z, and zero-fill fills the empty first one
    (08:00Z) from the spine."""
    from incubator_druid_spark import translate
    from incubator_druid_spark.catalog import Catalog
    rows = [FALL_BACK[0], FALL_BACK[2], FALL_BACK[3]]
    path = str(tmp_path / "dst.parquet")
    spark.createDataFrame([(m,) for m in rows], "ms long") \
        .select(F.timestamp_millis("ms").alias("__time")) \
        .coalesce(1).write.parquet(path)
    cat = Catalog(spark)
    cat.register("dst", path)
    q = {"queryType": "timeseries", "dataSource": "dst",
         "granularity": {"type": "period", "period": "PT1H",
                         "timeZone": LA},
         "intervals": ["2012-11-04T07:00:00Z/2012-11-04T11:00:00Z"],
         "aggregations": [{"type": "count", "name": "n"}]}
    got = [(r["__time"], r["n"]) for r in translate(q, spark, cat)
           .select(F.unix_millis("__time").alias("__time"), "n").collect()]
    assert got == [(FALL_BACK_BUCKETS[0], 1), (FALL_BACK_BUCKETS[1], 0),
                   (FALL_BACK_BUCKETS[2], 1), (FALL_BACK_BUCKETS[3], 1)]


def test_fall_back_hour_sql_and_macro(spark):
    """Every SQL form and timestamp_floor give the two 01:00 buckets."""
    from incubator_druid_spark.functions.druid_expr import compile_expr
    la = _sql_column(
        spark,
        "unix_millis(TIME_FLOOR(timestamp_millis(ms), 'PT1H')) AS a, "
        "unix_millis(TIME_FLOOR(timestamp_millis(ms), 'PT1H', NULL)) AS b, "
        "unix_millis(FLOOR(timestamp_millis(ms) TO HOUR)) AS c",
        FALL_BACK, LA)
    utc = _sql_column(
        spark,
        "unix_millis(TIME_FLOOR(timestamp_millis(ms), 'PT1H', NULL, "
        f"'{LA}')) AS d", FALL_BACK)
    macro = spark.createDataFrame([(m,) for m in FALL_BACK], "ms long") \
        .select(F.unix_millis(compile_expr(
            f"timestamp_floor(ms, 'PT1H', null, '{LA}')", F.col,
            integral_cols={"ms"}))
            .alias("e")).collect()
    for col in "abc":
        assert [r[col] for r in la] == FALL_BACK_BUCKETS, col
    assert [r["d"] for r in utc] == FALL_BACK_BUCKETS
    assert [r["e"] for r in macro] == FALL_BACK_BUCKETS


# ---------------------------------------------------------------------------
# the cross-path grid
# ---------------------------------------------------------------------------

INSTANTS = sorted(ms(s) for s in [
    "1969-07-20T20:17:40+00:00", "1969-12-31T23:59:59.999+00:00",
    "2024-01-31T23:30:00+00:00", "2024-02-29T12:00:00+00:00",
    "2024-03-31T23:59:59+00:00",
    # LA spring-forward (2024-03-10 02:00 PST → 03:00 PDT)
    "2024-03-10T09:59:59+00:00", "2024-03-10T10:00:00+00:00",
    "2024-03-10T10:30:00+00:00",
    # LA fall-back (2024-11-03 02:00 PDT → 01:00 PST)
    "2024-11-03T08:30:00+00:00", "2024-11-03T09:00:00+00:00",
    "2024-11-03T09:30:00+00:00",
    "2024-07-01T07:30:00+00:00",
    # local mean time, before the zones' first transitions
    "1850-06-01T12:34:56+00:00",
    # LA's 1948 spring-forward at 02:01, off the hour grid
    "1948-03-14T10:30:00+00:00",
])

# (period, origin, zone)
GRID = [
    ("PT90S", None, None), ("PT90S", None, LA),
    ("PT1H", None, None), ("PT1H", None, LA), ("PT3H", None, LA),
    ("PT6H", None, KTM), ("P1D", None, None), ("P1D", None, LA),
    ("P2D", None, LA), ("P1W", None, None), ("P1W", None, LA),
    ("P7D", None, None), ("P7D", None, LA), ("P1M", None, LA),
    ("P3M", None, None), ("P1Y", None, LA),
    ("PT1H", "2000-01-01T00:30:00Z", LA),
    ("P1D", "2012-01-02T05:00:00Z", LA),
    ("P1M", "2000-01-31T05:00:00Z", None),
    ("P3M", "2000-02-15T12:00:00Z", LA),
    # whole-hour, half-hour and fixed offsets: a UTC floor where aligned
    ("PT1H", None, "Europe/London"), ("PT30M", None, "Asia/Kolkata"),
    ("PT1H", None, "Asia/Kolkata"), ("PT1H", None, "Etc/GMT-5"),
]
UNITS = {"PT1H": "HOUR", "P1D": "DAY", "P1W": "WEEK", "P1M": "MONTH",
         "P3M": "QUARTER", "P1Y": "YEAR"}


def _wall(origin: str, zone: str | None) -> str:
    d = dt.datetime.fromisoformat(origin.replace("Z", "+00:00"))
    return d.astimezone(ZoneInfo(zone or "UTC")).strftime("%Y-%m-%d %H:%M:%S")


def _paths(i: int, period: str, origin: str | None, zone: str | None):
    """(sqlTimeZone, column SQL) of each Druid SQL form for grid row i."""
    t = "timestamp_millis(ms)"
    default = f"TIMESTAMP '{_wall(origin, zone)}'" if origin else "NULL"
    explicit = f"TIMESTAMP '{_wall(origin, None)}'" if origin else "NULL"
    z = f"'{zone or 'UTC'}'"
    forms = [
        (zone, f"TIME_FLOOR({t}, '{period}', {default})", "floor"),
        (zone, f"TIME_CEIL({t}, '{period}', {default})", "ceil"),
        (zone, f"TIME_SHIFT({t}, '{period}', 2)", "shift"),
        (None, f"TIME_FLOOR({t}, '{period}', {explicit}, {z})", "floor"),
        (None, f"TIME_CEIL({t}, '{period}', {explicit}, {z})", "ceil"),
        (None, f"TIME_SHIFT({t}, '{period}', 2, {z})", "shift"),
    ]
    if origin is None:
        forms += [(zone, f"TIME_FLOOR({t}, '{period}')", "floor"),
                  (zone, f"TIME_CEIL({t}, '{period}')", "ceil")]
        if period in UNITS:
            forms += [(zone, f"FLOOR({t} TO {UNITS[period]})", "floor"),
                      (zone, f"CEIL({t} TO {UNITS[period]})", "ceil"),
                      (zone, f"DATE_TRUNC('{UNITS[period]}', {t})", "floor")]
    return [(tz, f"unix_millis({sql}) AS sql_{i}_{op}_{k}")
            for k, (tz, sql, op) in enumerate(forms)]


def test_every_path_gives_identical_millis(spark):
    """Each grid row through the native granularity (SQL text, Column
    function and the driver-side floor), the timestamp_* macros and every
    Druid SQL form: floors, ceils and 2-period shifts all agree."""
    from incubator_druid_spark.functions.druid_expr import compile_expr
    frame = spark.createDataFrame([(m,) for m in INSTANTS], "ms long") \
        .withColumn("t", F.timestamp_millis("ms"))
    native, sql_by_zone, expected_floor = [], {}, {}
    for i, (period, origin, zone) in enumerate(GRID):
        spec = {"type": "period", "period": period}
        if origin:
            spec["origin"] = origin
        if zone:
            spec["timeZone"] = zone
        g = parse_granularity(spec)
        expected_floor[i] = [g.floor_ms(m) for m in INSTANTS]
        o = f"'{origin}'" if origin else "null"
        z = f"'{zone or 'UTC'}'"
        native += [
            F.unix_millis(F.expr(g.floor_sql("t"))).alias(f"n_{i}_floor_0"),
            F.unix_millis(g.floor(F.col("t"))).alias(f"n_{i}_floor_1"),
            F.unix_millis(compile_expr(
                f"timestamp_floor(t, '{period}', {o}, {z})", F.col))
            .alias(f"n_{i}_floor_2"),
            F.unix_millis(F.expr(g.ceil_sql("t"))).alias(f"n_{i}_ceil_0"),
            F.unix_millis(g.ceil(F.col("t"))).alias(f"n_{i}_ceil_1"),
            F.unix_millis(compile_expr(
                f"timestamp_ceil(t, '{period}', {o}, {z})", F.col))
            .alias(f"n_{i}_ceil_2"),
            F.unix_millis(F.expr(g.shift_sql("t", 2))).alias(f"n_{i}_shift_0"),
            F.unix_millis(g.shift(F.col("t"), 2)).alias(f"n_{i}_shift_1"),
            F.unix_millis(compile_expr(
                f"timestamp_shift(t, '{period}', 2, {z})", F.col))
            .alias(f"n_{i}_shift_2"),
        ]
        for tz, col in _paths(i, period, origin, zone):
            sql_by_zone.setdefault(tz, []).append(col)
    rows = frame.orderBy("ms").select("ms", *native).collect()
    got = {c: [r[c] for r in rows] for c in rows[0].asDict() if c != "ms"}
    for tz, cols in sql_by_zone.items():
        sql_rows = _sql_column(spark, ", ".join(cols), INSTANTS, tz)
        got.update({c: [r[c] for r in sql_rows] for c in sql_rows[0]
                    if c != "ms"})
    for i, (period, origin, zone) in enumerate(GRID):
        for op in ("floor", "ceil", "shift"):
            cols = sorted(c for c in got
                          if c.split("_")[1:3] == [str(i), op])
            first = got[f"n_{i}_{op}_0"]
            assert None not in first, (GRID[i], op)
            for c in cols:
                assert got[c] == first, (GRID[i], c, [
                    (iso(m), iso(a), iso(b))
                    for m, a, b in zip(INSTANTS, first, got[c]) if a != b])
        assert got[f"n_{i}_floor_0"] == expected_floor[i], GRID[i]


# ---------------------------------------------------------------------------
# ceil and shift against Joda's arithmetic in a zone's chronology
# ---------------------------------------------------------------------------

def _offset(zone: str, t: int) -> int:
    d = dt.datetime.fromtimestamp(t / 1000, ZoneInfo(zone))
    return int(d.utcoffset().total_seconds() * 1000)


def _joda_add(period: str, zone: str, t: int, n: int) -> int:
    """t plus n periods as Joda adds them: wall time plus n days or months
    (clamped to the month's end), mapped back with t's own offset while it
    holds there, else the offset before the transition; sub-day periods
    are durations."""
    p = parse_period(period)
    if not p.months and p.millis % 86_400_000:
        return t + n * p.millis
    wall = t + _offset(zone, t)
    d = dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=wall)
    if p.months:
        y, m = divmod(d.year * 12 + d.month - 1 + n * p.months, 12)
        d = d.replace(year=y, month=m + 1,
                      day=min(d.day, calendar.monthrange(y, m + 1)[1]))
    else:
        d += dt.timedelta(milliseconds=n * p.millis)
    local = int((d - dt.datetime(1970, 1, 1)).total_seconds() * 1000)
    c = local - (wall - t)
    if c + _offset(zone, c) == local:
        return c
    before = d.replace(tzinfo=ZoneInfo(zone)).utcoffset()  # fold 0
    return local - int(before.total_seconds() * 1000)


JODA_INSTANTS = {
    LA: ["2024-03-10T09:30:00", "2024-03-10T10:30:00", "2024-11-03T08:30:00",
         "2024-11-03T09:30:00", "2024-01-31T20:00:00", "2024-03-09T10:30:00"],
    # 2018-11-04 and 2019-02-17 begin DST at and end it into midnight
    "America/Sao_Paulo": ["2018-11-03T03:30:00", "2018-11-04T03:00:00",
                          "2018-11-04T03:30:00", "2019-02-17T01:30:00",
                          "2019-02-17T02:30:00", "2019-02-16T02:30:00"],
    # 2011-12-30 does not exist in Apia
    "Pacific/Apia": ["2011-12-29T09:30:00", "2011-12-29T10:00:00",
                     "2011-12-30T10:30:00", "2011-12-28T10:00:00"],
}


@pytest.mark.parametrize("zone", sorted(JODA_INSTANTS))
def test_ceil_and_shift_follow_the_zone_chronology(spark, zone):
    """timestamp_ceil is the floor, or the floor plus one period; shift adds
    periods to the wall time; both map back as Joda does across gaps,
    repeated hours and a skipped day."""
    instants = [ms(s + "+00:00") for s in JODA_INSTANTS[zone]]
    frame = spark.createDataFrame([(m,) for m in instants], "ms long") \
        .withColumn("t", F.timestamp_millis("ms"))
    for period in ("PT1H", "P1D", "P2D", "P1W", "P1M", "P3M", "P1Y"):
        g = parse_granularity({"type": "period", "period": period,
                               "timeZone": zone})
        rows = frame.orderBy("ms").select(
            F.unix_millis(F.expr(g.ceil_sql("t"))).alias("c"),
            F.unix_millis(F.expr(g.shift_sql("t", 1))).alias("s1"),
            F.unix_millis(F.expr(g.shift_sql("t", -1))).alias("s_1")
        ).collect()
        for m, r in zip(sorted(instants), rows):
            f = g.floor_ms(m)
            ceil = f if f == m else _joda_add(period, zone, f, 1)
            assert (r["c"], r["s1"], r["s_1"]) == (
                ceil, _joda_add(period, zone, m, 1),
                _joda_add(period, zone, m, -1)), (period, iso(m))


# ---------------------------------------------------------------------------
# a zone whose offsets and transitions lie on the period grid
# ---------------------------------------------------------------------------

def test_aligned_zone_floors_in_utc(spark):
    """Where every offset of the zone is a whole number of periods and
    every transition lies on the grid, the floor is the UTC floor: PT1H in
    LA from the first whole hour after its 02:01 transition of 1948, in a
    whole-hour fixed offset always; in half-hour Kolkata, off an origin's
    half hour, for LA days and for PT7H, which does not divide a day,
    never."""
    def since(period, zone, origin=None):
        spec = {"type": "period", "period": period, "timeZone": zone}
        if origin:
            spec["origin"] = origin
        return parse_granularity(spec)._utc_grid_since

    la = ms("1948-03-14T11:00:00+00:00")
    assert since("PT1H", LA) == la
    assert since("PT15M", LA) == ms("1948-03-14T10:15:00+00:00")
    assert since("PT1H", "PST") == la
    assert since("PT1H", "Etc/GMT-5") == -math.inf
    assert since("PT1H", "Asia/Kolkata") is None
    assert since("PT1H", LA, "2000-01-01T00:30:00Z") is None
    assert since("P1D", LA) is since("PT7H", LA) is None
    assert since("PT1H", "Nowhere/Atlantis") is None
    g = parse_granularity({"type": "period", "period": "PT1H", "timeZone": LA})
    assert g.floor_sql("t").startswith(
        f"CASE WHEN unix_millis(t) >= {la}L THEN timestamp_millis("
        "unix_millis(t) - pmod(unix_millis(t), 3600000L)) ELSE ")
    assert "from_utc_timestamp" not in parse_granularity(
        {"type": "period", "period": "PT1H", "timeZone": "Etc/GMT-5"}) \
        .floor_sql("t")


def test_unambiguous_grid_maps_wall_times_back_directly(spark):
    """Where no grid wall time falls in a span a transition skips or
    repeats, a bucket start is its wall time's one instant: LA days and
    months (its switches are at 01:00-03:00), not LA hours, nor days in São
    Paulo, whose DST began at midnight.  The floor and the ceil then read
    the zone twice per row, and the ceil stays short text."""
    def gran(period, zone):
        return parse_granularity({"type": "period", "period": period,
                                  "timeZone": zone})

    for period in ("P1D", "P1W", "P1M", "P1Y"):
        assert gran(period, LA)._grid_unambiguous, period
    assert not gran("PT1H", LA)._grid_unambiguous
    assert not gran("P1D", "America/Sao_Paulo")._grid_unambiguous
    day = gran("P1D", LA)
    for text in (day.floor_sql("t"), day.ceil_sql("t")):
        assert text.startswith("to_utc_timestamp(timestamp_millis(")
        # no check of a candidate instant's wall time
        assert "unix_millis(from_utc_timestamp(timestamp_millis(" \
            not in text
    assert len(gran("P1M", LA).ceil_sql("t")) < 1000


def test_macro_registers_in_the_query_session(spark, tmp_path):
    """A timestamp_floor virtual column compiles to a session function call:
    it is registered in the session the native query runs in (here the UTC
    clone of a host on another zone), not the active one."""
    from incubator_druid_spark import translate
    from incubator_druid_spark.catalog import Catalog
    host = spark.newSession()
    host.conf.set("spark.sql.session.timeZone", LA)
    path = str(tmp_path / "one.parquet")
    spark.createDataFrame([(FALL_BACK[2],)], "ms long") \
        .select(F.timestamp_millis("ms").alias("__time")).write.parquet(path)
    cat = Catalog(host)
    cat.register("one", path)
    q = {"queryType": "scan", "dataSource": "one", "columns": ["h"],
         "intervals": ["2012-11-04T00:00:00Z/2012-11-05T00:00:00Z"],
         "virtualColumns": [{
             "type": "expression", "name": "h", "outputType": "LONG",
             "expression": f"timestamp_floor(__time, 'PT1H', null, '{LA}')"}]}
    assert [r["h"] for r in translate(q, host, cat).collect()] == \
        [FALL_BACK_BUCKETS[2]]


# ---------------------------------------------------------------------------
# the zone enters the SQL text as a literal, so it must be a zone id
# ---------------------------------------------------------------------------

BAD_ZONE = "UTC\\' ) OR raise_error('spliced') --"


def test_zone_with_a_quote_or_backslash_is_refused(spark, tmp_path):
    """A native timeZone, a timestamp_* macro zone and a SQL zone argument
    that could close the inlined string literal raise ValueError."""
    from incubator_druid_spark import translate
    from incubator_druid_spark.catalog import Catalog
    from incubator_druid_spark.functions.druid_expr import compile_expr
    from incubator_druid_spark.model.granularity import _quote
    path = str(tmp_path / "one.parquet")
    spark.createDataFrame([(0,)], "ms long") \
        .select(F.timestamp_millis("ms").alias("__time")).write.parquet(path)
    cat = Catalog(spark)
    cat.register("one", path)
    q = {"queryType": "timeseries", "dataSource": "one",
         "granularity": {"type": "period", "period": "PT1H",
                         "timeZone": BAD_ZONE},
         "intervals": ["2012-11-04T00:00:00Z/2012-11-05T00:00:00Z"],
         "aggregations": [{"type": "count", "name": "n"}]}
    with pytest.raises(ValueError, match="bad time zone"):
        translate(q, spark, cat)
    for op in ("floor", "ceil"):
        with pytest.raises(ValueError, match="bad time zone"):
            compile_expr(f"timestamp_{op}(t, 'PT1H', null, "
                         f"{_quote(BAD_ZONE)})", F.col)
    with pytest.raises(ValueError, match="bad time zone"):
        compile_expr(f"timestamp_shift(t, 'PT1H', 1, {_quote(BAD_ZONE)})",
                     F.col)
    with pytest.raises(ValueError, match="bad time zone"):
        _sql_column(spark, "TIME_FLOOR(timestamp_millis(ms), 'PT1H', NULL, "
                           "'UTC\\\\x')", [0])
    # the literal itself escapes both characters, as Spark's lexer reads them
    assert spark.sql(f"SELECT {_quote(BAD_ZONE)} AS z").first()["z"] == \
        BAD_ZONE


def test_date_trunc_floors_in_the_sql_time_zone(spark):
    """DATE_TRUNC floors like TIME_FLOOR in the query zone; centuries and
    millennia keep the Postgres phase; an unknown unit raises."""
    t = ms("2019-07-01T03:30:00+00:00")
    got = _sql_column(
        spark,
        "unix_millis(DATE_TRUNC('day', timestamp_millis(ms))) AS d, "
        "unix_millis(DATE_TRUNC('decade', timestamp_millis(ms))) AS dec, "
        "unix_millis(DATE_TRUNC('century', timestamp_millis(ms))) AS c, "
        "unix_millis(DATE_TRUNC('millennium', timestamp_millis(ms))) AS m",
        [t], LA)[0]
    assert iso(got["d"]) == "2019-06-30T07:00:00Z"
    assert iso(got["dec"]) == "2010-01-01T08:00:00Z"
    assert iso(got["c"]) == iso(got["m"]) == "2001-01-01T08:00:00Z"
    with pytest.raises(ValueError, match="cannot truncate"):
        _sql_column(spark, "DATE_TRUNC('fortnight', timestamp_millis(ms))",
                    [t])


@pytest.mark.parametrize("alias, region", [("+05:30", "Asia/Kolkata"),
                                           ("PST", LA)])
def test_offset_and_short_zone_ids_zero_fill(spark, catalog, alias, region):
    """A fixed offset and a short zone id name the zone Spark resolves them
    to, in the zero-filled spine as in the bucketing text: a filtered PT1H
    timeseries answers as under the region id."""
    from incubator_druid_spark.api import native_query

    def answer(zone):
        return native_query({
            "queryType": "timeseries", "dataSource": "events",
            "granularity": {"type": "period", "period": "PT1H",
                            "timeZone": zone},
            "intervals": ["2024-01-02T00:00:00Z/2024-01-03T00:00:00Z"],
            "filter": {"type": "selector", "dimension": "event_type",
                       "value": "click"},
            "aggregations": [{"type": "count", "name": "n"}]},
            spark, catalog)

    expected = answer(region)
    assert len(expected) >= 24 and sum(r["result"]["n"] for r in expected)
    assert answer(alias) == expected
