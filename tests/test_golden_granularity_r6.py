"""QueryGranularityTest.java golden port (round 6) — bucket iteration
(getIterable ≙ Granularity.spine) and bucketStart (≙ floor) semantics
(processing/src/test/java/org/apache/druid/granularity/
QueryGranularityTest.java).

Not ported, with reasons: testSerializePeriod / testSerializeDuration /
testStandardGranularitiesSerde are Jackson wire tests; testMerge is the
broker's granularity-merging helper (no analogue); testIterableNone
iterates one bucket per millisecond — this engine's NONE granularity is
row-grain (no bucketing), an equivalent contract without the iterator."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from incubator_druid_spark.model.granularity import parse_granularity


def _ms(s, tz="UTC"):
    d = dt.datetime.fromisoformat(s)
    if d.tzinfo is None:
        from zoneinfo import ZoneInfo
        d = d.replace(tzinfo=ZoneInfo(tz))
    return int(d.timestamp() * 1000)


def spine(spec, start, end):
    g = parse_granularity(spec)
    return g.spine(_ms(start), _ms(end))


def test_iterable_minute(spark):
    """testIterableMinuteSimple / testIterableMinuteComplex."""
    assert spine("minute", "2011-01-01T09:38:00+00:00",
                 "2011-01-01T09:41:00+00:00") == \
        [_ms(f"2011-01-01T09:{m}:00+00:00") for m in (38, 39, 40)]
    assert spine("minute", "2011-01-01T09:38:02.992000+00:00",
                 "2011-01-01T09:41:02.992000+00:00") == \
        [_ms(f"2011-01-01T09:{m}:00+00:00") for m in (38, 39, 40, 41)]


def test_iterable_fifteen_minute(spark):
    """testIterable15MinuteSimple / testIterable15MinuteComplex."""
    assert spine("fifteen_minute", "2011-01-01T09:30:00+00:00",
                 "2011-01-01T10:15:00+00:00") == \
        [_ms("2011-01-01T09:30:00+00:00"), _ms("2011-01-01T09:45:00+00:00"),
         _ms("2011-01-01T10:00:00+00:00")]
    assert spine("fifteen_minute", "2011-01-01T09:38:02.992000+00:00",
                 "2011-01-01T10:23:02.992000+00:00") == \
        [_ms("2011-01-01T09:30:00+00:00"), _ms("2011-01-01T09:45:00+00:00"),
         _ms("2011-01-01T10:00:00+00:00"), _ms("2011-01-01T10:15:00+00:00")]


def test_iterable_hour_day(spark):
    """testIterableHourSimple/Complex + testIterableDaySimple/Complex."""
    assert spine("hour", "2011-01-01T09:00:00+00:00",
                 "2011-01-01T12:00:00+00:00") == \
        [_ms(f"2011-01-01T{h}:00:00+00:00") for h in ("09", "10", "11")]
    assert spine("hour", "2011-01-01T09:38:02.992000+00:00",
                 "2011-01-01T12:38:02.992000+00:00") == \
        [_ms(f"2011-01-01T{h}:00:00+00:00")
         for h in ("09", "10", "11", "12")]
    assert spine("day", "2011-01-01T00:00:00+00:00",
                 "2011-01-04T00:00:00+00:00") == \
        [_ms(f"2011-01-0{d}T00:00:00+00:00") for d in (1, 2, 3)]
    assert spine("day", "2011-01-01T09:38:02.992000+00:00",
                 "2011-01-04T09:38:02.992000+00:00") == \
        [_ms(f"2011-01-0{d}T00:00:00+00:00") for d in (1, 2, 3, 4)]


def test_iterable_week(spark):
    """testIterableWeekSimple / testIterableWeekComplex — ISO weeks start
    Monday (2011-01-03); a Saturday base floors back to 2010-12-27."""
    assert spine("week", "2011-01-03T00:00:00+00:00",
                 "2011-01-24T00:00:00+00:00") == \
        [_ms("2011-01-03T00:00:00+00:00"), _ms("2011-01-10T00:00:00+00:00"),
         _ms("2011-01-17T00:00:00+00:00")]
    assert spine("week", "2011-01-01T09:38:02.992000+00:00",
                 "2011-01-22T09:38:02.992000+00:00") == \
        [_ms("2010-12-27T00:00:00+00:00"), _ms("2011-01-03T00:00:00+00:00"),
         _ms("2011-01-10T00:00:00+00:00"), _ms("2011-01-17T00:00:00+00:00")]


def test_iterable_month_quarter_year(spark):
    """testIterableMonthSimple/Complex + Quarter + Year."""
    assert spine("month", "2011-01-01T00:00:00+00:00",
                 "2011-04-01T00:00:00+00:00") == \
        [_ms("2011-01-01T00:00:00+00:00"), _ms("2011-02-01T00:00:00+00:00"),
         _ms("2011-03-01T00:00:00+00:00")]
    assert spine("month", "2011-01-01T09:38:00+00:00",
                 "2011-04-01T09:38:00+00:00") == \
        [_ms("2011-01-01T00:00:00+00:00"), _ms("2011-02-01T00:00:00+00:00"),
         _ms("2011-03-01T00:00:00+00:00"), _ms("2011-04-01T00:00:00+00:00")]
    assert spine("quarter", "2011-01-01T00:00:00+00:00",
                 "2011-10-01T00:00:00+00:00") == \
        [_ms("2011-01-01T00:00:00+00:00"), _ms("2011-04-01T00:00:00+00:00"),
         _ms("2011-07-01T00:00:00+00:00")]
    assert spine("quarter", "2011-01-01T09:38:00+00:00",
                 "2011-10-01T09:38:00+00:00") == \
        [_ms("2011-01-01T00:00:00+00:00"), _ms("2011-04-01T00:00:00+00:00"),
         _ms("2011-07-01T00:00:00+00:00"), _ms("2011-10-01T00:00:00+00:00")]
    assert spine("year", "2011-01-01T00:00:00+00:00",
                 "2014-01-01T00:00:00+00:00") == \
        [_ms("2011-01-01T00:00:00+00:00"), _ms("2012-01-01T00:00:00+00:00"),
         _ms("2013-01-01T00:00:00+00:00")]
    assert spine("year", "2011-01-01T09:38:00+00:00",
                 "2014-01-01T09:38:00+00:00") == \
        [_ms("2011-01-01T00:00:00+00:00"), _ms("2012-01-01T00:00:00+00:00"),
         _ms("2013-01-01T00:00:00+00:00"), _ms("2014-01-01T00:00:00+00:00")]


def test_period_daylight_saving_days(spark):
    """testPeriodDaylightSaving (P1D half) — LA day buckets across the
    2012-11-04 fall-back: the DST day is 25 physical hours, so successive
    bucket starts are 07:00Z then 08:00Z."""
    got = spine({"type": "period", "period": "P1D",
                 "timeZone": "America/Los_Angeles"},
                "2012-11-04T00:00:00-07:00", "2012-11-07T00:00:00-08:00")
    assert got == [_ms("2012-11-04T07:00:00+00:00"),
                   _ms("2012-11-05T08:00:00+00:00"),
                   _ms("2012-11-06T08:00:00+00:00")]


def test_period_daylight_saving_hours(spark):
    """testPeriodDaylightSaving (PT1H half) — the repeated 01:00 LA wall
    hour of the 2012-11-04 fall-back is two buckets, in getIterable and in
    bucketStart."""
    la = {"type": "period", "period": "PT1H",
          "timeZone": "America/Los_Angeles"}
    buckets = [_ms("2012-11-04T00:00:00-07:00"),
               _ms("2012-11-04T01:00:00-07:00"),
               _ms("2012-11-04T01:00:00-08:00"),
               _ms("2012-11-04T02:00:00-08:00"),
               _ms("2012-11-04T03:00:00-08:00")]
    assert spine(la, "2012-11-04T00:00:00-07:00",
                 "2012-11-04T04:00:00-08:00") == buckets
    assert _floor_vals(spark, la, [
        _ms("2012-11-04T00:30:00-07:00"), _ms("2012-11-04T01:30:00-07:00"),
        _ms("2012-11-04T01:30:00-08:00"), _ms("2012-11-04T02:30:00-08:00"),
        _ms("2012-11-04T03:30:00-08:00")]) == buckets


def _floor_vals(spark, spec, instants_ms):
    g = parse_granularity(spec)
    df = spark.createDataFrame([(m,) for m in instants_ms], "m long")
    out = df.select(F.unix_millis(
        g.floor(F.timestamp_millis(F.col("m")))).alias("f")).collect()
    return [r["f"] for r in out]


def test_period_truncate_days_origin_tz(spark):
    """testPeriodTruncateDays — P2D under LA, with and without an origin;
    the origin anchors the 2-day phase."""
    ins = [_ms("2012-01-01T05:00:04.123000-08:00"),
           _ms("2012-01-02T07:00:04.123000-08:00"),
           _ms("2012-01-04T07:20:04.123000-08:00")]
    with_origin = _floor_vals(
        spark, {"type": "period", "period": "P2D",
                "origin": "2012-01-02T05:00:00.000-08:00",
                "timeZone": "America/Los_Angeles"}, ins)
    assert with_origin == [_ms("2011-12-31T05:00:00-08:00"),
                           _ms("2012-01-02T05:00:00-08:00"),
                           _ms("2012-01-04T05:00:00-08:00")]
    no_origin = _floor_vals(
        spark, {"type": "period", "period": "P2D",
                "timeZone": "America/Los_Angeles"}, ins)
    assert no_origin == [_ms("2012-01-01T00:00:00-08:00"),
                         _ms("2012-01-01T00:00:00-08:00"),
                         _ms("2012-01-03T00:00:00-08:00")]


def test_period_truncate_minutes_origin(spark):
    """testPeriodTruncateMinutes — PT15M with a phase-shifting origin."""
    ins = [_ms("2012-01-01T05:00:04.123000+00:00"),
           _ms("2012-01-02T07:08:04.123000+00:00"),
           _ms("2012-01-04T00:20:04.123000+00:00")]
    with_origin = _floor_vals(
        spark, {"type": "period", "period": "PT15M",
                "origin": "2012-01-02T00:05:00.000Z"}, ins)
    assert with_origin == [_ms("2012-01-01T04:50:00+00:00"),
                           _ms("2012-01-02T07:05:00+00:00"),
                           _ms("2012-01-04T00:20:00+00:00")]
    ins2 = [_ms("2012-01-01T05:00:04.123000+00:00"),
            _ms("2012-01-02T07:00:04.123000+00:00"),
            _ms("2012-01-04T00:20:04.123000+00:00")]
    no_origin = _floor_vals(
        spark, {"type": "period", "period": "PT15M"}, ins2)
    assert no_origin == [_ms("2012-01-01T05:00:00+00:00"),
                         _ms("2012-01-02T07:00:00+00:00"),
                         _ms("2012-01-04T00:15:00+00:00")]
