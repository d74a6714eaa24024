"""Granularity system tests — floor/ceil/shift/spine semantics per
core/.../granularity/ (GranularityType, PeriodGranularity, DurationGranularity)."""

import datetime

import pytest
from pyspark.sql import functions as F

from incubator_druid_spark.model.granularity import (Granularity, Period,
                                                     parse_granularity,
                                                     parse_period)


def ts(s):
    return datetime.datetime.fromisoformat(s)


def floor_one(spark, gran, value):
    df = spark.createDataFrame([(ts(value),)], "t timestamp")
    return df.select(gran.floor(F.col("t")).alias("f")).first()["f"]


def test_parse_period():
    assert parse_period("PT1H") == Period(0, 3_600_000)
    assert parse_period("P1D") == Period(0, 86_400_000)
    # only the P*W spelling carries the weeks flag (Monday anchor);
    # P7D is day arithmetic from the epoch (PeriodGranularity.java:281-318)
    assert parse_period("P1W") == Period(0, 7 * 86_400_000, weeks=True)
    assert parse_period("P7D") == Period(0, 7 * 86_400_000, weeks=False)
    assert parse_period("P1M") == Period(1, 0)
    assert parse_period("P1Y") == Period(12, 0)
    assert parse_period("PT15M") == Period(0, 900_000)
    with pytest.raises(ValueError):
        parse_period("P1M1D")  # mixed calendar+fixed unsupported
    with pytest.raises(ValueError):
        parse_period("nope")


def test_simple_granularities(spark):
    assert floor_one(spark, parse_granularity("hour"),
                     "2024-03-05 13:47:21") == ts("2024-03-05 13:00:00")
    assert floor_one(spark, parse_granularity("fifteen_minute"),
                     "2024-03-05 13:47:21") == ts("2024-03-05 13:45:00")
    assert floor_one(spark, parse_granularity("day"),
                     "2024-03-05 13:47:21") == ts("2024-03-05 00:00:00")
    # ISO week starts Monday (2024-03-05 is a Tuesday)
    assert floor_one(spark, parse_granularity("week"),
                     "2024-03-05 13:47:21") == ts("2024-03-04 00:00:00")
    assert floor_one(spark, parse_granularity("month"),
                     "2024-03-05 13:47:21") == ts("2024-03-01 00:00:00")
    assert floor_one(spark, parse_granularity("quarter"),
                     "2024-05-05 13:47:21") == ts("2024-04-01 00:00:00")
    assert floor_one(spark, parse_granularity("year"),
                     "2024-03-05 13:47:21") == ts("2024-01-01 00:00:00")


def test_multi_week_epoch_anchoring(spark):
    """PeriodGranularity.truncate week branch (:281-299): ONLY weeks==1 with
    no origin Monday-floors; P2W/P3W align week MULTIPLES from the DEFAULT
    origin = epoch (1970-01-01, a Thursday)."""
    # 2024-01-10 is a Wednesday; epoch-aligned 14-day buckets put it in the
    # bucket starting Thursday 2024-01-04 (19732 // 14 * 14 = 19726 days)
    g2w = parse_granularity({"type": "period", "period": "P2W"})
    assert floor_one(spark, g2w, "2024-01-10 12:00:00") == ts("2024-01-04 00:00:00")
    g3w = parse_granularity({"type": "period", "period": "P3W"})
    assert floor_one(spark, g3w, "2024-01-10 12:00:00") == ts("2023-12-28 00:00:00")
    # P1W still Monday-floors (2024-01-08)
    g1w = parse_granularity({"type": "period", "period": "P1W"})
    assert floor_one(spark, g1w, "2024-01-10 12:00:00") == ts("2024-01-08 00:00:00")
    # an explicit origin overrides the default for multi-week too
    g2wo = parse_granularity({"type": "period", "period": "P2W",
                              "origin": "2024-01-01T00:00:00Z"})
    assert floor_one(spark, g2wo, "2024-01-10 12:00:00") == ts("2024-01-01 00:00:00")


def test_duration_and_origin(spark):
    g = parse_granularity({"type": "duration", "duration": 7_200_000})  # 2h
    assert floor_one(spark, g, "2024-03-05 13:47:21") == ts("2024-03-05 12:00:00")
    # origin shifts bucket boundaries (PeriodGranularity.truncate semantics)
    g2 = parse_granularity({"type": "period", "period": "P1D",
                            "origin": "1970-01-01T06:00:00Z"})
    assert floor_one(spark, g2, "2024-03-05 03:00:00") == ts("2024-03-04 06:00:00")
    assert floor_one(spark, g2, "2024-03-05 07:00:00") == ts("2024-03-05 06:00:00")


def test_timezone_floor(spark):
    g = parse_granularity({"type": "period", "period": "P1D",
                           "timeZone": "America/Los_Angeles"})
    # 2024-03-05 06:00 UTC is 2024-03-04 22:00 PST → LA day starts 08:00 UTC
    assert floor_one(spark, g, "2024-03-05 06:00:00") == ts("2024-03-04 08:00:00")


def test_ceil_and_shift(spark):
    g = parse_granularity("hour")
    df = spark.createDataFrame([(ts("2024-03-05 13:47:21"),),
                                (ts("2024-03-05 13:00:00"),)], "t timestamp")
    out = df.select(g.ceil(F.col("t")).alias("c")).collect()
    assert out[0]["c"] == ts("2024-03-05 14:00:00")
    assert out[1]["c"] == ts("2024-03-05 13:00:00")  # on-boundary: unchanged
    sh = df.select(g.shift(F.col("t"), 2).alias("s")).first()["s"]
    assert sh == ts("2024-03-05 15:47:21")
    gm = parse_granularity("month")
    sm = df.select(gm.shift(F.col("t"), -1).alias("s")).first()["s"]
    assert sm == ts("2024-02-05 13:47:21")


def test_spine():
    g = parse_granularity("day")
    start = int(ts("2024-01-01 00:00:00").replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1000)
    end = int(ts("2024-01-04 00:00:00").replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1000)
    assert len(g.spine(start, end)) == 3
    gm = parse_granularity("month")
    end_m = int(ts("2024-07-01 00:00:00").replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1000)
    assert len(gm.spine(start, end_m)) == 6


def test_floor_matches_duckdb_bulk(spark):
    """Cross-engine property check: granularity floors over 2000 random
    timestamps (1971–2029) must equal DuckDB's date_trunc for every calendar
    unit — one Spark job + one DuckDB query, not per-example overhead.
    Druid weeks anchor to Monday (epoch's preceding Monday), same as ISO
    date_trunc('week')."""
    import datetime

    import duckdb
    import numpy as np

    from incubator_druid_spark.model.granularity import parse_granularity

    rng = np.random.default_rng(7)
    millis = rng.integers(31_536_000_000, 1_893_456_000_000, size=2000)
    rows = [(datetime.datetime.utcfromtimestamp(int(m) // 1000)
             .replace(microsecond=(int(m) % 1000) * 1000),) for m in millis]
    df = spark.createDataFrame(rows, "ts timestamp")

    units = ["minute", "hour", "day", "week", "month", "quarter", "year"]
    sel = [F.col("ts")] + [
        parse_granularity(u).floor(F.col("ts")).alias(u) for u in units]
    got = {r["ts"]: r for r in df.select(*sel).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t(ts TIMESTAMP)")
    con.executemany("INSERT INTO t VALUES (?)", rows)
    q = "SELECT ts, " + ", ".join(
        f"date_trunc('{u}', ts) AS {u}" for u in units) + " FROM t"
    def norm(v):
        if isinstance(v, datetime.datetime):
            return v
        return datetime.datetime(v.year, v.month, v.day)  # duckdb DATE

    for row in con.execute(q).fetchall():
        ts, *floors = row
        for u, expected in zip(units, floors):
            assert got[ts][u] == norm(expected), (u, ts, got[ts][u], expected)


def test_all_none():
    assert parse_granularity("all").kind == "all"
    assert parse_granularity(None).kind == "all"
    assert parse_granularity("none").kind == "none"


def test_tz_spine_matches_floor(spark):
    """Zero-fill spine for PeriodGranularity with timeZone must produce the
    same bucket keys floor() produces (regression: the spine enumerated UTC
    days while floor bucketed at local midnight, so every tz timeseries
    zero-filled to all-zero rows)."""
    from pyspark.sql import functions as F
    from incubator_druid_spark.model.granularity import parse_granularity

    g = parse_granularity({"type": "period", "period": "P1D",
                           "timeZone": "America/Los_Angeles"})
    start = 1704182400000   # 2024-01-02T08:00:00Z == LA midnight
    end = start + 3 * 86_400_000
    spine = g.spine(start, end)
    assert len(spine) == 3
    df = spark.createDataFrame([(ms,) for ms in spine], "ms long") \
        .select(F.timestamp_millis(F.col("ms")).alias("t"))
    floored = [r["f"] for r in df.select(g.floor(F.col("t")).alias("f")).collect()]
    keys = [r["t"] for r in df.collect()]
    assert floored == keys  # every spine point is its own bucket start
    # the 2012-11-04 fall-back day: 25 hourly buckets, the repeated 01:00
    # hour twice, each its own bucket start; every minute of the day
    # floors onto a spine point
    h = parse_granularity({"type": "period", "period": "PT1H",
                           "timeZone": "America/Los_Angeles"})
    day = 1352012400000     # 2012-11-04T07:00:00Z == LA midnight
    spine = h.spine(day, day + 25 * 3_600_000)
    assert len(spine) == 25 and spine == sorted(set(spine))
    df = spark.createDataFrame([(m,) for m in range(
        day, day + 25 * 3_600_000, 60_000)], "ms long") \
        .select(F.timestamp_millis(F.col("ms")).alias("t"))
    floored = {r["f"] for r in df.select(F.unix_millis(
        h.floor(F.col("t"))).alias("f")).collect()}
    assert floored == set(spine)


def test_dst_aware_day_shift(spark):
    """timestamp_shift with tz advances in local chronology: one 'day' across
    the US spring-forward (2024-03-10) is 23 physical hours
    (TimestampShiftExprMacro.java joda-period semantics)."""
    from pyspark.sql import functions as F
    from incubator_druid_spark.model.granularity import parse_granularity

    g = parse_granularity({"type": "period", "period": "P1D",
                           "timeZone": "America/Los_Angeles"})
    df = spark.createDataFrame([("2024-03-10 08:00:00",)], "s string") \
        .select(F.to_timestamp("s").alias("t"))  # LA midnight, Mar 10
    out = df.select(g.shift(F.col("t"), 1).alias("next"),
                    g.ceil(F.col("t")).alias("c")).first()
    assert str(out["next"]) == "2024-03-11 07:00:00"  # 23h later in UTC
    assert str(out["c"]) == "2024-03-10 08:00:00"     # on-boundary ceil fixes
