"""The segment timeline behind timeseries zero-fill (incubator_druid_spark/
timeline.py): which buckets are filled, what it costs per query, and when a
datasource gets a new one."""

import datetime
import json
import os

import pytest

from incubator_druid_spark import timeline as tl_mod
from incubator_druid_spark import translate
from incubator_druid_spark.api import native_query
from incubator_druid_spark.catalog import Catalog
from incubator_druid_spark.model.granularity import parse_granularity
from incubator_druid_spark.sources.ingest import ingest
from incubator_druid_spark.streaming.ingest import compact

d = datetime.datetime
_TYPED_A = {"type": "selector", "dimension": "typ", "value": "a"}

# days 1, 2, 4 and 5 of January 2024 hold rows; day 3 is a gap, and the last
# row is at 2024-01-05T20:00
_ROWS = [(1, 6, "a", 1), (1, 20, "b", 2), (2, 6, "a", 3), (2, 20, "a", 4),
         (4, 6, "b", 5), (4, 20, "a", 6), (5, 6, "a", 7), (5, 20, "b", 8)]


def _gapped(spark, tmp_path, time_name):
    """The rows as a plain parquet table (no __bucket listing), their time
    column stored as ``time_name`` and aliased to __time by the catalog."""
    path = str(tmp_path / time_name)
    spark.createDataFrame(
        [(d(2024, 1, day, hour), typ, v) for day, hour, typ, v in _ROWS],
        f"{time_name} timestamp, typ string, v long").write.parquet(path)
    cat = Catalog(spark)
    cat.register("gapped", path,
                 time_column=None if time_name == "__time" else time_name)
    return cat


def _ts(spark, cat, granularity, filt=_TYPED_A, ds="gapped"):
    q = {"queryType": "timeseries", "dataSource": ds,
         "granularity": granularity, "filter": filt,
         "intervals": ["2023-12-30T00:00:00Z/2024-01-07T00:00:00Z"],
         "aggregations": [{"type": "count", "name": "c"},
                          {"type": "longSum", "name": "s", "fieldName": "v"}]}
    return [(r["__time"], r["c"], r["s"])
            for r in translate(q, spark, cat).collect()]


def _hours():
    """Every hour of a segment day from the bucket holding minTime
    (01-01T06) to the one holding maxTime (01-05T20); typ=a rows counted."""
    hits = {(day, hour): v for day, hour, typ, v in _ROWS if typ == "a"}
    return [(d(2024, 1, day, hour), 1 if (day, hour) in hits else 0,
             hits.get((day, hour)))
            for day in (1, 2, 4, 5) for hour in range(24)
            if d(2024, 1, 1, 6) <= d(2024, 1, day, hour) <= d(2024, 1, 5, 20)]


@pytest.mark.parametrize("granularity, expected", [
    ("day", [(d(2024, 1, 1), 1, 1), (d(2024, 1, 2), 2, 7),
             (d(2024, 1, 4), 1, 6), (d(2024, 1, 5), 1, 7)]),
    ("hour", _hours()),
    ({"type": "period", "period": "P1M"}, [(d(2024, 1, 1), 5, 21)]),
    # Los Angeles days start at 08:00Z.  Every bucket that overlaps a
    # segment day is filled, the same six buckets as the unfiltered query;
    # 01-02T08 holds the 01-02T20 row and 01-05T08 no typ=a row.
    ({"type": "period", "period": "P1D",
      "timeZone": "America/Los_Angeles"},
     [(d(2023, 12, 31, 8), 1, 1), (d(2024, 1, 1, 8), 1, 3),
      (d(2024, 1, 2, 8), 1, 4), (d(2024, 1, 3, 8), 0, None),
      (d(2024, 1, 4, 8), 2, 13), (d(2024, 1, 5, 8), 0, None)]),
])
def test_gap_day_table_zero_fill(spark, tmp_path, granularity, expected):
    cat = _gapped(spark, tmp_path, "__time")
    assert _ts(spark, cat, granularity) == expected
    # coverage is the datasource's: the unfiltered query has the same buckets
    assert [r[0] for r in _ts(spark, cat, granularity, None)] == \
        [r[0] for r in expected]


def test_aliased_time_column_gets_extent(spark, tmp_path):
    """A table whose time column the catalog aliases has no physical
    __time for footer statistics; the timeline job supplies its extent, so
    hour buckets past maxTime on the final day are clipped as for a
    physical __time column."""
    physical = _ts(spark, _gapped(spark, tmp_path, "__time"), "hour")
    aliased = _ts(spark, _gapped(spark, tmp_path, "ts"), "hour")
    assert aliased == physical == _hours()


def test_frames_over_the_same_files_keep_their_own_timeline(spark,
                                                             tmp_path):
    """The memo is keyed by the frame as well as its files: a query
    datasource over the table, or the table re-registered with another time
    column, reads the same files and has another timeline.  Neither one's
    timeline leaks into the other's answer, in either order."""
    cat = _gapped(spark, tmp_path, "__time")
    inner = {"type": "query", "query": {
        "queryType": "groupBy", "dataSource": "gapped", "granularity": "hour",
        "intervals": ["2024-01-01T00:00:00Z/2024-01-03T00:00:00Z"],
        "dimensions": ["typ"],
        "aggregations": [{"type": "longSum", "name": "v", "fieldName": "v"}]}}
    # the inner query covers days 1 and 2, up to its last row at 01-02T20
    two_days = [r for r in _hours() if r[0] <= d(2024, 1, 2, 20)]
    assert _ts(spark, cat, "hour", ds=inner) == two_days
    assert _ts(spark, cat, "hour") == _hours()
    assert _ts(spark, cat, "hour", ds=inner) == two_days

    # the same rows with their time a day later in a second column
    path = str(tmp_path / "two_times")
    spark.createDataFrame(
        [(d(2024, 1, day, hour), d(2024, 1, day + 1, hour), typ, v)
         for day, hour, typ, v in _ROWS],
        "t1 timestamp, t2 timestamp, typ string, v long").write.parquet(path)
    cat.register("gapped", path, time_column="t1")
    assert _ts(spark, cat, "hour") == _hours()
    cat.register("gapped", path, time_column="t2")
    later = [(t + datetime.timedelta(days=1), c, v) for t, c, v in _hours()]
    assert _ts(spark, cat, "hour") == [r for r in later
                                        if r[0] < d(2024, 1, 7)]


def test_join_timeline_reads_only_the_query_intervals(spark, tmp_path):
    """A join frame's timeline is not memoized, so its scan is limited to
    the query intervals: the rows outside them are not read."""
    cat = _gapped(spark, tmp_path, "__time")
    src = cat.table("gapped")
    joined = src.join(src.select("typ").distinct(), on="typ")
    day4 = 1704326400000  # 2024-01-04T00:00Z
    ivs = [(day4, day4 + tl_mod.DAY_MS)]
    tl = tl_mod.timeline(joined, ivs)
    assert tl == tl_mod.Timeline(((day4, day4 + tl_mod.DAY_MS),), None)
    # every hour of day 4: no extent of the rows inside it clips the day
    assert len(tl.buckets(parse_granularity("hour"), ivs)) == 24


def test_one_spine_cap(spark, tmp_path):
    """The zero-fill path and the spine enumeration share one bucket cap:
    a calendar spine under it is enumerated and filled (at 107,988 months,
    past the old 100,000 calendar limit), and a query past it answers
    without zero-fill instead of raising."""
    cat = _gapped(spark, tmp_path, "__time")
    month = parse_granularity("month")
    millennia = [(-30610224000000, 253370764800000)]  # 1000-01-01/9999-01-01
    assert month.spine_fits(millennia)
    assert len(month.spine(*millennia[0])) == 107_988
    q = {"queryType": "timeseries", "dataSource": "gapped",
         "granularity": "month", "filter": _TYPED_A,
         "intervals": ["1000-01-01T00:00:00Z/9999-01-01T00:00:00Z"],
         "aggregations": [{"type": "count", "name": "c"}]}
    assert [(r["__time"], r["c"]) for r in translate(q, spark, cat)
            .collect()] == [(d(2024, 1, 1), 5)]
    # 2 years of minutes: 1,052,640 buckets, past the cap
    q.update(granularity="minute",
             intervals=["2023-01-01T00:00:00Z/2025-01-01T00:00:00Z"])
    assert not parse_granularity("minute").spine_fits(
        [(1672531200000, 1735689600000)])
    assert len(translate(q, spark, cat).collect()) == 5


def test_filtered_hour_timeseries_job_budget(spark, catalog):
    """On its second call a filtered hour timeseries reads the memoized
    timeline (translate runs no Spark job) and collects in at most 4 jobs:
    no second scan for segment days, no range-sort sample job."""
    q = {"queryType": "timeseries", "dataSource": "events",
         "granularity": "hour",
         "intervals": ["2024-01-02T00:00:00Z/2024-01-04T00:00:00Z"],
         "filter": {"type": "selector", "dimension": "event_type",
                    "value": "click"},
         "aggregations": [{"type": "count", "name": "n"},
                          {"type": "doubleSum", "name": "v",
                           "fieldName": "value"}]}
    first = native_query(q, spark, catalog)
    assert len(first) == 48
    sc = spark.sparkContext
    try:
        sc.setJobGroup("timeline-translate", "translate")
        translate(q, spark, catalog)
        sc.setJobGroup("timeline-query", "query")
        assert native_query(q, spark, catalog) == first
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("timeline-translate") == []
    assert 0 < len(tracker.getJobIdsForGroup("timeline-query")) <= 4


def _ingest(spark, cat, tmp_path, times, seg_gran, name, append=False):
    """One typ=a row at each of ``times``, batch-ingested into ``name``
    with ``seg_gran`` segments; returns the table directory."""
    src = str(tmp_path / f"{name}{len(times)}.json")
    with open(src, "w") as f:
        for t in times:
            f.write(json.dumps({"t": t, "typ": "a", "v": 1}) + "\n")
    return ingest(spark, {
        "dataSchema": {
            "dataSource": name,
            "timestampSpec": {"column": "t", "format": "iso"},
            "dimensionsSpec": {"dimensions": [
                "typ", {"type": "long", "name": "v"}]},
            "granularitySpec": {"segmentGranularity": seg_gran}},
        "ioConfig": {"inputSource": {"type": "local", "files": [src]},
                     "inputFormat": {"type": "json"},
                     "appendToExisting": append},
    }, cat, str(tmp_path / "seg"))


def _ingest_days(spark, cat, tmp_path, days):
    _ingest(spark, cat, tmp_path,
            [f"2024-01-0{day}T06:00:00Z" for day in days], "day", "daily")


def test_reingest_and_reregistration_add_buckets(spark, tmp_path):
    """A new file list is a new datasource version with its own timeline:
    buckets of an added day appear after a re-ingest (__bucket listing) and
    after an append re-registered under the same name (scanned)."""
    cat = Catalog(spark)
    zero = {"type": "selector", "dimension": "typ", "value": "zzz"}
    _ingest_days(spark, cat, tmp_path, [1, 2])
    assert [r[0] for r in _ts(spark, cat, "day", zero, "daily")] == \
        [d(2024, 1, 1), d(2024, 1, 2)]
    _ingest_days(spark, cat, tmp_path, [1, 2, 4])
    assert [r[0] for r in _ts(spark, cat, "day", zero, "daily")] == \
        [d(2024, 1, 1), d(2024, 1, 2), d(2024, 1, 4)]

    cat = _gapped(spark, tmp_path, "__time")
    assert len(_ts(spark, cat, "hour")) == 87
    spark.createDataFrame([(d(2024, 1, 6, 3), "b", 9)],
                          "__time timestamp, typ string, v long") \
        .write.mode("append").parquet(str(tmp_path / "__time"))
    cat.register("gapped", str(tmp_path / "__time"))
    got = _ts(spark, cat, "hour")
    assert len(got) == 87 + 3 + 4  # 01-05T21..23 and 01-06T00..03
    assert got[-1] == (d(2024, 1, 6, 3), 0, None)


# one row on each of four days, in three weeks: the week of 01-08 holds none
_SPREAD = ["2024-01-01T00:00:00Z", "2024-01-15T06:00:00Z",
           "2024-01-20T06:00:00Z", "2024-01-25T06:00:00Z"]
_SPREAD_DAYS = ["2024-01-01T00", "2024-01-15T00", "2024-01-20T00",
                "2024-01-25T00"]
_MID_JANUARY = "2024-01-14T00:00:00Z/2024-01-21T00:00:00Z"


def _days(first, last, hits=(15, 20)):
    return [(d(2024, 1, day), int(day in hits))
            for day in range(first, last + 1)]


@pytest.mark.parametrize("seg_gran, writer, zone, times, granularity, "
                         "interval, keys, expected", [
    # a month segment covers every day of the interval: all 7 are filled
    ("month", "ingest", "UTC", _SPREAD, "day", _MID_JANUARY,
     ["2024-01-01T00"], _days(14, 20)),
    ("month", "compact", "UTC", _SPREAD, "day", _MID_JANUARY,
     ["2024-01-01T00"], _days(14, 20)),
    # the week of 01-15 is a segment, the week of 01-08 (holding 01-14) not
    ("week", "ingest", "UTC", _SPREAD, "day", _MID_JANUARY,
     ["2024-01-01T00", "2024-01-15T00", "2024-01-22T00"], _days(15, 20)),
    # the key is UTC whatever the session zone: the same answers
    ("day", "ingest", "UTC", _SPREAD, "day", _MID_JANUARY,
     _SPREAD_DAYS, [(d(2024, 1, 15), 1), (d(2024, 1, 20), 1)]),
    ("day", "ingest", "America/Los_Angeles", _SPREAD, "day", _MID_JANUARY,
     _SPREAD_DAYS, [(d(2024, 1, 15), 1), (d(2024, 1, 20), 1)]),
    # hour segments fill their own hours only, not the hours between them
    ("hour", "ingest", "UTC",
     ["2024-01-01T06:30:00Z", "2024-01-01T20:30:00Z"], "hour",
     "2024-01-01T00:00:00Z/2024-01-02T00:00:00Z",
     ["2024-01-01T06", "2024-01-01T20"],
     [(d(2024, 1, 1, 6), 1), (d(2024, 1, 1, 20), 1)]),
])
def test_recorded_segment_layout(spark, tmp_path, seg_gran, writer, zone,
                                 times, granularity, interval, keys,
                                 expected):
    """Each table is written with UTC partition keys and its segment
    granularity recorded beside them.  Zero-fill covers exactly the
    recorded segments inside the interval, with or without a filter, and
    partition pruning keeps every row inside a queried day."""
    session = spark.newSession()
    session.conf.set("spark.sql.session.timeZone", zone)
    cat = Catalog(session)
    if writer == "ingest":
        path = _ingest(session, cat, tmp_path, times, seg_gran, "spread")
    else:
        rows = str(tmp_path / "rows")
        session.createDataFrame(
            [(d.fromisoformat(t).replace(tzinfo=None), "a", 1)
             for t in times], "__time timestamp, typ string, v long") \
            .write.parquet(rows)
        path = str(tmp_path / "compacted")
        compact(session, rows, path, segment_granularity=seg_gran)
        cat.register("spread", path)
    assert sorted(f.split("=", 1)[1] for f in os.listdir(path)
                  if f.startswith("__bucket=")) == keys

    def ts(filt, gran, ivs):
        q = {"queryType": "timeseries", "dataSource": "spread",
             "granularity": gran, "filter": filt, "intervals": [ivs],
             "aggregations": [{"type": "count", "name": "c"}]}
        return [(r.asDict().get("__time"), r["c"])
                for r in translate(q, session, cat).collect()]

    assert ts(_TYPED_A, granularity, interval) == expected
    assert [t for t, _ in ts(None, granularity, interval)] == \
        [t for t, _ in expected]
    for t in times:
        day = d.fromisoformat(t[:10])
        ivs = f"{day:%Y-%m-%d}/{day + datetime.timedelta(days=1):%Y-%m-%d}"
        assert [c for _, c in ts(None, "all", ivs)] == \
            [sum(x[:10] == t[:10] for x in times)]


def test_partition_column_groups_as_a_dimension(spark, tmp_path):
    """groupBy and topN bucket time under their own internal name, so an
    ingested table's partition column groups as itself, at granularity all
    or per day."""
    cat = Catalog(spark)
    _ingest(spark, cat, tmp_path, _SPREAD[:2], "day", "spread")
    q = {"dataSource": "spread", "intervals": ["2024-01-01/2024-02-01"],
         "aggregations": [{"type": "count", "name": "c"}]}
    keys = ["2024-01-01T00", "2024-01-15T00"]
    for gran in ("all", "day"):
        out = translate({**q, "queryType": "groupBy", "granularity": gran,
                         "dimensions": ["__bucket"]}, spark, cat).collect()
        assert [(r["__bucket"], r["c"]) for r in out] == \
            [(k, 1) for k in keys]
    out = translate({**q, "queryType": "topN", "granularity": "day",
                     "dimension": "__bucket", "metric": "c",
                     "threshold": 5}, spark, cat).collect()
    assert [(r["__time"], r["__bucket"]) for r in out] == \
        [(d(2024, 1, 1), keys[0]), (d(2024, 1, 15), keys[1])]


def test_append_of_another_granularity_is_scanned(spark, tmp_path):
    """Day segments appended to a month-segmented table record no one
    granularity, so the month partition holding 01-15 is not pruned away
    by a day-floored bound."""
    cat = Catalog(spark)
    _ingest(spark, cat, tmp_path, _SPREAD[:2], "month", "spread")
    _ingest(spark, cat, tmp_path, _SPREAD[2:], "day", "spread", append=True)
    q = {"queryType": "timeseries", "dataSource": "spread",
         "granularity": "all", "intervals": ["2024-01-15/2024-01-21"],
         "aggregations": [{"type": "count", "name": "c"}]}
    assert [r["c"] for r in translate(q, spark, cat).collect()] == [2]


@pytest.mark.parametrize("dimensions", [["typ"], []],
                         ids=["declared", "schemaless"])
def test_segment_metadata_reports_data_columns(spark, tmp_path, dimensions):
    """segmentMetadata on an ingested table lists the data's columns: not
    the layout's partition key, and not the timestampSpec input column,
    which is stored as __time (Druid's dimension exclusions)."""
    src = str(tmp_path / "two.json")
    with open(src, "w") as f:
        for t in _SPREAD[:2]:
            f.write(json.dumps({"t": t, "typ": "a"}) + "\n")
    cat = Catalog(spark)
    ingest(spark, {
        "dataSchema": {
            "dataSource": "two",
            "timestampSpec": {"column": "t", "format": "iso"},
            "dimensionsSpec": {"dimensions": dimensions},
            "granularitySpec": {"segmentGranularity": "day"}},
        "ioConfig": {"inputSource": {"type": "local", "files": [src]},
                     "inputFormat": {"type": "json"}},
    }, cat, str(tmp_path / "seg"))
    md = translate({"queryType": "segmentMetadata", "dataSource": "two",
                    "merge": True}, spark, cat).collect()
    assert sorted(r["column"] for r in md) == ["__time", "typ"]
