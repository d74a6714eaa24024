"""Round-6 regression tests for the round-5 ADVICE findings:

1. sqlCurrentTimestamp + sqlTimeZone: the pinned instant is rendered in the
   effective sql timezone (PlannerContext.java localNow converts now into
   the sql timezone), milliseconds preserved.
2. EARLIEST/LATEST + join-referenced lookup: the lookup's star-expansion
   schema stays the two-column (k, v) contract (LookupSchema.java).
3. GROUP BY <string literal> removal is literal-span protected.
4. Hour-granularity segments: sub-day query intervals prune at the segment
   HOUR span before collapsing coverage to days (timeline condensation).
5. JPEG _BitWriter accumulator stays bounded (linear encode).
"""

import datetime
import json
import os

from incubator_druid_spark import translate
from incubator_druid_spark.catalog import Catalog
from incubator_druid_spark.sources.ingest import ingest
from incubator_druid_spark.sql.functions import druid_sql


def _sql_ctx(spark, cat, sql, ctx):
    from incubator_druid_spark.api import sql_query
    out = sql_query({"query": sql, "resultFormat": "array", "context": ctx},
                    spark, cat)
    return [tuple(r) for r in out]


# -- 1. sqlCurrentTimestamp + sqlTimeZone ----------------------------------

def test_pinned_now_respects_sql_timezone(spark, full_catalog):
    # 2000-01-01T00:00Z == 1999-12-31 16:00:00 America/Los_Angeles; the
    # reference's localNow is the LA wall clock (PlannerContext.java)
    rows = _sql_ctx(spark, full_catalog,
                    "SELECT CAST(CURRENT_TIMESTAMP AS VARCHAR) AS s",
                    {"sqlCurrentTimestamp": "2000-01-01T00:00:00Z",
                     "sqlTimeZone": "America/Los_Angeles"})
    assert rows[0][0].startswith("1999-12-31 16:00:00")
    # CURRENT_DATE is the LA calendar date, not the UTC one
    rows = _sql_ctx(spark, full_catalog,
                    "SELECT CAST(CURRENT_DATE AS VARCHAR) AS d",
                    {"sqlCurrentTimestamp": "2000-01-01T00:00:00Z",
                     "sqlTimeZone": "America/Los_Angeles"})
    assert rows[0][0] == "1999-12-31"


def test_pinned_now_keeps_milliseconds(spark, full_catalog):
    rows = _sql_ctx(spark, full_catalog,
                    "SELECT CAST(CURRENT_TIMESTAMP AS VARCHAR) AS s",
                    {"sqlCurrentTimestamp": "2000-01-01T00:00:00.123Z"})
    assert rows[0][0].startswith("2000-01-01 00:00:00.123")


def test_pinned_now_utc_unchanged(spark, full_catalog):
    rows = _sql_ctx(spark, full_catalog,
                    "SELECT CAST(CURRENT_TIMESTAMP AS VARCHAR) AS s",
                    {"sqlCurrentTimestamp": "2000-01-01T00:00:00Z"})
    assert rows[0][0].startswith("2000-01-01 00:00:00")


# -- 2. EARLIEST + join-side lookup keeps the (k, v) schema -----------------

def test_earliest_with_joined_lookup_keeps_two_column_schema(
        spark, full_catalog):
    # EARLIEST targets foo; lookyloo is only a join side — its star
    # expansion must stay (k, v)
    df = druid_sql(
        spark,
        "SELECT lookyloo.* FROM foo "
        "JOIN lookup.lookyloo ON foo.dim1 = lookyloo.k "
        "WHERE (SELECT EARLIEST(m1) FROM foo) IS NOT NULL",
        full_catalog)
    assert df.columns == ["k", "v"]
    assert sorted(tuple(r) for r in df.collect()) == [
        ("abc", "xabc")]


# -- 3. GROUP BY literal removal is span-protected --------------------------

def test_group_by_literal_inside_string_literal_is_data(spark, full_catalog):
    df = druid_sql(
        spark,
        "SELECT 'x GROUP BY ''a'' )' AS s FROM foo LIMIT 1",
        full_catalog)
    assert [r["s"] for r in df.collect()] == ["x GROUP BY 'a' )"]
    # the real rewrite still fires outside literals
    df = druid_sql(
        spark,
        "SELECT COUNT(*) AS c FROM foo WHERE dim1 = 'nope' GROUP BY 'lit'",
        full_catalog)
    assert [r["c"] for r in df.collect()] == [0]


# -- 4. hour-granularity segments prune at the hour span --------------------

def _mk_hour_bucketed(spark, tmp_path):
    src = str(tmp_path / "rows.json")
    with open(src, "w") as f:
        for hour in (6, 7):
            f.write(json.dumps({
                "t": f"2024-01-01T0{hour}:30:00Z", "typ": "a", "v": 1})
                + "\n")
    spec = {
        "dataSchema": {
            "dataSource": "hourly",
            "timestampSpec": {"column": "t", "format": "iso"},
            "dimensionsSpec": {"dimensions": [
                "typ", {"type": "long", "name": "v"}]},
            "granularitySpec": {"segmentGranularity": "hour"},
        },
        "ioConfig": {"inputSource": {"type": "local", "files": [src]},
                     "inputFormat": {"type": "json"}},
    }
    cat = Catalog(spark)
    path = ingest(spark, spec, cat, str(tmp_path / "seg"))
    assert any("__bucket=2024-01-01T06" in d for d in os.listdir(path))
    return cat


def test_subday_interval_over_hour_segments_no_spurious_fill(
        spark, tmp_path):
    cat = _mk_hour_bucketed(spark, tmp_path)
    # interval 00:00-02:00 overlaps NO segment hour (segments at 06, 07) —
    # the reference's timeline condensation yields no buckets at all
    q = {"queryType": "timeseries", "dataSource": "hourly",
         "granularity": "hour",
         "intervals": ["2024-01-01T00:00:00Z/2024-01-01T02:00:00Z"],
         "filter": {"type": "selector", "dimension": "typ", "value": "zzz"},
         "aggregations": [{"type": "count", "name": "c"}]}
    assert translate(q, spark, cat).collect() == []
    # an interval that DOES cover the segment hours still zero-fills
    q["intervals"] = ["2024-01-01T06:00:00Z/2024-01-01T08:00:00Z"]
    got = [(r["__time"], r["c"]) for r in translate(q, spark, cat).collect()]
    d = datetime.datetime
    assert got == [(d(2024, 1, 1, 6), 0), (d(2024, 1, 1, 7), 0)]


def test_bucket_listing_rejects_join_frames(spark, tmp_path):
    from incubator_druid_spark import timeline as tl_mod
    cat = _mk_hour_bucketed(spark, tmp_path)
    src = cat.table("hourly")
    joined = src.join(src.select("typ").distinct(), on="typ")
    day, early = [(1704067200000, 1704153600000)], [(1704067200000,
                                                     1704074400000)]
    assert tl_mod.relation_files(joined) is None
    tl_mod._TIMELINES.clear()
    # a join frame's timeline comes from a scan of the query intervals
    # alone (00:00-02:00 holds no row) and is not memoized
    assert tl_mod.timeline(joined, day) == tl_mod.Timeline(
        ((1704067200000, 1704153600000),), None)
    assert tl_mod.timeline(joined, early).segments == ()
    assert tl_mod._TIMELINES == {}
    # the single-relation frame resolves from the hour listing and its
    # recorded hour granularity, and is memoized under its file list
    tl = tl_mod.timeline(src, early)
    assert tl.segments == ((1704088800000, 1704092400000),
                           (1704092400000, 1704096000000))
    assert list(tl_mod._TIMELINES.values()) == [tl]


# -- 5. JPEG BitWriter accumulator is bounded -------------------------------

def test_bitwriter_accumulator_bounded():
    from incubator_druid_spark.pipeline.jpeg import _BitWriter
    w = _BitWriter()
    for _ in range(10_000):
        w.put(0x2AA, 10)
    assert w.acc < (1 << 8) and w.n < 8
    assert len(w.out) >= 10_000 * 10 // 8
