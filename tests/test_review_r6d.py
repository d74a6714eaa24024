"""Regression tests for the fifth round-6 self-review batch (aggregation
internals):

1. FILTERED first/last/any aggregate only MATCHING rows (FilteredAggregator)
   — the ordering/pick must not select a globally-first row whose value the
   filter masked to null.
2. Quantile-family post-aggs over a FILTERED quantilesDoublesSketch (and
   nested inside arithmetic post-aggs) compute the requested read, not a
   silent p50 fallback.
3. cardinality over a multi-value dimension: byValue hashes EACH element
   (union of value sets), byRow hashes the SORTED tuple
   (StringCardinalityAggregatorColumnSelectorStrategy).
4. grouping aggregator: subset/reordered groupings work under subtotalsSpec
   with granular time keys; a plain groupBy returns constant 0
   (keyDimensions=null → all included).
5. rewrite_sketch_query keeps a consumed sketch agg that having/limitSpec
   still references.
6. fixedBucketsHistogram outlierHandlingMode=clip counts outliers in the
   edge buckets.
7. histogram finalizes to Histogram.asVisual() {breaks, counts, quantiles}.
8. SQL lines result formats end with the blank-line terminator; object
   formats honor header.
"""

import datetime

import pytest

from pyspark.sql import functions as F

from incubator_druid_spark import translate
from incubator_druid_spark.catalog import Catalog


@pytest.fixture(scope="module")
def mm_catalog(spark, tmp_path_factory):
    dt = datetime.datetime
    rows = [
        # (time, status, price, tags)
        (dt(2024, 1, 1, 0), "no", 10.0, ["a", "b"]),
        (dt(2024, 1, 1, 1), "ok", 20.0, ["b", "c"]),
        (dt(2024, 1, 1, 2), "ok", 30.0, ["b", "a"]),
        (dt(2024, 1, 1, 3), "no", 40.0, []),
    ]
    df = spark.createDataFrame(
        rows, "__time timestamp, status string, price double, "
              "tags array<string>")
    base = tmp_path_factory.mktemp("r6d")
    df.write.mode("overwrite").parquet(str(base / "t"))
    cat = Catalog(spark)
    cat.register("t", str(base / "t"))
    return cat


def _one(spark, cat, aggs, posts=None, dims=None, having=None, limit=None):
    q = {"queryType": "groupBy", "dataSource": "t", "granularity": "all",
         "intervals": [], "dimensions": dims or [], "aggregations": aggs}
    if posts:
        q["postAggregations"] = posts
    if having:
        q["having"] = having
    if limit:
        q["limitSpec"] = limit
    return translate(q, spark, cat).collect()


def test_filtered_first_last_any_pick_matching_rows(spark, mm_catalog):
    filt = {"type": "selector", "dimension": "status", "value": "ok"}
    rows = _one(spark, mm_catalog, [
        {"type": "filtered", "name": "f", "filter": filt,
         "aggregator": {"type": "doubleFirst", "name": "f",
                        "fieldName": "price"}},
        {"type": "filtered", "name": "l", "filter": filt,
         "aggregator": {"type": "doubleLast", "name": "l",
                        "fieldName": "price"}},
        {"type": "filtered", "name": "a", "filter": filt,
         "aggregator": {"type": "doubleAny", "name": "a",
                        "fieldName": "price"}}])
    r = rows[0]
    assert r["f"] == 20.0   # earliest MATCHING row, not the masked-null 00:00
    assert r["l"] == 30.0
    assert r["a"] in (20.0, 30.0)  # some matching row


def test_filtered_quantile_post_agg_not_p50(spark, mm_catalog):
    filt = {"type": "selector", "dimension": "status", "value": "ok"}
    rows = _one(spark, mm_catalog, [
        {"type": "filtered", "name": "qs", "filter": filt,
         "aggregator": {"type": "quantilesDoublesSketch", "name": "qs",
                        "fieldName": "price"}}],
        posts=[{"type": "quantilesDoublesSketchToQuantile", "name": "p99",
                "fraction": 0.99,
                "field": {"type": "fieldAccess", "fieldName": "qs"}},
               {"type": "quantilesDoublesSketchToQuantile", "name": "p01",
                "fraction": 0.01,
                "field": {"type": "fieldAccess", "fieldName": "qs"}}])
    r = rows[0]
    assert r["p99"] == 30.0 and r["p01"] == 20.0  # only 'ok' rows, not p50


def test_nested_quantile_in_arithmetic_post_agg(spark, mm_catalog):
    rows = _one(spark, mm_catalog, [
        {"type": "quantilesDoublesSketch", "name": "qs",
         "fieldName": "price"}],
        posts=[{"type": "arithmetic", "name": "iqr", "fn": "-",
                "fields": [
                    {"type": "quantilesDoublesSketchToQuantile",
                     "name": "hi", "fraction": 1.0,
                     "field": {"type": "fieldAccess", "fieldName": "qs"}},
                    {"type": "quantilesDoublesSketchToQuantile",
                     "name": "lo", "fraction": 0.0,
                     "field": {"type": "fieldAccess", "fieldName": "qs"}}]}])
    assert rows[0]["iqr"] == 30.0  # max 40 - min 10, NOT p50 - p50 == 0


def test_cardinality_mvd_by_value_and_by_row(spark, mm_catalog):
    rows = _one(spark, mm_catalog, [
        {"type": "cardinality", "name": "cv", "fields": ["tags"],
         "byRow": False},
        {"type": "cardinality", "name": "cr", "fields": ["tags"],
         "byRow": True}])
    r = rows[0]
    assert r["cv"] == 3.0  # union of elements {a, b, c}
    # sorted tuples: [a,b] and [b,a] are ONE tuple; [] adds nothing → 2
    assert r["cr"] == 2.0


def test_grouping_agg_subtotals_and_plain(spark, mm_catalog):
    # subset groupings under a granular (time-keyed) subtotals query
    q = {"queryType": "groupBy", "dataSource": "t", "granularity": "day",
         "intervals": [], "dimensions": ["status"],
         "subtotalsSpec": [["status"], []],
         "aggregations": [{"type": "count", "name": "n"},
                          {"type": "grouping", "name": "g",
                           "groupings": ["status"]}]}
    rows = translate(q, spark, mm_catalog).collect()
    by_status = {r["status"]: r["g"] for r in rows}
    assert by_status["ok"] == 0 and by_status[None] == 1
    # plain groupBy: keyDimensions=null → all included → constant 0
    rows = _one(spark, mm_catalog,
                [{"type": "count", "name": "n"},
                 {"type": "grouping", "name": "g", "groupings": ["status"]}],
                dims=["status"])
    assert all(r["g"] == 0 for r in rows)


def test_consumed_sketch_agg_kept_for_limit_spec(spark, mm_catalog):
    rows = _one(spark, mm_catalog, [
        {"type": "quantilesDoublesSketch", "name": "qs",
         "fieldName": "price"}],
        posts=[{"type": "quantilesDoublesSketchToQuantile", "name": "med",
                "fraction": 0.5,
                "field": {"type": "fieldAccess", "fieldName": "qs"}}],
        dims=["status"],
        limit={"type": "default", "limit": 10, "columns": ["qs"]})
    assert len(rows) == 2  # no unresolved-column crash


def test_fixed_buckets_histogram_clip(spark, mm_catalog):
    rows = _one(spark, mm_catalog, [
        {"type": "fixedBucketsHistogram", "name": "h", "fieldName": "price",
         "lowerLimit": 15, "upperLimit": 35, "numBuckets": 2,
         "outlierHandlingMode": "clip"}])
    # 10 clips into bucket 0 with 20; 40 clips into bucket 1 with 30
    assert list(rows[0]["h"]["histogram"]) == [2, 2]
    rows = _one(spark, mm_catalog, [
        {"type": "fixedBucketsHistogram", "name": "h", "fieldName": "price",
         "lowerLimit": 15, "upperLimit": 35, "numBuckets": 2}])
    assert list(rows[0]["h"]["histogram"]) == [1, 1]  # default ignore drops 10 and 40


def test_histogram_as_visual(spark, mm_catalog):
    rows = _one(spark, mm_catalog, [
        {"type": "histogram", "name": "h", "fieldName": "price",
         "breaks": [15, 25, 35]}])
    h = rows[0]["h"]
    assert list(h["breaks"]) == [15.0, 25.0, 35.0]
    assert list(h["counts"]) == [1.0, 1.0]       # inner bins: {20}, {30}
    assert list(h["quantiles"]) == [10.0, 40.0]  # data min/max incl outliers


def test_sql_lines_formats_blank_line_terminated(spark, mm_catalog):
    from incubator_druid_spark.api import sql_query
    body = {"query": "SELECT status, count(*) AS n FROM t GROUP BY status "
                     "ORDER BY status",
            "resultFormat": "objectLines"}
    out = sql_query(dict(body), spark, mm_catalog)
    assert out.endswith("\n\n") and not out.endswith("\n\n\n")
    out = sql_query(dict(body, resultFormat="arrayLines", header=True),
                    spark, mm_catalog)
    lines = out.split("\n")
    assert lines[0] == '["status", "n"]' and out.endswith("\n\n")
    out = sql_query(dict(body, resultFormat="csv"), spark, mm_catalog)
    assert "\r\n" not in out and out.endswith("\n\n")
    out = sql_query(dict(body, resultFormat="object", header=True),
                    spark, mm_catalog)
    assert out[0] == {"status": None, "n": None}
