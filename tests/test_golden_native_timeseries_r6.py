"""Round-6 TimeseriesQueryRunnerTest tranche — zero-filling over long
intervals, limits, __time-column aggregation, bound/lookup-extraction
filters, non-existent dimensions, filtered-agg edge cases, and cardinality
over complex columns (processing/src/test/java/org/apache/druid/query/
timeseries/TimeseriesQueryRunnerTest.java).

The two javascript-aggregator methods
(testTimeseriesWithMultiValueFilteringJavascriptAggregator and
testTimeseriesWithMultiValueFilteringJavascriptAggregatorAndAlsoRegularFilters)
are the
engine's documented deliberate refusal (operators/aggregations.py raises
with an expressionLambda rewrite hint) and are represented here by the
raise assertion inside test_ts_time_column."""

import pytest

from incubator_druid_spark import translate

F2T = ["2011-04-01T00:00:00.000Z/2011-04-03T00:00:00.000Z"]
FULL = ["1970-01-01T00:00:00.000Z/2020-01-01T00:00:00.000Z"]


def ts(spark, cat, **extra):
    q = {"queryType": "timeseries", "dataSource": "wiki",
         "granularity": "day", "intervals": F2T,
         "aggregations": [{"type": "count", "name": "rows"},
                          {"type": "doubleSum", "name": "index",
                           "fieldName": "index"}]}
    q.update(extra)
    return translate(q, spark, cat).collect()


def test_ts_query_zero_filling(spark, wiki_catalog):
    """testTimeseriesQueryZeroFilling — hour granularity over a 17-day
    interval zero-fills every empty hour between the two data days and
    condenses to the segment's exact extent (parquet footer statistics —
    timeline.py _footer_time_extent), so the final bucket is
    2011-04-15T00 like the reference, 25 rows total."""
    out = ts(spark, wiki_catalog,
             granularity="hour",
             intervals=["2011-04-14T00:00:00.000Z/2011-05-01T00:00:00.000Z"],
             filter={"type": "in", "dimension": "market",
                     "values": ["spot", "upfront", "total_market"]},
             aggregations=[{"type": "count", "name": "rows"},
                           {"type": "longSum", "name": "idx",
                            "fieldName": "index"}])
    got = [(str(r["__time"]), r["rows"], r["idx"]) for r in out]
    assert got[0] == ("2011-04-14 00:00:00", 13, 4907)
    assert got[-1] == ("2011-04-15 00:00:00", 13, 4717)
    assert len(got) == 25
    assert all(r == 0 and i is None for _, r, i in got[1:-1])


def test_ts_with_limit(spark, wiki_catalog):
    """testTimeseriesWithLimit — limit 10 of the full-interval day grain."""
    out = ts(spark, wiki_catalog, intervals=FULL, limit=10,
             aggregations=[{"type": "count", "name": "rows"}])
    assert len(out) == 10
    assert str(out[0]["__time"])[:10] == "2011-01-12"
    assert all(r["rows"] == 13 for r in out)


def test_ts_time_column(spark, wiki_catalog):
    """testTimeseriesWithTimeColumn — longSum over __time reads epoch
    MILLIS; the javascript ntimestamps aggregator raises (deliberate) and
    its documented rewrite (a filtered count over the same cut) returns
    the reference's 13.0."""
    out = ts(spark, wiki_catalog, granularity="all",
             aggregations=[
                 {"type": "count", "name": "rows"},
                 {"type": "longSum", "name": "sumtime",
                  "fieldName": "__time"},
                 {"type": "filtered",
                  "filter": {"type": "interval", "dimension": "__time",
                             "intervals": ["2011-04-01T12:00:00.001Z/"
                                           "2011-05-01T00:00:00.000Z"]},
                  "aggregator": {"type": "count", "name": "ntimestamps"}}])
    r = out[0]
    assert (r["rows"], r["sumtime"], r["ntimestamps"]) == \
        (26, 33843139200000, 13)
    with pytest.raises(Exception, match="(?i)javascript"):
        ts(spark, wiki_catalog, granularity="all",
           aggregations=[{"type": "javascript", "name": "nt",
                          "fieldNames": ["__time"],
                          "fnAggregate": "function(c,t){return c+1}",
                          "fnReset": "function(){return 0}",
                          "fnCombine": "function(a,b){return a+b}"}])


def test_ts_bound_filter_and(spark, wiki_catalog):
    """testTimeseriesWithBoundFilter1 — three ANDed lexicographic bounds
    that intersect to exactly market='spot'."""
    out = ts(spark, wiki_catalog,
             filter={"type": "and", "fields": [
                 {"type": "bound", "dimension": "market", "lower": "spa",
                  "upper": "spot", "lowerStrict": True,
                  "ordering": "lexicographic"},
                 {"type": "bound", "dimension": "market", "lower": "spot",
                  "upper": "spotify", "upperStrict": True,
                  "ordering": "lexicographic"},
                 {"type": "bound", "dimension": "market", "lower": "SPOT",
                  "upper": "spot", "ordering": "lexicographic"}]},
             aggregations=[{"type": "count", "name": "rows"},
                           {"type": "longSum", "name": "index",
                            "fieldName": "index"}])
    got = [(r["rows"], r["index"]) for r in out]
    assert got == [(9, 1102), (9, 1120)]


def test_ts_non_existent_filter_value(spark, wiki_catalog):
    """testTimeseriesWithNonExistentFilter — market='billy' matches
    nothing; both days zero-fill."""
    out = ts(spark, wiki_catalog,
             filter={"type": "selector", "dimension": "market",
                     "value": "billy"})
    assert [(r["rows"], r["index"]) for r in out] == [(0, None), (0, None)]


def test_ts_filter_on_non_existent_dimension(spark, wiki_catalog):
    """testTimeseriesWithFilterOnNonExistentDimension — an absent column
    reads NULL, matching nothing for 'billy'."""
    out = ts(spark, wiki_catalog,
             filter={"type": "selector", "dimension": "bobby",
                     "value": "billy"})
    assert [(r["rows"], r["index"]) for r in out] == [(0, None), (0, None)]


def test_ts_null_filter_on_non_existent_dimension(spark, wiki_catalog):
    """testTimeseriesWithNullFilterOnNonExistentDimension — selector
    bobby=null matches EVERY row (the absent column is null)."""
    out = ts(spark, wiki_catalog,
             filter={"type": "selector", "dimension": "bobby",
                     "value": None})
    assert [r["rows"] for r in out] == [13, 13]
    assert out[0]["index"] == pytest.approx(6626.151596069336, rel=1e-6)
    assert out[1]["index"] == pytest.approx(5833.2095947265625, rel=1e-6)


def test_ts_filtered_agg_value_not_present(spark, wiki_catalog):
    """testTimeSeriesWithFilteredAggValueNotPresent — a filtered count
    whose selector matches nothing yields 0, not null."""
    out = ts(spark, wiki_catalog, granularity="all",
             aggregations=[
                 {"type": "filtered",
                  "filter": {"type": "not", "field": {
                      "type": "selector", "dimension": "market",
                      "value": "LolLol"}},
                  "aggregator": {"type": "count", "name": "filteredAgg"}},
                 {"type": "count", "name": "rows"},
                 {"type": "doubleSum", "name": "index",
                  "fieldName": "index"}])
    r = out[0]
    assert (r["filteredAgg"], r["rows"]) == (26, 26)
    assert r["index"] == pytest.approx(12459.361190795898)


def test_ts_filtered_agg_and_expression_filtered_agg(spark, wiki_catalog):
    """testTimeSeriesWithFilteredAggAndExpressionFilteredAgg — a filtered
    count and long/double/float sums over if(market=='spot',1,0) virtual
    expressions all agree at 18."""
    out = ts(spark, wiki_catalog, granularity="all",
             virtualColumns=[{"type": "expression", "name": "spotness",
                              "expression": "if (market == 'spot', 1, 0)"}],
             aggregations=[
                 {"type": "filtered",
                  "filter": {"type": "selector", "dimension": "market",
                             "value": "spot"},
                  "aggregator": {"type": "count", "name": "filteredAgg"}},
                 {"type": "count", "name": "rows"},
                 {"type": "longSum", "name": "altLongCount",
                  "fieldName": "spotness"},
                 {"type": "doubleSum", "name": "altDoubleCount",
                  "fieldName": "spotness"},
                 {"type": "floatSum", "name": "altFloatCount",
                  "fieldName": "spotness"}])
    r = out[0]
    assert (r["filteredAgg"], r["rows"], r["altLongCount"],
            r["altDoubleCount"], r["altFloatCount"]) == (18, 26, 18, 18.0, 18.0)


def test_ts_selection_filter_lookup_extraction_fn(spark, wiki_catalog):
    """testTimeSeriesWithSelectionFilterLookupExtractionFn — selector
    'upfront' behind a {spot→upfront} lookup with retainMissingValue
    matches both spot and upfront rows."""
    out = ts(spark, wiki_catalog,
             filter={"type": "selector", "dimension": "market",
                     "value": "upfront",
                     "extractionFn": {"type": "lookup",
                                      "lookup": {"type": "map",
                                                 "map": {"spot": "upfront"}},
                                      "retainMissingValue": True}},
             aggregations=[{"type": "count", "name": "rows"},
                           {"type": "longSum", "name": "index",
                            "fieldName": "index"}])
    got = [(r["rows"], r["index"]) for r in out]
    assert got == [(11, 3783), (11, 3313)]


def test_ts_cardinality_agg_on_complex_column(spark, wiki_rollup_catalog):
    """testTimeseriesCardinalityAggOnHyperUnique — cardinality over a
    COMPLEX (binary sketch) column returns 0.0 (no dimension selector);
    hyperUnique over the same column merges the stored state (exact
    upgrade: 9 distinct qualities vs the reference's 9.0198 estimate)."""
    spark_, cat = spark, wiki_rollup_catalog
    out = translate(
        {"queryType": "timeseries", "dataSource": "wiki_rollup",
         "granularity": "all", "intervals": F2T,
         "aggregations": [
             {"type": "count", "name": "rows"},
             {"type": "cardinality", "name": "cardinality",
              "fields": ["quality_uniques"], "byRow": False},
             {"type": "hyperUnique", "name": "hyperUnique",
              "fieldName": "quality_uniques"}]},
        spark_, cat).collect()
    r = out[0]
    assert r["cardinality"] == 0.0
    assert round(r["hyperUnique"]) == 9


def test_ts_cardinality_agg_on_multi_string_expression(spark, wiki_catalog):
    """testTimeseriesCardinalityAggOnMultiStringExpression — cardinality
    over concat(quality, market) (exact upgrade: 13 distinct pairs vs the
    reference's 13.04 estimate)."""
    out = ts(spark, wiki_catalog, granularity="all",
             virtualColumns=[{"type": "expression", "name": "v0",
                              "expression": "concat(quality,market)"}],
             aggregations=[{"type": "count", "name": "rows"},
                           {"type": "cardinality", "name": "numVals",
                            "fields": ["v0"], "byRow": False}])
    r = out[0]
    assert (r["rows"], round(r["numVals"])) == (26, 13)


def test_ts_expression_aggregator_too_big(spark, wiki_catalog):
    """testTimeseriesWithExpressionAggregatorTooBig — an expressionLambda
    whose array accumulator outgrows maxSizeBytes=10 fails cleanly (the
    reference raises 'Unable to serialize [STRING_ARRAY]' from
    ExprEval.estimateAndCheckMaxBytes; this engine's bound raises its
    maxSizeBytes message instead of ballooning executor memory)."""
    q = {"queryType": "timeseries", "dataSource": "wiki",
         "granularity": "day", "intervals": F2T,
         "aggregations": [{
             "type": "expressionLambda", "name": "array_agg_distinct",
             "fields": ["market"], "accumulatorIdentifier": "acc",
             "initialValue": "[]",
             "fold": "array_set_add(acc, market)",
             "combine": "array_set_add_all(acc, array_agg_distinct)",
             "maxSizeBytes": 10}]}
    with pytest.raises(Exception, match="maxSizeBytes"):
        translate(q, spark, wiki_catalog).collect()
