"""API surface tests: native/SQL endpoints, result formats, timewarp."""

import json

import pytest


def test_native_timeseries_envelope(spark, foo_catalog):
    from incubator_druid_spark.api import native_query
    out = native_query({
        "queryType": "timeseries", "dataSource": "foo", "granularity": "year",
        "intervals": ["2000-01-01T00:00:00Z/2002-01-01T00:00:00Z"],
        "aggregations": [{"type": "longSum", "name": "cnt", "fieldName": "cnt"}],
    }, spark, foo_catalog)
    assert len(out) == 2
    assert out[0]["result"]["cnt"] == 3
    assert out[0]["timestamp"].startswith("2000-01-01")


def test_native_groupby_envelope(spark, foo_catalog):
    from incubator_druid_spark.api import native_query
    out = native_query({
        "queryType": "groupBy", "dataSource": "foo", "granularity": "all",
        "dimensions": ["dim1"],
        "aggregations": [{"type": "count", "name": "cnt"}],
    }, spark, foo_catalog)
    assert len(out) == 6
    assert all(o["version"] == "v1" and "dim1" in o["event"] for o in out)


def test_native_search_topn_bucket_envelopes(spark, foo_catalog):
    """TopNResultValue / SearchResultValue: one {timestamp, result:[...]}
    envelope PER time bucket."""
    from incubator_druid_spark.api import native_query
    out = native_query({
        "queryType": "topN", "dataSource": "foo", "granularity": "year",
        "intervals": ["2000-01-01T00:00:00Z/2002-01-01T00:00:00Z"],
        "dimension": "dim1", "metric": "cnt", "threshold": 2,
        "aggregations": [{"type": "longSum", "name": "cnt", "fieldName": "cnt"}],
    }, spark, foo_catalog)
    assert len(out) == 2                       # one envelope per year bucket
    assert all(len(o["result"]) == 2 for o in out)
    assert out[0]["timestamp"] != out[1]["timestamp"]

    s = native_query({
        "queryType": "search", "dataSource": "foo",
        "searchDimensions": ["dim1"],
        "query": {"type": "insensitive_contains", "value": "b"},
    }, spark, foo_catalog)
    assert len(s) == 1 and {"dimension": "dim1", "value": "abc", "count": 1} \
        in s[0]["result"]


def test_native_scan_envelope(spark, foo_catalog):
    from incubator_druid_spark.api import native_query
    out = native_query({
        "queryType": "scan", "dataSource": "foo", "columns": ["dim1", "m2"],
        "limit": 3, "order": "ascending",
    }, spark, foo_catalog)
    assert out[0]["columns"] == ["dim1", "m2"]
    assert len(out[0]["events"]) == 3


def test_lookup_admin_api(spark, foo_catalog):
    """/druid/v1/lookups admin surface: register over HTTP, list, fetch,
    then use the lookup from a native query (LookupCoordinatorResource)."""
    import http.server
    import threading
    import urllib.request

    from incubator_druid_spark.server import make_handler
    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), make_handler(spark, foo_catalog))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        req = urllib.request.Request(
            f"{base}/druid/v1/lookups/country_map",
            data=json.dumps({"abc": "Abyssinia", "def": "Denmark"}).encode(),
            headers={"Content-Type": "application/json"})
        assert urllib.request.urlopen(req).status == 202
        names = json.loads(urllib.request.urlopen(
            f"{base}/druid/v1/lookups").read())
        assert "country_map" in names
        m = json.loads(urllib.request.urlopen(
            f"{base}/druid/v1/lookups/country_map").read())
        assert m["def"] == "Denmark"

        q = {"queryType": "groupBy", "dataSource": "foo", "granularity": "all",
             "dimensions": [{"type": "extraction", "dimension": "dim1",
                             "outputName": "country",
                             "extractionFn": {"type": "registeredLookup",
                                              "lookup": "country_map"}}],
             "filter": {"type": "in", "dimension": "dim1",
                        "values": ["abc", "def"]},
             "aggregations": [{"type": "count", "name": "cnt"}]}
        req2 = urllib.request.Request(
            f"{base}/druid/v2", data=json.dumps(q).encode(),
            headers={"Content-Type": "application/json"})
        out = json.loads(urllib.request.urlopen(req2).read())
        got = {o["event"]["country"] for o in out}
        assert got == {"Abyssinia", "Denmark"}
    finally:
        srv.shutdown()


def test_sql_result_formats(spark, foo_catalog):
    from incubator_druid_spark.api import sql_query
    base = {"query": "SELECT dim1, m2 FROM foo WHERE m2 <= 2 ORDER BY m2"}
    obj = sql_query(base, spark, foo_catalog)
    assert obj == [{"dim1": "", "m2": 1.0}, {"dim1": "10.1", "m2": 2.0}]
    arr = sql_query({**base, "resultFormat": "array", "header": True},
                    spark, foo_catalog)
    assert arr[0] == ["dim1", "m2"] and arr[1] == ["", 1.0]
    csv_out = sql_query({**base, "resultFormat": "csv", "header": True},
                        spark, foo_catalog)
    assert csv_out.splitlines()[0] == "dim1,m2"
    lines = sql_query({**base, "resultFormat": "objectLines"},
                      spark, foo_catalog)
    assert json.loads(lines.splitlines()[0])["m2"] == 1.0


def test_sql_columns_colliding_by_case_stay_distinct(spark, foo_catalog):
    """The rendering projection addresses columns by name; names that
    differ only in case, or hold a dot, must still reach their own
    position."""
    from incubator_druid_spark.api import sql_query
    sql = ("SELECT dim1 AS k, m2 AS K, __time AS \"t.x\" FROM foo "
           "WHERE m2 = 1")
    arr = sql_query({"query": sql, "resultFormat": "array", "header": True},
                    spark, foo_catalog)
    assert arr[0] == ["k", "K", "t.x"]
    assert arr[1] == ["", 1.0, "2000-01-01T00:00:00.000Z"]
    obj = sql_query({"query": "SELECT __time AS \"t.x\" FROM foo "
                              "WHERE m2 = 1"}, spark, foo_catalog)
    assert obj == [{"t.x": "2000-01-01T00:00:00.000Z"}]


def test_sql_unknown_result_format_runs_no_job(spark, foo_catalog):
    """An unknown resultFormat is a 400 before the query runs, not after."""
    from incubator_druid_spark.api import sql_query
    sc = spark.sparkContext
    sc.setJobGroup("test-unknown-format", "unknown resultFormat")
    try:
        with pytest.raises(ValueError, match="unknown resultFormat"):
            sql_query({"query": "SELECT dim1, COUNT(*) AS n FROM foo "
                                "GROUP BY 1", "resultFormat": "xml"},
                      spark, foo_catalog)
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
    assert sc.statusTracker().getJobIdsForGroup("test-unknown-format") == []


def test_sql_parameters(spark, foo_catalog):
    from incubator_druid_spark.api import sql_query
    out = sql_query({"query": "SELECT count(*) AS c FROM foo WHERE dim1 = ?",
                     "parameters": [{"type": "VARCHAR", "value": "abc"}]},
                    spark, foo_catalog)
    assert out == [{"c": 1}]
    # quote-awareness: '?' inside a string literal is data, not a placeholder;
    # embedded quotes in a bound string are doubled, NULL binds as NULL
    out = sql_query({"query": "SELECT count(*) AS c FROM foo "
                              "WHERE dim1 <> '?' AND dim1 = ? AND ? IS NULL",
                     "parameters": [{"type": "VARCHAR", "value": "abc"},
                                    {"type": "VARCHAR", "value": None}]},
                    spark, foo_catalog)
    assert out == [{"c": 1}]


def test_sql_time_zone_context(spark, foo_catalog):
    """context.sqlTimeZone (PlannerContext CTX_SQL_TIME_ZONE): FLOOR-to-day
    buckets in the given zone. foo rows are at 2000-01-01..03 00:00 UTC, so
    in Asia/Tokyo (UTC+9) they stay on the same dates, but in
    America/Los_Angeles (UTC-8) they land on the previous day."""
    from incubator_druid_spark.api import sql_query
    q = {"query": "SELECT FLOOR(__time TO DAY) AS d, count(*) AS c FROM foo "
                  "GROUP BY 1 ORDER BY 1 LIMIT 1"}
    la = sql_query({**q, "context": {"sqlTimeZone": "America/Los_Angeles"}},
                   spark, foo_catalog)
    assert la[0]["d"].startswith("1999-12-31")
    utc = sql_query(q, spark, foo_catalog)
    assert utc[0]["d"].startswith("2000-01-01")
    # session timezone restored after the contextual query
    assert spark.conf.get("spark.sql.session.timeZone") != "America/Los_Angeles"


def test_timewarp_shifts_intervals(spark, foo_catalog):
    from incubator_druid_spark.api import timewarp
    week = 7 * 86_400_000
    q = {"queryType": "timeseries", "dataSource": "foo",
         "intervals": ["2001-01-01T00:00:00Z/2001-01-08T00:00:00Z"]}
    warped = timewarp(q, week, 0)
    # with origin=epoch the interval lands in the first week window,
    # preserving position-within-period (TimewarpOperator.computeOffset)
    s, _, e = warped["intervals"][0].partition("/")
    assert s.startswith("1970-01-0") and s < e


def test_result_cache_and_scheduling_context(spark, catalog):
    """useCache/populateCache are accepted and ignored (a Druid broker with
    its result cache off: every query reads the current tables);
    lane/priority → scheduler pool."""
    from incubator_druid_spark import translate

    q = {"queryType": "timeseries", "dataSource": "events", "granularity": "all",
         "aggregations": [{"type": "count", "name": "cnt"}],
         "context": {"useCache": True, "populateCache": True, "priority": 5}}
    first = translate(q, spark, catalog)
    n1 = first.first()["cnt"]
    assert not first.storageLevel.useMemory  # nothing persisted
    assert spark.sparkContext.getLocalProperty("spark.scheduler.pool") == "high"

    again = translate(dict(q, context={"useCache": True, "priority": -1}), spark, catalog)
    assert again is not first
    assert again.first()["cnt"] == n1
    assert spark.sparkContext.getLocalProperty("spark.scheduler.pool") == "low"
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)


def test_timeout_keeps_scheduler_pool(spark, foo_catalog, monkeypatch):
    """context.timeout collects on a worker thread; the lane's scheduler
    pool (a thread-local property set by translate) must reach it."""
    from incubator_druid_spark import api
    sc = spark.sparkContext
    pools = []
    collect = api._collect

    def recording(df, date_pattern):
        pools.append(sc.getLocalProperty("spark.scheduler.pool"))
        return collect(df, date_pattern)

    monkeypatch.setattr(api, "_collect", recording)
    out = api.native_query({
        "queryType": "timeseries", "dataSource": "foo", "granularity": "all",
        "aggregations": [{"type": "count", "name": "n"}],
        "context": {"lane": "high", "timeout": 60000}}, spark, foo_catalog)
    sc.setLocalProperty("spark.scheduler.pool", None)
    assert out[0]["result"] == {"n": 6}
    assert pools == ["high"]


def test_native_scan_is_one_spark_job(spark, tmp_path):
    """The result path collects with ONE Spark action: a 4-file scan runs
    one job, not one per partition."""
    from incubator_druid_spark import translate
    from incubator_druid_spark.api import native_query
    from incubator_druid_spark.catalog import Catalog
    path = str(tmp_path / "multi.parquet")
    spark.range(0, 40, 1, 4).selectExpr(
        "timestamp_seconds(946684800 + id * 3600) AS __time", "id AS v") \
        .write.parquet(path)
    cat = Catalog(spark)
    cat.register("multi", path)
    q = {"queryType": "scan", "dataSource": "multi", "columns": ["v"],
         "intervals": ["2000-01-01T00:00:00Z/2001-01-01T00:00:00Z"]}
    assert translate(q, spark, cat).rdd.getNumPartitions() >= 2
    sc = spark.sparkContext
    sc.setJobGroup("test-native-scan-one-job", "native scan")
    try:
        out = native_query(q, spark, cat)
    finally:
        sc.setJobGroup(None, None)
    assert sorted(e["v"] for e in out[0]["events"]) == list(range(40))
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
    assert len(sc.statusTracker().getJobIdsForGroup(
        "test-native-scan-one-job")) == 1


_CLICKS = {"type": "selector", "dimension": "event_type", "value": "click"}
_JAN = ["2024-01-01T00:00:00Z/2024-01-04T00:00:00Z"]
_COUNT = [{"type": "count", "name": "n"}]


@pytest.mark.parametrize("query", [
    {"queryType": "timeseries", "granularity": "hour", "filter": _CLICKS},
    {"queryType": "groupBy", "granularity": "day",
     "dimensions": ["event_type"]},
    {"queryType": "topN", "granularity": "all", "dimension": "event_type",
     "metric": "n", "threshold": 3},
    "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type "
    "ORDER BY 1",
], ids=["timeseries_zero_fill", "groupby_day", "topn", "sql_order_by"])
def test_one_row_group_query_is_one_spark_job(spark, catalog, query,
                                              request):
    """The testdata events table is one parquet row group, so it is read as
    one partition: the aggregate, the zero-fill join and the sort run in
    the scan's task, as one Spark job with no Exchange in the plan."""
    from incubator_druid_spark import translate
    from incubator_druid_spark.api import native_query, sql_query
    from incubator_druid_spark.sql.functions import druid_sql
    if isinstance(query, str):
        run = lambda: sql_query({"query": query}, spark, catalog)  # noqa: E731
        df = druid_sql(spark, query, catalog)
    else:
        query = {**query, "dataSource": "events", "intervals": _JAN,
                 "aggregations": _COUNT}
        run = lambda: native_query(query, spark, catalog)  # noqa: E731
        df = translate(query, spark, catalog)
    first = run()  # resolves the table and memoizes its timeline
    assert first
    sc = spark.sparkContext
    group = request.node.name
    sc.setJobGroup(group, "one-partition query")
    try:
        assert run() == first
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert "Exchange" not in \
        df._jdf.queryExecution().executedPlan().toString()


def test_native_instants_ignore_host_zone(spark, catalog):
    """Native results render in UTC whatever the server machine's zone
    (Granularities.nullToUtc): the day bucket 2024-01-01T00:00Z stays
    that instant under a Los Angeles host."""
    import os
    import time

    from incubator_druid_spark.api import native_query
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    try:
        out = native_query({
            "queryType": "timeseries", "dataSource": "events",
            "granularity": "day",
            "intervals": ["2024-01-01T00:00:00Z/2024-01-02T00:00:00Z"],
            "aggregations": [{"type": "count", "name": "n"}]},
            spark, catalog)
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()
    assert [o["timestamp"] for o in out] == ["2024-01-01T00:00:00.000Z"]


def test_granular_timeseries_null_context(spark, foo_catalog):
    """A JSON `"context": null` reads as no context, not a crash."""
    from incubator_druid_spark.api import native_query
    out = native_query({
        "queryType": "timeseries", "dataSource": "foo", "granularity": "hour",
        "intervals": ["2000-01-01T00:00:00Z/2000-01-01T03:00:00Z"],
        "filter": {"type": "selector", "dimension": "dim1", "value": ""},
        "aggregations": [{"type": "count", "name": "n"}],
        "context": None}, spark, foo_catalog)
    assert [(o["timestamp"], o["result"]["n"]) for o in out] == [
        ("2000-01-01T00:00:00.000Z", 1), ("2000-01-01T01:00:00.000Z", 0),
        ("2000-01-01T02:00:00.000Z", 0)]


def _post(spark, catalog, path, body):
    """(status, payload) of one POST, driven through the server's handler
    with no socket."""
    import io

    from incubator_druid_spark.server import make_handler
    data = json.dumps(body).encode()
    sent = {}

    class Fake(make_handler(spark, catalog)):
        def __init__(self):
            self.path = path
            self.headers = {"Content-Length": str(len(data))}
            self.rfile = io.BytesIO(data)

        def _send(self, code, payload, content_type=None):
            sent.update(code=code, payload=payload)

    Fake().do_POST()
    return sent["code"], sent["payload"]


def test_server_maps_query_timeout_to_504(monkeypatch):
    """QueryResource answers a QueryTimeoutException with HTTP 504."""
    from incubator_druid_spark import api

    def timed_out(body, spark, catalog):
        raise api.QueryTimeoutError("Query timeout of 1 ms exceeded")

    monkeypatch.setattr(api, "sql_query", timed_out)
    code, payload = _post(None, None, "/druid/v2/sql", {"query": "SELECT 1"})
    assert code == 504
    assert "timeout" in payload["error"]


def test_session_skips_call_site_capture(spark):
    """get_spark turns off PySpark's per-call call-site capture: with it
    on, every DataFrame/Column call pays extra py4j round trips."""
    from pyspark.errors.utils import is_debugging_enabled
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


@pytest.mark.parametrize("path, body", [
    ("/druid/v2/sql", {"query": "SELECT nope FROM events"}),
    ("/druid/v2", {"queryType": "timeseries", "dataSource": "nope",
                   "granularity": "all",
                   "aggregations": [{"type": "count", "name": "n"}]}),
])
def test_unknown_names_keep_error_envelope(spark, catalog, monkeypatch,
                                           path, body):
    """An unknown column or datasource is the client's error: 400, with the
    same error envelope with call-site capture off as with it on."""
    import pyspark.errors.utils as perr

    def send(debugging):
        monkeypatch.setattr(perr, "_enable_debugging_cache", debugging)
        code, payload = _post(spark, catalog, path, body)
        # the first line names the error; the rest prints the analyzed
        # plan, whose expression ids differ from run to run
        return code, list(payload), payload["error"].split("\n")[0]

    off = send(False)
    assert off == send(True)
    assert off[0] == 400 and "nope" in off[2]


def test_unparsable_sql_is_a_client_error(spark, catalog):
    """A Spark ParseException is an AnalysisException: 400, not 500."""
    code, payload = _post(spark, catalog, "/druid/v2/sql",
                          {"query": "SELECT value FROM events WHERE ("})
    assert code == 400 and "PARSE_SYNTAX_ERROR" in payload["error"]


def test_no_row_iterator_in_engine():
    """One result path: no engine module (the curation pipeline aside)
    streams rows back partition by partition."""
    import pathlib
    pkg = pathlib.Path(__file__).resolve().parents[1] / "incubator_druid_spark"
    hits = [str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
            if p.relative_to(pkg).parts[0] != "pipeline"
            and "toLocalIterator(" in p.read_text()]
    assert hits == []


def test_scan_compacted_list_format(spark, foo_catalog):
    """ScanQuery RESULT_FORMAT_COMPACTED_LIST (ScanQuery.java:53-55): events
    as value arrays in column order instead of maps."""
    from incubator_druid_spark.api import native_query
    q = {"queryType": "scan", "dataSource": "foo", "columns": ["dim1", "m2"],
         "resultFormat": "compactedList", "limit": 2, "order": "ascending"}
    out = native_query(q, spark, foo_catalog)
    assert out[0]["columns"] == ["dim1", "m2"]
    assert out[0]["events"] == [["", 1.0], ["10.1", 2.0]]


def test_query_timeout_cancels_job(spark, foo_catalog):
    """context.timeout (QueryContexts.java): a query over its budget raises
    QueryTimeoutError and the Spark job group is cancelled."""
    import time

    import pytest

    from incubator_druid_spark.api import QueryTimeoutError, sql_query

    # a cartesian blow-up that would take far longer than the budget.
    # Two constraints learned the hard way (r10):
    # - the cost must live in EXECUTION, not planning: a deep self-cartesian
    #   of the multi-file foo table multiplies SCAN PARTITIONS (6^12), and
    #   the driver materializes that CartesianPartition array BELOW the
    #   job-group cancellation surface — the abandoned worker thread kept
    #   allocating until ~13 GB of partition objects poisoned the suite's
    #   16g heap (observed twice);
    # - tasks must be SMALL: cancellation reliably stops *scheduling* more
    #   waves, but a codegen'd cartesian task ignores the interrupt until
    #   it finishes, so 8 multi-minute tasks starve the follow-up query.
    # range-side slicing gives 2000 × ~4M-row tasks (tens of ms each):
    # uncancelled completion is >>1.5 s, post-cancel drain is one wave.
    slow = {"query": """
        SELECT count(*) AS c
        FROM range(0, 8000000000, 1, 2000) r, foo a
        WHERE a.m1 + r.id > 0""",
            "context": {"timeout": 1500}}
    t0 = time.time()
    with pytest.raises(QueryTimeoutError):
        sql_query(slow, spark, foo_catalog)
    assert time.time() - t0 < 30  # cancelled, not run to completion

    # fast query under the same budget still succeeds
    ok = sql_query({"query": "SELECT count(*) AS c FROM foo",
                    "context": {"timeout": 60000}}, spark, foo_catalog)
    assert ok == [{"c": 6}]
