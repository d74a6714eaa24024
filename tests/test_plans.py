"""Physical-plan shape assertions — the scale properties the engine's
translation must preserve (SURVEY §4): predicate pushdown into the parquet
scan, column pruning, broadcast joins for broadcastable rights, partial
(map-side) aggregation, and TakeOrderedAndProject for top-K.

These are regression guards: a translation change that silently breaks one of
these still returns correct rows at test scale but falls over at 100 TB.
"""

import re

import pytest
from pyspark.sql import functions as F

from incubator_druid_spark import translate
from tests.conftest import SF_DIR


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_scan(spark, catalog):
    q = {"queryType": "scan", "dataSource": "events",
         "columns": ["event_id", "value"],
         "filter": {"type": "selector", "dimension": "event_type",
                    "value": "click"}}
    plan = plan_of(translate(q, spark, catalog))
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters:.*EqualTo\(event_type,click\)", plan)


def test_column_pruning(spark, catalog):
    q = {"queryType": "scan", "dataSource": "events",
         "columns": ["event_id", "value"]}
    plan = plan_of(translate(q, spark, catalog))
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m and "props" not in m.group(1), \
        "scan must not read unprojected columns"


def test_interval_pushdown(spark, catalog):
    q = {"queryType": "timeseries", "dataSource": "lineitem",
         "granularity": "all",
         "intervals": ["1996-01-01T00:00:00Z/1997-01-01T00:00:00Z"],
         "aggregations": [{"type": "count", "name": "cnt"}]}
    plan = plan_of(translate(q, spark, catalog))
    # the __time predicate must land on the physical l_shipdate column
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_shipdate", plan)


def test_partial_aggregation(spark, catalog):
    q = {"queryType": "groupBy", "dataSource": "events", "granularity": "all",
         "dimensions": ["event_type"],
         "aggregations": [{"type": "doubleSum", "name": "t", "fieldName": "value"}]}
    plan = plan_of(translate(q, spark, catalog))
    # two HashAggregate nodes (partial + final), with one shuffle between
    # them over a source of more than one partition
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "Partial" in plan


def test_topn_is_take_ordered(spark, catalog):
    q = {"queryType": "topN", "dataSource": "events", "granularity": "all",
         "dimension": "event_type", "metric": "cnt", "threshold": 3,
         "aggregations": [{"type": "count", "name": "cnt"}]}
    plan = plan_of(translate(q, spark, catalog))
    assert "TakeOrderedAndProject" in plan, \
        "topN must plan as per-partition top-K merge, not a global sort"


def test_broadcast_join_for_global_table(spark, catalog):
    q = {"queryType": "groupBy", "granularity": "all",
         "dataSource": {"type": "join", "left": "lineitem",
                        "right": {"type": "globalTable", "name": "orders"},
                        "rightPrefix": "o.",
                        "condition": "l_orderkey == \"o.o_orderkey\"",
                        "joinType": "INNER"},
         "dimensions": [{"type": "default", "dimension": "o.o_orderpriority",
                         "outputName": "p"}],
         "aggregations": [{"type": "count", "name": "cnt"}]}
    plan = plan_of(translate(q, spark, catalog))
    assert "BroadcastHashJoin" in plan


def test_whole_stage_codegen_everywhere(spark, catalog):
    """The expression compiler must emit codegen-able builtins — a Python UDF
    anywhere in the hot path would show as BatchEvalPython."""
    q = {"queryType": "groupBy", "dataSource": "lineitem", "granularity": "all",
         "dimensions": ["l_returnflag"],
         "virtualColumns": [{"type": "expression", "name": "v",
                             "expression": "l_extendedprice * (1 - l_discount)"}],
         "filter": {"type": "expression",
                    "expression": "strlen(l_returnflag) == 1 && l_quantity > 10"},
         "aggregations": [{"type": "doubleSum", "name": "s", "fieldName": "v"}]}
    plan = plan_of(translate(q, spark, catalog))
    assert "BatchEvalPython" not in plan
    # AQE hides WholeStageCodegen markers pre-execution; HashAggregate over
    # plain builtin expressions is the codegen path
    assert "HashAggregate" in plan


_DAY_GROUPBY = {"queryType": "groupBy", "dataSource": "events",
                "granularity": "day", "dimensions": ["event_type"],
                "intervals": ["2024-01-01T00:00:00Z/2024-01-04T00:00:00Z"],
                "filter": {"type": "selector", "dimension": "event_type",
                           "value": "click"},
                "aggregations": [{"type": "count", "name": "n"}]}


@pytest.mark.parametrize("row_group_size, exchange", [
    (None, False), (500, True)])
def test_one_partition_read_only_for_one_row_group(spark, tmp_path,
                                                   row_group_size,
                                                   exchange):
    """A source of one parquet row group is read as one partition, so its
    groupBy plans no Exchange; the same rows written as two row groups keep
    the shuffled plan, and either way the filter reaches the scan."""
    import pyarrow.parquet as pq
    from incubator_druid_spark.catalog import Catalog
    path = str(tmp_path / "events.parquet")
    table = pq.read_table(f"{SF_DIR}/events.parquet")
    pq.write_table(table, path, row_group_size=row_group_size)
    assert pq.read_metadata(path).num_row_groups == (2 if exchange else 1)
    cat = Catalog(spark)
    cat.register("events", path, time_column="ts")
    plan = plan_of(translate(_DAY_GROUPBY, spark, cat))
    assert ("Exchange" in plan) == exchange
    assert ("Coalesce" in plan) != exchange
    assert re.search(r"PushedFilters:.*EqualTo\(event_type,click\)", plan)


def test_non_parquet_source_keeps_its_partitions(spark, tmp_path):
    """Only parquet footers tell how many row groups a source holds: a CSV
    table is read as Spark splits it, as before."""
    from incubator_druid_spark.catalog import Catalog
    path = str(tmp_path / "events.csv")
    spark.read.parquet(f"{SF_DIR}/events.parquet").coalesce(1) \
        .write.csv(path, header=True)
    cat = Catalog(spark)
    cat.register("events", path, fmt="csv", header="true")
    assert "Coalesce" not in plan_of(cat.table("events"))


def test_one_partition_side_of_a_join_is_shuffled(spark, catalog):
    """Joined with a multi-partition frame, the one-partition events side is
    hash-partitioned into the shuffle's partitions: the larger frame is not
    collapsed to one task."""
    events = catalog.table("events")
    ids = spark.range(0, 1000, 1, 4)
    plan = plan_of(events.join(ids, events["event_id"] == ids["id"]))
    widths = re.findall(r"hashpartitioning\([^()]*, (\d+)\)", plan)
    assert widths and all(int(n) > 1 for n in widths)


def test_scan_no_order_no_shuffle(spark, catalog):
    q = {"queryType": "scan", "dataSource": "events",
         "columns": ["event_id"], "order": "none"}
    plan = plan_of(translate(q, spark, catalog))
    assert "Exchange" not in plan, "orderless scan must not shuffle"


def test_partition_pruning_on_ingested_table(spark, tmp_path):
    """Ingested tables are partitioned by __bucket; an intervals filter must
    become PartitionFilters (directory pruning), not just a row predicate."""
    import json
    from incubator_druid_spark.catalog import Catalog
    from incubator_druid_spark.sources.ingest import ingest

    src = tmp_path / "d.json"
    src.write_text("\n".join(json.dumps(
        {"t": f"2024-01-{d:02d}T10:00:00Z", "v": d}) for d in range(1, 11)))
    spec = {"dataSchema": {"dataSource": "pruned",
                           "timestampSpec": {"column": "t", "format": "iso"},
                           "granularitySpec": {"segmentGranularity": "day"}},
            "ioConfig": {"inputSource": {"type": "local", "files": [str(src)]},
                         "inputFormat": {"type": "json"}}}
    cat = Catalog(spark)
    ingest(spark, spec, cat, str(tmp_path / "tbl"))

    q = {"queryType": "timeseries", "dataSource": "pruned", "granularity": "all",
         "intervals": ["2024-01-03T00:00:00Z/2024-01-05T00:00:00Z"],
         "aggregations": [{"type": "longSum", "name": "s", "fieldName": "v"}]}
    df = translate(q, spark, cat)
    plan = plan_of(df)
    assert "PartitionFilters" in plan and "__bucket" in plan
    assert df.first()["s"] == 3 + 4


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """hashed partitionsSpec → bucketBy layout; a self-join on the shard key
    must plan with NO Exchange on either side (co-located join)."""
    import json
    from incubator_druid_spark.catalog import Catalog
    from incubator_druid_spark.sources.ingest import ingest

    src = tmp_path / "b.json"
    src.write_text("\n".join(json.dumps(
        {"t": "2024-01-01T10:00:00Z", "k": i % 50, "v": i}) for i in range(1000)))
    spec = {"dataSchema": {"dataSource": "bucketed_t",
                           "timestampSpec": {"column": "t", "format": "iso"},
                           "granularitySpec": {"segmentGranularity": "day"}},
            "ioConfig": {"inputSource": {"type": "local", "files": [str(src)]},
                         "inputFormat": {"type": "json"}},
            "tuningConfig": {"partitionsSpec": {"type": "hashed",
                                                "partitionDimensions": ["k"],
                                                "numShards": 4}}}
    cat = Catalog(spark)
    ingest(spark, spec, cat, str(tmp_path / "wh"))
    t = cat.table("bucketed_t")
    joined = t.alias("a").join(t.alias("b"), "k")
    plan = plan_of(joined)
    assert "Exchange" not in plan, "bucketed equi-join must not shuffle"
    agg = t.groupBy("k").count()
    assert "Exchange" not in plan_of(agg), "bucketed groupBy must not shuffle"


def test_search_single_scan(spark, catalog):
    """search over N dimensions must stay ONE FileScan — the unpivot form;
    a per-dimension union re-scans the source N times at scale."""
    from incubator_druid_spark import translate

    q = {"queryType": "search", "dataSource": "events",
         "searchDimensions": ["event_type", "props"],
         "query": {"type": "insensitive_contains", "value": "c"}}
    # executedPlan (not formatted explain, which repeats each node in the
    # detail section) — one scan node exactly
    plan = translate(q, spark, catalog)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("FileScan parquet") == 1


def test_aqe_skew_join_split(spark):
    """Skew resilience (VERDICT r1 #9): a sort-merge join on a Zipf-skewed
    key must have its hot partition SPLIT by AQE's OptimizeSkewedJoin
    (`AQEShuffleRead ... skewed` in the final plan) instead of serializing
    the hot key through one straggler task.  Thresholds are scaled to test
    data size — at 100 TB the production defaults (256 MB skewed-partition
    threshold, 64 MB advisory target) trigger the same split."""
    import pyspark.sql.functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        # a hot partition can exceed twice the median only with enough
        # partitions: pinned, so the test does not follow the core count
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        # 90% of left rows share one key — the canonical Zipf hot key
        left = (spark.range(0, 400_000, 1, 8)
                .withColumn("k", F.when(F.col("id") % 10 < 9, F.lit(0))
                            .otherwise(F.col("id") % 1000))
                .withColumn("pay", F.concat(F.lit("x" * 60), F.col("id"))))
        right = (spark.range(0, 1000, 1, 4).withColumnRenamed("id", "k2")
                 .withColumn("rpay", F.concat(F.lit("y" * 20), F.col("k2"))))
        # hint("merge"): at bench/test scale the right side is broadcastable,
        # which sidesteps skew entirely; the 100 TB shape is large-large SMJ
        j = (left.hint("merge").join(right, left["k"] == right["k2"])
             .select("k", "pay", "rpay"))
        assert len(j.collect()) == 400_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skewed" in plan, \
            "AQE must split the skewed partition:\n" + plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_timeseries_zero_fill_no_filter_single_scan(spark, catalog):
    """Timeseries zero-fill reads segment coverage from the memoized
    timeline, so the physical plan scans the events table exactly once,
    filtered or not (a second scan would double the 100 TB read), with no
    semi-join against segment days and no range-partitioned sort."""
    from incubator_druid_spark import translate
    q = {"queryType": "timeseries", "dataSource": "events",
         "granularity": "day",
         "intervals": ["2024-01-01T00:00:00Z/2024-02-05T00:00:00Z"],
         "aggregations": [{"type": "count", "name": "cnt"}]}
    q2 = {**q, "filter": {"type": "selector", "dimension": "event_type",
                          "value": "click"}}
    for query in (q, q2, {**q2, "granularity": "hour"}):
        df = translate(query, spark, catalog)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("events.parquet") == 1, plan
        assert "LeftSemi" not in plan and "rangepartitioning" not in plan, \
            plan
    assert df.count() > 0


def _assert_local_scan(df):
    """Driver-built frames plan as a LocalTableScan, never as a pickled
    Python RDD (`Scan ExistingRDD`) that forks a Python worker per task."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


@pytest.mark.parametrize("granularity, filt", [
    ("day", {"type": "selector", "dimension": "event_type",
             "value": "click"}),
    ("hour", None),
])
def test_zero_fill_spine_is_local_relation(spark, catalog, granularity,
                                           filt):
    q = {"queryType": "timeseries", "dataSource": "events",
         "granularity": granularity, "filter": filt,
         "intervals": ["2024-01-01T00:00:00Z/2024-01-04T00:00:00Z"],
         "aggregations": [{"type": "count", "name": "cnt"}]}
    _assert_local_scan(translate(q, spark, catalog))


def test_lookup_frames_are_local_relations(spark, foo_catalog):
    from incubator_druid_spark.sql.functions import druid_sql
    q = {"queryType": "scan", "columns": ["k", "v"],
         "dataSource": {"type": "lookup", "lookup": "lookyloo"}}
    _assert_local_scan(translate(q, spark, foo_catalog))
    df = druid_sql(spark, "SELECT k, v FROM lookup.lookyloo", foo_catalog)
    _assert_local_scan(df)
    assert sorted(r["k"] for r in df.collect()) == \
        ["6", "a", "abc", "nosuchkey"]


def test_typed_inline_datasource_is_local_relation(spark, foo_catalog):
    q = {"queryType": "scan", "columns": ["k", "n"],
         "dataSource": {"type": "inline", "columnNames": ["k", "n"],
                        "columnTypes": ["STRING", "LONG"],
                        "rows": [["a", 1.0], ["b", None]]}}
    df = translate(q, spark, foo_catalog)
    _assert_local_scan(df)
    assert [(r["k"], r["n"]) for r in df.collect()] == [("a", 1), ("b", None)]


# createDataFrame sites kept beside session.local_frame, with the reason
_CREATE_DATAFRAME_ALLOWED = {
    "session.py": "local_frame itself",
    "plans/datasource.py": "an inline datasource without declared column "
                           "types needs Spark's type inference",
    "functions/lookups.py": "a lookup past the literal-map size uploads a "
                            "pandas frame and pins it with localCheckpoint",
}


def test_driver_built_frames_go_through_local_frame():
    """A list passed to createDataFrame plans a pickled Python RDD; every
    other driver-built frame on the query path must use local_frame."""
    from pathlib import Path
    root = Path(__file__).resolve().parents[1] / "incubator_druid_spark"
    found = {}
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        n = path.read_text().count("createDataFrame(")
        if n and not rel.startswith("pipeline/"):
            found[rel] = n
    assert found == {rel: 1 for rel in _CREATE_DATAFRAME_ALLOWED}, found
