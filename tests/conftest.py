"""Shared fixtures: one SparkSession per test run + the reference's golden
test datasources (FIXTURES.md / CalciteTests.java:379-428) rebuilt as
DataFrames — `foo` (with MVD columns), the `lookyloo` lookup, and a catalog
over the driver-generated sf0.001 parquet."""

from __future__ import annotations

import datetime
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from incubator_druid_spark import get_spark
    # periodic full GC so ContextCleaner's weak-ref queue actually drains
    # over a multi-hundred-test session: with a 16g heap old-gen GCs are
    # rare, checkpoint/broadcast/shuffle state accumulates between them,
    # and one observed run OOM'd the cleaner thread itself (r10)
    s = get_spark("tests",
                  extra_conf={"spark.cleaner.periodicGC.interval": "2min"})
    s.sparkContext.setLogLevel("ERROR")
    # SPARK_GRAFT_ANSI=1 runs the whole suite under a HOSTILE host session
    # (spark.sql.ansi.enabled=true, the PySpark-4 default).  The engine's
    # results must be identical in both modes — every semantics-bearing
    # cast/division/parse goes through try_* routes, so this flip must not
    # change a single assertion.
    if os.environ.get("SPARK_GRAFT_ANSI") == "1":
        s.conf.set("spark.sql.ansi.enabled", "true")
    yield s


@pytest.fixture(scope="session")
def catalog(spark):
    from incubator_druid_spark.catalog import load_catalog
    return load_catalog(spark, SF_DIR)


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


@pytest.fixture(scope="session")
def foo(spark):
    """The reference's primary golden-test datasource
    (sql/.../util/CalciteTests.java:379-428 via FIXTURES.md)."""
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("__time", T.TimestampType()),
        T.StructField("dim1", T.StringType()),
        T.StructField("dim2", T.ArrayType(T.StringType())),
        T.StructField("dim3", T.ArrayType(T.StringType())),
        T.StructField("cnt", T.LongType()),
        T.StructField("m1", T.FloatType()),
        T.StructField("m2", T.DoubleType()),
    ])
    rows = [
        (_ts("2000-01-01"), "", ["a"], ["a", "b"], 1, 1.0, 1.0),
        (_ts("2000-01-02"), "10.1", [], ["b", "c"], 1, 2.0, 2.0),
        (_ts("2000-01-03"), "2", [""], ["d"], 1, 3.0, 3.0),
        (_ts("2001-01-01"), "1", ["a"], [""], 1, 4.0, 4.0),
        (_ts("2001-01-02"), "def", ["abc"], [], 1, 5.0, 5.0),
        (_ts("2001-01-03"), "abc", None, None, 1, 6.0, 6.0),
    ]
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="session")
def numfoo(spark):
    """`numfoo` — foo plus typed numeric dimensions with nulls in the last
    three rows (CalciteTests.java:492-566 RAW_ROWS1_WITH_NUMERIC_DIMS via
    FIXTURES.md §2); exercises SQL-compatible null-vs-0 semantics."""
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("__time", T.TimestampType()),
        T.StructField("dim1", T.StringType()),
        T.StructField("dim2", T.ArrayType(T.StringType())),
        T.StructField("dim3", T.ArrayType(T.StringType())),
        T.StructField("dim4", T.StringType()),
        T.StructField("dim5", T.StringType()),
        T.StructField("d1", T.DoubleType()),
        T.StructField("d2", T.DoubleType()),
        T.StructField("f1", T.FloatType()),
        T.StructField("f2", T.FloatType()),
        T.StructField("l1", T.LongType()),
        T.StructField("l2", T.LongType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("m1", T.FloatType()),
        T.StructField("m2", T.DoubleType()),
    ])
    rows_ = [
        (_ts("2000-01-01"), "", ["a"], ["a", "b"], "a", "aa",
         1.0, None, 1.0, None, 7, None, 1, 1.0, 1.0),
        (_ts("2000-01-02"), "10.1", [], ["b", "c"], "a", "ab",
         1.7, 1.7, 0.1, 0.1, 325323, 325323, 1, 2.0, 2.0),
        (_ts("2000-01-03"), "2", [""], ["d"], "a", "ba",
         0.0, 0.0, 0.0, 0.0, 0, 0, 1, 3.0, 3.0),
        (_ts("2001-01-01"), "1", ["a"], [""], "b", "ad",
         None, None, None, None, None, None, 1, 4.0, 4.0),
        (_ts("2001-01-02"), "def", ["abc"], [], "b", "aa",
         None, None, None, None, None, None, 1, 5.0, 5.0),
        (_ts("2001-01-03"), "abc", None, None, "b", "ab",
         None, None, None, None, None, None, 1, 6.0, 6.0),
    ]
    return spark.createDataFrame(rows_, schema)


@pytest.fixture(scope="session")
def foo2(spark):
    """`foo2` — the reference's second datasource for join/union tests
    (CalciteTests.java:569-592 RAW_ROWS2: unicode dim1 values, language
    dim2, long dim3)."""
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("__time", T.TimestampType()),
        T.StructField("dim1", T.StringType()),
        T.StructField("dim2", T.StringType()),
        T.StructField("dim3", T.LongType()),
        T.StructField("m1", T.DoubleType()),
    ])
    rows_ = [
        (_ts("2000-01-01"), "דרואיד", "he", 10, 1.0),
        (_ts("2000-01-01"), "druid", "en", 11, 1.0),
        (_ts("2000-01-01"), "друид", "ru", 12, 1.0),
    ]
    return spark.createDataFrame(rows_, schema)


@pytest.fixture(scope="session")
def two_table_catalog(spark, foo, foo2, tmp_path_factory):
    """Catalog with both foo and foo2 for cross-datasource join/union tests."""
    from incubator_druid_spark.catalog import Catalog
    base = tmp_path_factory.mktemp("two_ds")
    foo.write.mode("overwrite").parquet(str(base / "foo.parquet"))
    foo2.write.mode("overwrite").parquet(str(base / "foo2.parquet"))
    cat = Catalog(spark)
    cat.register("foo", str(base / "foo.parquet"))
    cat.register("foo2", str(base / "foo2.parquet"))
    return cat


@pytest.fixture(scope="session")
def numfoo_catalog(spark, numfoo, tmp_path_factory):
    """Catalog with `numfoo` registered as a parquet datasource."""
    from incubator_druid_spark.catalog import Catalog
    path = str(tmp_path_factory.mktemp("numfoo_ds") / "numfoo.parquet")
    numfoo.write.mode("overwrite").parquet(path)
    cat = Catalog(spark)
    cat.register("numfoo", path)
    return cat


@pytest.fixture(scope="session")
def visits(spark):
    """`visits` — the reference's user-visit datasource for correlated
    subquery tests (CalciteTests.java:661-687 USER_VISIT_ROWS)."""
    rows_ = [
        ("2021-01-01T01:00:00", "alice", "canada", "A"),
        ("2021-01-01T02:00:00", "alice", "canada", "B"),
        ("2021-01-01T03:00:00", "bob", "canada", "A"),
        ("2021-01-01T04:00:00", "alice", "India", "Y"),
        ("2021-01-02T01:00:00", "alice", "canada", "A"),
        ("2021-01-02T02:00:00", "bob", "canada", "A"),
        ("2021-01-02T03:00:00", "foo", "canada", "B"),
        ("2021-01-02T04:00:00", "bar", "canada", "B"),
        ("2021-01-02T05:00:00", "alice", "India", "X"),
        ("2021-01-02T06:00:00", "bob", "India", "X"),
        ("2021-01-02T07:00:00", "foo", "India", "X"),
        ("2021-01-03T01:00:00", "foo", "USA", "M"),
    ]
    return spark.createDataFrame(
        [(_ts(t), u, co, ci) for t, u, co, ci in rows_],
        "`__time` timestamp, user string, country string, city string")


@pytest.fixture(scope="session")
def visits_catalog(spark, visits, tmp_path_factory):
    from incubator_druid_spark.catalog import Catalog
    path = str(tmp_path_factory.mktemp("visits_ds") / "visits.parquet")
    visits.write.mode("overwrite").parquet(path)
    cat = Catalog(spark)
    cat.register("visits", path)
    return cat


@pytest.fixture(scope="session")
def full_catalog(spark, foo, numfoo, tmp_path_factory):
    """foo + numfoo + the lookyloo lookup in one catalog — the join golden
    cases reference all three (CalciteQueryTest join tranche)."""
    from incubator_druid_spark.catalog import Catalog
    from incubator_druid_spark.functions.lookups import register_lookup
    base = tmp_path_factory.mktemp("full_ds")
    foo.write.mode("overwrite").parquet(str(base / "foo.parquet"))
    numfoo.write.mode("overwrite").parquet(str(base / "numfoo.parquet"))
    cat = Catalog(spark)
    cat.register("foo", str(base / "foo.parquet"))
    cat.register("numfoo", str(base / "numfoo.parquet"))
    register_lookup("lookyloo", {"a": "xa", "abc": "xabc",
                                 "nosuchkey": "mysteryvalue", "6": "x6"})
    cat.register_lookup("lookyloo", {"a": "xa", "abc": "xabc",
                                     "nosuchkey": "mysteryvalue", "6": "x6"})
    return cat


@pytest.fixture(scope="session")
def foo_catalog(spark, foo, tmp_path_factory):
    """Catalog with `foo` registered as a parquet datasource + lookyloo."""
    from incubator_druid_spark.catalog import Catalog
    from incubator_druid_spark.functions.lookups import register_lookup
    path = str(tmp_path_factory.mktemp("foo_ds") / "foo.parquet")
    foo.write.mode("overwrite").parquet(path)
    cat = Catalog(spark)
    cat.register("foo", path)
    # lookyloo lookup (CalciteTests.java:242-252)
    register_lookup("lookyloo", {"a": "xa", "abc": "xabc",
                                 "nosuchkey": "mysteryvalue", "6": "x6"})
    cat.register_lookup("lookyloo", {"a": "xa", "abc": "xabc",
                                     "nosuchkey": "mysteryvalue", "6": "x6"})
    return cat


@pytest.fixture(scope="session")
def wiki_catalog(spark, tmp_path_factory):
    """Fixture 5: the reference's Wikipedia-like native-query dataset
    (processing/src/test/resources/druid.sample.numeric.tsv, schema per
    TestIndex.java:71-135; \\x01 is the MVD list delimiter) — the input to
    every *QueryRunnerTest golden expectation."""
    from pyspark.sql import functions as F
    from incubator_druid_spark.catalog import Catalog
    tsv = ("/root/reference/processing/src/test/resources/"
           "druid.sample.numeric.tsv")
    cols = ["ts", "market", "quality", "qualityLong", "qualityFloat",
            "qualityDouble", "qualityNumericString", "longNumericNull",
            "floatNumericNull", "doubleNumericNull", "placement",
            "placementish", "index", "partial_null_column"]
    # single-partition read keeps file order; __rowid materializes Druid's
    # segment row order so first/last tie-breaks match the reference
    raw = (spark.read.option("sep", "\t")
           .schema(", ".join(f"`{c}` string" for c in cols)).csv(tsv)
           .coalesce(1).withColumn("__rowid", F.monotonically_increasing_id()))
    df = raw.select(
        "__rowid",
        F.to_timestamp("ts").alias("__time"),
        "market", "quality",
        F.col("qualityLong").cast("long").alias("qualityLong"),
        F.col("qualityFloat").cast("float").alias("qualityFloat"),
        F.col("qualityDouble").cast("double").alias("qualityDouble"),
        "qualityNumericString",
        F.col("longNumericNull").cast("long").alias("longNumericNull"),
        F.col("floatNumericNull").cast("float").alias("floatNumericNull"),
        F.col("doubleNumericNull").cast("double").alias("doubleNumericNull"),
        "placement",
        F.split("placementish", "\x01").alias("placementish"),
        F.col("index").cast("double").alias("index"),
        # TestIndex.java:136-153 METRIC_AGGS at NONE rollup — each derived
        # metric equals (a cast of) the row's index value
        F.col("index").cast("float").alias("indexFloat"),
        F.col("index").cast("double").alias("indexMin"),
        F.col("index").cast("float").alias("indexMinFloat"),
        F.col("index").cast("float").alias("indexMaxFloat"),
        (F.col("index").cast("double") + 10).alias("indexMaxPlusTen"),
        "partial_null_column")
    path = str(tmp_path_factory.mktemp("wiki_ds") / "wiki.parquet")
    df.write.mode("overwrite").parquet(path)
    cat = Catalog(spark)
    cat.register("wiki", path)
    return cat


@pytest.fixture(scope="session")
def wiki_rollup_catalog(spark, wiki_catalog, tmp_path_factory):
    """wiki rolled up to (day, market) grain with a quality_uniques
    hyperUnique COMPLEX column — TestIndex.java's ingest-rollup metric;
    used by the cardinality/hyperUnique-over-complex goldens."""
    from pyspark.sql import functions as F

    from incubator_druid_spark.catalog import Catalog
    from incubator_druid_spark.operators.aggregations import _hll_input
    wiki = wiki_catalog.table("wiki")
    rolled = (wiki.groupBy(F.date_trunc("DAY", "__time").alias("__time"),
                           "market")
                  .agg(F.hll_sketch_agg(_hll_input(F.col("quality")))
                        .alias("quality_uniques"),
                       # longSum-at-ingest truncates each ROW's float to long
                       # (LongSumAggregator reads getLong()) — matches the
                       # goldens' idx values (12446, not the double-sum 12456)
                       F.sum(F.col("index").cast("long")).alias("index"),
                       F.count(F.lit(1)).alias("rows_rolled")))
    path = str(tmp_path_factory.mktemp("wiki_rollup") / "wiki_rollup.parquet")
    rolled.write.mode("overwrite").parquet(path)
    cat = Catalog(spark)
    cat.register("wiki_rollup", path)
    return cat


def rows(df, *cols):
    """Collect to a sorted list of tuples for order-insensitive assertion."""
    data = [tuple(r[c] for c in cols) if cols else tuple(r) for r in df.collect()]
    return sorted(data, key=lambda t: tuple((x is None, x) for x in t))


# ---------------------------------------------------------------------------
# Test tiers (r10, VERDICT r9 #1).  Files listed here are marked `slow` and
# excluded from the default run by pytest.ini's `addopts = -m "not slow"` so
# the driver-facing run finishes inside its verification window (~5 min vs
# the ~45-min full suite).  The list is measured, not guessed: per-file
# wall-clock durations, threshold ~8 s of in-process cost.  Run the full
# suite with `-m ""`.  Value-level coverage of every board entry lives in
# scripts/check_correctness.py (DuckDB oracle, 129/129), which does not
# depend on this split.
SLOW_FILES = {
    "test_advice_r6.py",
    "test_aggregations.py",
    "test_decontam_fuzzy.py",
    "test_expressions.py",
    "test_extensions.py",
    "test_filters.py",
    "test_golden_bound_filter_r6.py",
    "test_golden_expr_eval_r8.py",
    "test_golden_expr_macros_r7.py",
    "test_golden_expressions_r6.py",
    "test_golden_expressions_r7.py",
    "test_golden_extraction_r6.py",
    "test_golden_filter_leaf_r6.py",
    "test_golden_filter_numeric_r6.py",
    "test_golden_fixed_buckets_r7.py",
    "test_golden_function_r7.py",
    "test_golden_ipv4_r7.py",
    "test_golden_joins.py",
    "test_golden_macros_r7.py",
    "test_golden_native_groupby.py",
    "test_golden_native_groupby_r4d.py",
    "test_golden_native_groupby_r6.py",
    "test_golden_native_groupby_r6b.py",
    "test_golden_native_search_scan_r6.py",
    "test_golden_native_timeseries.py",
    "test_golden_native_timeseries_r4.py",
    "test_golden_native_timeseries_r4b.py",
    "test_golden_native_timeseries_r6.py",
    "test_golden_native_topn.py",
    "test_golden_native_wiki.py",
    "test_golden_scalars.py",
    "test_golden_schema_evolution_r6.py",
    "test_golden_schema_evolution_r7.py",
    "test_golden_sql.py",
    "test_golden_sql_r4.py",
    "test_golden_sql_r4b.py",
    "test_golden_sql_r4c.py",
    "test_golden_sql_r4e.py",
    "test_golden_sql_r4f.py",
    "test_golden_sql_r4g.py",
    "test_golden_sql_r4h.py",
    "test_golden_sql_r4j.py",
    "test_golden_sql_r5a.py",
    "test_golden_sql_r5d.py",
    "test_golden_sql_r5e.py",
    "test_golden_sql_r6a.py",
    "test_golden_sql_r6b.py",
    "test_golden_time.py",
    "test_granularity.py",
    "test_html.py",
    "test_json_surface_sweep.py",
    "test_knn_join.py",
    "test_lm.py",
    "test_lookup_scale.py",
    "test_lookup_uri.py",
    "test_pipeline.py",
    "test_pipeline_property.py",
    "test_pipeline_r8c.py",
    "test_query_types.py",
    "test_review_r6c.py",
    "test_review_r8b.py",
    "test_semdedup.py",
    "test_similarity_unrolled.py",
    "test_sketch_fold_scale.py",
    "test_sql_and_ingest.py",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if os.path.basename(str(item.fspath)) in SLOW_FILES:
            item.add_marker(pytest.mark.slow)


# the reference fixture the wiki goldens read; it is not shipped with the
# package, so where it is absent their setup errors
WIKI_TSV = "druid.sample.numeric.tsv"


def pytest_terminal_summary(terminalreporter):
    """Name the tests whose error mentions the absent wiki TSV, grouped by
    file with a count per file, so a run's unrun goldens read as one list.
    Nothing is skipped and the exit status is untouched."""
    by_file: dict[str, list[str]] = {}
    for rep in (terminalreporter.stats.get("error", [])
                + terminalreporter.stats.get("failed", [])):
        if WIKI_TSV in str(getattr(rep, "longrepr", "")):
            path, _, name = rep.nodeid.partition("::")
            by_file.setdefault(path, []).append(name)
    if not by_file:
        return
    total = sum(map(len, by_file.values()))
    terminalreporter.section(f"{total} tests need the absent {WIKI_TSV}")
    for path, names in sorted(by_file.items()):
        terminalreporter.write_line(f"{path} ({len(names)}): "
                                    + ", ".join(names))

