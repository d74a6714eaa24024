"""Batch ingest without rediscovery (sources/ingest.py, timeline.py): a JSON
input is read with the spec's columns, a one-split input rolls up inside its
own task, and the schema written is recorded beside the table, so the
catalog reads it back without a schema job."""

import datetime
import json

import pytest
from pyspark.sql.types import StructType

from conftest import rows
from incubator_druid_spark.catalog import Catalog
from incubator_druid_spark import api
from incubator_druid_spark.sources.ingest import (_json_read_schema,
                                                  _one_split, ingest,
                                                  read_input)
from incubator_druid_spark.streaming.ingest import compact
from incubator_druid_spark.timeline import read_meta

d = datetime.datetime
_METRICS = [{"type": "count", "name": "cnt"},
            {"type": "longSum", "name": "n", "fieldName": "n"},
            {"type": "doubleMax", "name": "x", "fieldName": "x"}]
_ROWS = [{"ts": "2024-01-01T00:10:00Z", "site": "a", "n": 1, "x": 1.5},
         {"ts": "2024-01-01T00:40:00Z", "site": "a", "n": 2, "x": 0.5},
         {"ts": "2024-01-01T01:10:00Z", "site": "b", "n": 4, "x": 2.0},
         {"ts": "2024-01-02T03:00:00Z", "site": "a", "n": 8, "x": 3.0}]


def _write(path, lines):
    path.write_text("\n".join(json.dumps(r) for r in lines) + "\n")
    return str(path)


def _spec(name, files, dims=("site",), metrics=_METRICS, rollup=True,
          seg="day", append=False, partitions=None, **data_schema):
    return {"dataSchema": {
                "dataSource": name,
                "timestampSpec": {"column": "ts", "format": "auto"},
                "dimensionsSpec": {"dimensions": list(dims)},
                "metricsSpec": metrics,
                "granularitySpec": {"segmentGranularity": seg,
                                    "queryGranularity": "hour",
                                    "rollup": rollup},
                **data_schema},
            "ioConfig": {"inputSource": {"type": "local", "files": files},
                         "inputFormat": {"type": "json"},
                         "appendToExisting": append},
            "tuningConfig": {"partitionsSpec": partitions or {}}}


def test_one_split_ingest_and_table_run_one_job(spark, tmp_path):
    """Ingesting a one-file JSON input with declared dimensions and metrics
    and resolving the table run one Spark job: no schema inference, the
    rollup and the write in one task, no parquet schema job."""
    src = _write(tmp_path / "in.json", _ROWS)
    cat = Catalog(spark)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    try:
        sc.setJobGroup("ingest-one-split", "ingest")
        ingest(spark, _spec("one", [src]), cat, str(tmp_path / "seg"))
        table = cat.table("one")
    finally:
        sc.setJobGroup(None, None)
    bus.waitUntilEmpty()  # job events are async
    assert len(sc.statusTracker().getJobIdsForGroup("ingest-one-split")) == 1
    assert rows(table, "__time", "site", "cnt", "n", "x") == [
        (d(2024, 1, 1, 0), "a", 2, 3, 1.5), (d(2024, 1, 1, 1), "b", 1, 4, 2.0),
        (d(2024, 1, 2, 3), "a", 1, 8, 3.0)]


def test_multi_split_input_rolls_up_across_files(spark, tmp_path):
    """Two input files are two splits: rows of one key in both files still
    roll up into one stored row."""
    files = [_write(tmp_path / "a.json", _ROWS[:2]),
             _write(tmp_path / "b.json", _ROWS[1:])]
    cat = Catalog(spark)
    ingest(spark, _spec("two", files), cat, str(tmp_path / "seg"))
    assert rows(cat.table("two"), "__time", "site", "cnt", "n") == [
        (d(2024, 1, 1, 0), "a", 3, 5), (d(2024, 1, 1, 1), "b", 1, 4),
        (d(2024, 1, 2, 3), "a", 1, 8)]


def _recorded(cat, name):
    return StructType.fromJson(read_meta(cat, name)["schema"])


@pytest.mark.parametrize("variant", [
    "rollup", "no_rollup", "single_dim", "max_rows", "hour", "append",
    "inferred", "compact"])
def test_recorded_schema_is_the_inferred_one(spark, tmp_path, variant):
    """Every writer records the schema Spark infers for what it wrote, and
    the catalog reads the table with it."""
    src = _write(tmp_path / "in.json", _ROWS)
    cat = Catalog(spark)
    seg = str(tmp_path / "seg")
    spec = {
        "rollup": _spec("t", [src]),
        "no_rollup": _spec("t", [src], rollup=False),
        "single_dim": _spec("t", [src], partitions={
            "type": "single_dim", "partitionDimension": "site",
            "numShards": 2}),
        "max_rows": _spec("t", [src], partitions={
            "type": "dynamic", "maxRowsPerSegment": 1}),
        "hour": _spec("t", [src], seg="hour"),
        "append": _spec("t", [src]),
        "inferred": _spec("t", [src], dims=(), metrics=[]),
    }.get(variant)
    if spec is not None:
        path = ingest(spark, spec, cat, seg)
    else:
        raw = str(tmp_path / "raw")
        spark.read.json(src).selectExpr(
            "CAST(ts AS TIMESTAMP) AS __time", "site", "n", "x") \
            .write.parquet(raw)
        path = str(tmp_path / "compacted")
        compact(spark, raw, path, query_granularity="hour",
                dimensions=["site"], metrics=_METRICS)
        cat.register("t", path)
    if variant == "append":
        more = _write(tmp_path / "more.json", _ROWS[:1])
        ingest(spark, _spec("t", [more], append=True), cat, seg)
    inferred = spark.read.parquet(path).schema
    assert _recorded(cat, "t") == inferred
    assert cat.table("t").schema == inferred
    assert cat.table("t").count() == spark.read.parquet(path).count()


def test_changed_schema_is_not_read_with_the_old_record(spark, tmp_path):
    """An append that writes another schema drops the record, so the table
    is read as an unrecorded one; an overwrite records its own schema."""
    src = _write(tmp_path / "in.json",
                 [{**r, "page": "p"} for r in _ROWS])
    cat = Catalog(spark)
    seg = str(tmp_path / "seg")
    ingest(spark, _spec("t", [src]), cat, seg)
    ingest(spark, _spec("t", [src], dims=("site", "page"), append=True),
           cat, seg)
    assert read_meta(cat, "t")["schema"] is None
    assert cat.table("t").count() == 6
    ingest(spark, _spec("t", [src], dims=("page", "site")), cat, seg)
    assert cat.table("t").columns[:3] == ["__time", "page", "site"]
    assert _recorded(cat, "t") == cat.table("t").schema


# (case, input rows, stored rows with rollup, stored rows without)
_CASES = [
    ("quoted_numbers",
     [{"ts": "1704067200000", "site": "a", "n": "7", "x": "2.5"},
      {"ts": "1704070800000", "site": "b", "n": "-3", "x": "1e2"}],
     [(d(2024, 1, 1, 0), "a", 1, 7, 2.5), (d(2024, 1, 1, 1), "b", 1, -3, 100.0)],
     [(d(2024, 1, 1, 0), "a", 1, 7, 2.5), (d(2024, 1, 1, 1), "b", 1, -3, 100.0)]),
    ("fractional_long",
     [{"ts": "2024-01-01T00:10:00Z", "site": "a", "n": 12.5, "x": 1},
      {"ts": "2024-01-01T00:20:00Z", "site": "a", "n": 2.7, "x": 3}],
     [(d(2024, 1, 1, 0), "a", 2, 14, 3.0)],
     [(d(2024, 1, 1, 0, 10), "a", 1, 12, 1.0),
      (d(2024, 1, 1, 0, 20), "a", 1, 2, 3.0)]),
    ("missing_fields",
     [{"ts": "2024-01-01T00:00:00Z", "site": "a", "n": 1},
      {"ts": "2024-01-01T00:30:00Z", "x": 2.0}],
     [(d(2024, 1, 1, 0), "a", 1, 1, None), (d(2024, 1, 1, 0), None, 1, None, 2.0)],
     [(d(2024, 1, 1, 0), "a", 1, 1, None),
      (d(2024, 1, 1, 0, 30), None, 1, None, 2.0)]),
    ("nulls",
     [{"ts": "2024-01-01T00:00:00Z", "site": None, "n": None, "x": None},
      {"ts": "2024-01-01T00:05:00Z", "site": "a", "n": 4, "x": None}],
     [(d(2024, 1, 1, 0), "a", 1, 4, None), (d(2024, 1, 1, 0), None, 1, None, None)],
     [(d(2024, 1, 1, 0), None, 1, None, None),
      (d(2024, 1, 1, 0, 5), "a", 1, 4, None)]),
    ("extra_fields",
     [{"ts": "2024-01-01T00:00:00Z", "site": "a", "n": 1, "x": 1.0,
       "other": "z", "deep": {"k": [1, 2]}}],
     [(d(2024, 1, 1, 0), "a", 1, 1, 1.0)],
     [(d(2024, 1, 1, 0), "a", 1, 1, 1.0)]),
]


@pytest.mark.parametrize("ansi", [False, True], ids=["default", "ansi"])
@pytest.mark.parametrize("case, lines, rolled, plain", _CASES,
                         ids=[c[0] for c in _CASES])
def test_spec_read_stores_what_inference_stored(spark, tmp_path, ansi, case,
                                                lines, rolled, plain):
    """The spec-derived read stores the values an inferred read stored, with
    and without rollup, in a default and in an ANSI session."""
    session = spark.newSession()
    session.conf.set("spark.sql.ansi.enabled", str(ansi).lower())
    src = _write(tmp_path / "in.json", lines)
    cat = Catalog(session)
    for name, rollup, expected in (("r", True, rolled), ("p", False, plain)):
        ingest(session, _spec(name, [src], rollup=rollup), cat,
               str(tmp_path / "seg"))
        table = cat.table(name)
        assert table.columns == ["__time", "site", "cnt", "n", "x",
                                 "__bucket"]
        assert dict(table.dtypes)["n"] == "bigint"
        assert rows(table, "__time", "site", "cnt", "n", "x") == expected


def test_numeric_value_under_a_plain_dimension_is_a_string(spark, tmp_path):
    """A dimension given by name is a string dimension (Druid's
    StringDimensionSchema): a JSON number under it is stored as its text,
    where an inferred read stored the number."""
    src = _write(tmp_path / "in.json", [
        {"ts": "2024-01-01T00:00:00Z", "site": 5, "n": 1, "x": 1.0},
        {"ts": "2024-01-01T00:00:00Z", "site": 12.50, "n": 1, "x": 1.0}])
    cat = Catalog(spark)
    ingest(spark, _spec("t", [src]), cat, str(tmp_path / "seg"))
    table = cat.table("t")
    assert dict(table.dtypes)["site"] == "string"
    assert rows(table, "site", "cnt") == [("12.5", 1), ("5", 1)]


_TAGS = [{"ts": "2024-01-01T00:00:00Z", "tags": ["a", "b"], "n": 1},
         {"ts": "2024-01-01T00:10:00Z", "tags": ["b"], "n": 2},
         {"ts": "2024-01-01T00:20:00Z", "tags": ["a", "b"], "n": 4}]


def test_array_dimension_stays_multi_value(spark, tmp_path):
    """A JSON array under a plain dimension name is stored as the
    array<string> inference gave, so a selector filter and MV_CONTAINS match
    an element (the values an inferred read answers)."""
    src = _write(tmp_path / "in.json", _TAGS)
    cat = Catalog(spark)
    ingest(spark, _spec("mv", [src], dims=("tags",), metrics=_METRICS[:2]),
           cat, str(tmp_path / "seg"))
    assert dict(cat.table("mv").dtypes)["tags"] == "array<string>"
    q = {"queryType": "timeseries", "dataSource": "mv", "granularity": "all",
         "intervals": ["2024-01-01/2024-01-02"],
         "filter": {"type": "selector", "dimension": "tags", "value": "a"},
         "aggregations": [{"type": "longSum", "name": "n", "fieldName": "n"}]}
    assert api.native_query(q, spark, cat)[0]["result"] == {"n": 5}
    assert api.sql_query({"query": "SELECT SUM(n) AS s FROM mv "
                                   "WHERE MV_CONTAINS(tags, 'a')"},
                         spark, cat) == [{"s": 5}]


_T0 = "2024-01-01T00:00:00Z"


@pytest.mark.parametrize("lines, dims, rollup, expected", [
    ([{"ts": _T0, "tags": ["a", "b"], "n": 1}, {"ts": _T0, "tags": "a", "n": 2}],
     ("tags",), True, [("tags", "string", ['["a", "b"]', "a"])]),
    ([{"ts": _T0, "tags": True, "n": 1}],
     ("tags",), True, [("tags", "boolean", [True])]),
    ([{"ts": _T0, "tags": {"k": 1}, "n": 1}],
     ("tags",), True, [("tags", "struct<k:bigint>", [(1,)])]),
    ([{"ts": _T0, "tags": "a", "n": 1}],
     ("tags", "gone"), True, [("tags", "string", ["a"]), ("gone", None, [])]),
    ([{"ts": _T0, "tags": "a"}],
     ("tags",), False, [("tags", "string", ["a"]), ("n", None, [])]),
    ([{"ts": _T0, "tags": "a", "n": True}],
     ("tags",), True, [("n", "bigint", [1])]),
], ids=["mixed_array", "boolean", "object", "absent_dimension",
        "absent_metric_field", "boolean_metric_field"])
def test_values_inference_types_otherwise_are_read_again(
        spark, tmp_path, lines, dims, rollup, expected):
    """Where a string read would store otherwise than inference (an array
    beside scalars keeps its JSON text either way, a boolean, an object, a
    declared column absent from every row, a boolean metric input), the
    table is the inferred read's: these types and values are the ones an
    inferred read stores."""
    src = _write(tmp_path / "in.json", lines)
    cat = Catalog(spark)
    ingest(spark, _spec("t", [src], dims=dims, metrics=_METRICS[:2],
                        rollup=rollup), cat, str(tmp_path / "seg"))
    table = cat.table("t")
    types = dict(table.dtypes)
    for col, typ, values in expected:
        assert types.get(col) == typ
        if typ is not None:
            assert sorted(rows(table, col), key=str) == \
                [(v,) for v in values]
    assert table.schema == spark.read.parquet(
        str(tmp_path / "seg" / "t")).schema


def test_one_split_is_known_from_the_listing(spark, tmp_path):
    """Only one local, uncompressed file no larger than a file's open cost
    (4 MB by default) is one split; a gzip file, a larger file and two files
    keep their read's partitioning."""
    small = _write(tmp_path / "small.json", _ROWS)
    (tmp_path / "small.json.gz").write_bytes(b"")
    with open(tmp_path / "large.json", "wb") as fh:
        fh.truncate(5 << 20)

    def one(source, fmt="json"):
        return _one_split(spark, {"inputSource": source,
                                  "inputFormat": {"type": fmt}})
    assert one({"type": "local", "files": [small]})
    assert one({"type": "local", "baseDir": str(tmp_path),
                "filter": "small.json"})
    assert not one({"type": "local", "files": [small + ".gz"]})
    assert not one({"type": "local", "files": [str(tmp_path / "large.json")]})
    assert not one({"type": "local", "files": [small, small]})
    assert not one({"type": "local", "baseDir": str(tmp_path),
                    "filter": "*.json"})
    assert not one({"type": "local", "files": [small]}, fmt="protobuf")


@pytest.mark.parametrize("section, change, reads_schema", [
    ("dataSchema", {}, True),
    ("dataSchema", {"metricsSpec": []}, False),
    ("dataSchema", {"dimensionsSpec": {"dimensions": []}}, False),
    ("dataSchema", {"dimensionsSpec": {"dimensions": [
        {"type": "long", "name": "n"}]}}, False),
    ("dataSchema", {"dimensionsSpec": {"dimensions": [
        {"type": "string", "name": "s", "multiValueHandling": "ARRAY"}]}},
     False),
    ("dataSchema", {"dimensionsSpec": {"dimensions": [
        {"type": "string", "name": "s"}]}}, True),
    ("dataSchema", {"transformSpec": {"transforms": [
        {"name": "u", "expression": "upper(site)"}]}}, False),
    ("dataSchema", {"metricsSpec": [
        {"type": "hyperUnique", "name": "u", "fieldName": "site"}]}, False),
    ("dataSchema", {"metricsSpec": [
        {"type": "longSum", "name": "s", "expression": "n * 2"}]}, False),
    ("tuningConfig", {"partitionsSpec": {
        "type": "zorder", "partitionDimensions": ["n"]}}, False),
    ("ioConfig", {"appendToExisting": True}, False),
])
def test_which_specs_read_with_their_columns(section, change, reads_schema):
    """Only a spec naming every column it keeps, all read through string
    dimensions and lenient numeric casts, skips inference."""
    spec = _spec("t", ["in.json"])
    spec[section].update(change)
    assert (_json_read_schema(spec) is not None) == reads_schema


def test_flatten_spec_paths(spark, tmp_path):
    """flattenSpec fields: dotted and bracket JsonPaths, an index step, a
    bracketed name holding a dot, and a root field."""
    src = _write(tmp_path / "in.json", [
        {"a": {"b": 1, "c.d": 2}, "arr": [5, 6], "r": "x"}])
    df = read_input(spark, {
        "inputSource": {"type": "local", "files": [src]},
        "inputFormat": {"type": "json", "flattenSpec": {"fields": [
            {"type": "path", "name": "dotted", "expr": "$.a.b"},
            {"type": "path", "name": "bracket", "expr": "$['a']['b']"},
            {"type": "path", "name": "quoted", "expr": '$["a"]["c.d"]'},
            {"type": "path", "name": "second", "expr": "$.arr[1]"},
            {"type": "jq", "name": "jq", "expr": ".a.b"},
            {"type": "root", "name": "r"}]}}})
    assert rows(df, "dotted", "bracket", "quoted", "second", "jq", "r") == \
        [(1, 1, 2, 6, 1, "x")]
    with pytest.raises(ValueError, match="flattenSpec path"):
        read_input(spark, {
            "inputSource": {"type": "local", "files": [src]},
            "inputFormat": {"type": "json", "flattenSpec": {"fields": [
                {"type": "path", "name": "w", "expr": "$.a[*]"}]}}})
