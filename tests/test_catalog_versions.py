"""One datasource version per catalog: native queries, the SQL temp views
and the SQL column-type dispatch all read the frame ``Catalog.table``
resolves, so a change to a registered table reaches them alike."""

from __future__ import annotations

from incubator_druid_spark import api
from incubator_druid_spark.catalog import Catalog
from incubator_druid_spark.sql.functions import druid_sql

_COUNT = {"queryType": "timeseries", "granularity": "all",
          "intervals": ["2000-01-01T00:00:00Z/2100-01-01T00:00:00Z"],
          "aggregations": [{"type": "count", "name": "n"}]}


def _counts(spark, cat, name):
    sql = api.sql_query({"query": f"SELECT COUNT(*) AS n FROM {name}"},
                        spark, cat)
    native = api.native_query({**_COUNT, "dataSource": name}, spark, cat)
    return sql[0]["n"], native[0]["result"]["n"]


def test_external_append_is_seen_alike_by_sql_and_native(spark, tmp_path):
    """A writer outside the catalog appends a file to a registered
    directory: the next SQL query reads it as the next native query does
    (a view registered before the append used to keep the old listing)."""
    path = str(tmp_path / "ext")
    schema = "__time timestamp, s string"
    spark.createDataFrame([(_ts("2024-01-01"), "a")], schema) \
        .write.parquet(path)
    cat = Catalog(spark)
    cat.register("ext_append", path)
    assert _counts(spark, cat, "ext_append") == (1, 1)
    spark.createDataFrame([(_ts("2024-01-02"), "b")], schema) \
        .write.mode("append").parquet(path)
    assert _counts(spark, cat, "ext_append") == (2, 2)


def test_reregistered_array_column_dispatches_contains_all(spark, tmp_path):
    """``t`` re-registered with ``tags`` changed from string to
    array<string>: ARRAY_CONTAINS(arr, tags) takes the array second
    argument as contains-all, as a fresh catalog does."""
    scalar, array = str(tmp_path / "scalar"), str(tmp_path / "array")
    spark.createDataFrame([(1, ["a", "b"], "a"), (2, ["a", "b"], "c")],
                          "id long, arr array<string>, tags string") \
        .write.parquet(scalar)
    spark.createDataFrame([(1, ["a", "b"], ["a", "b"]),
                           (2, ["a", "b"], ["a", "c"])],
                          "id long, arr array<string>, tags array<string>") \
        .write.parquet(array)
    sql = "SELECT id, ARRAY_CONTAINS(arr, tags) AS c FROM t ORDER BY id"
    cat = Catalog(spark)
    cat.register("t", scalar)
    assert [r["c"] for r in druid_sql(spark, sql, cat).collect()] == \
        [True, False]
    cat.register("t", array)
    assert [r["c"] for r in druid_sql(spark, sql, cat).collect()] == \
        [True, False]
    fresh = Catalog(spark)
    fresh.register("t", array)
    assert [r["c"] for r in druid_sql(spark, sql, fresh).collect()] == \
        [True, False]


def test_repeated_sql_query_registers_no_view(spark, tmp_path, monkeypatch):
    """A repeated SQL query over an unchanged table replaces no temp view
    and resolves no frame: the catalog's version key is the views' too."""
    path = str(tmp_path / "same")
    spark.createDataFrame([(_ts("2024-01-01"), "a")],
                          "__time timestamp, s string").write.parquet(path)
    cat = Catalog(spark)
    cat.register("same_t", path)
    sql = "SELECT s, COUNT(*) AS n FROM same_t GROUP BY s"
    assert druid_sql(spark, sql, cat).collect()[0]["n"] == 1

    calls = {"views": 0, "loads": 0}
    frame_type = type(cat.table("same_t"))
    register, load = frame_type.createOrReplaceTempView, Catalog._load

    def counted_register(self, name):
        calls["views"] += 1
        return register(self, name)

    def counted_load(self, *args):
        calls["loads"] += 1
        return load(self, *args)

    monkeypatch.setattr(frame_type, "createOrReplaceTempView",
                        counted_register)
    monkeypatch.setattr(Catalog, "_load", counted_load)
    assert druid_sql(spark, sql, cat).collect()[0]["n"] == 1
    assert calls == {"views": 0, "loads": 0}


def _ts(day: str):
    import datetime
    return datetime.datetime.fromisoformat(day)
