"""Filtered-timeseries zero-fill derives segment coverage from the
`__bucket` PARTITION LISTING (file metadata) instead of a second scan of
the fact table — the 100-TB analogue of Druid's broker-side segment
timeline (CachingClusteredClient condenses intervals to existing segments
before zero-filling)."""

import datetime
import json
import os

from incubator_druid_spark import translate
from incubator_druid_spark.catalog import Catalog
from incubator_druid_spark.sources.ingest import ingest


def _mk_bucketed(spark, tmp_path):
    """Days 1,2,4 have data (day 3 is a segment GAP); every row is type=a
    except day 4 which is type=b."""
    src = str(tmp_path / "rows.json")
    with open(src, "w") as f:
        for day, typ in [(1, "a"), (1, "a"), (2, "a"), (4, "b")]:
            f.write(json.dumps({
                "t": f"2024-01-0{day}T06:00:00Z", "typ": typ, "v": 1}) + "\n")
    spec = {
        "dataSchema": {
            "dataSource": "gapped",
            "timestampSpec": {"column": "t", "format": "iso"},
            "dimensionsSpec": {"dimensions": [
                "typ", {"type": "long", "name": "v"}]},
            "granularitySpec": {"segmentGranularity": "day"},
        },
        "ioConfig": {"inputSource": {"type": "local", "files": [src]},
                     "inputFormat": {"type": "json"}},
    }
    cat = Catalog(spark)
    path = ingest(spark, spec, cat, str(tmp_path / "seg"))
    assert any("__bucket=" in d for d in os.listdir(path))
    return cat


def test_filtered_zero_fill_uses_partition_listing(spark, tmp_path):
    cat = _mk_bucketed(spark, tmp_path)
    q = {"queryType": "timeseries", "dataSource": "gapped",
         "granularity": "day",
         "intervals": ["2024-01-01T00:00:00Z/2024-01-06T00:00:00Z"],
         "filter": {"type": "selector", "dimension": "typ", "value": "a"},
         "aggregations": [{"type": "longSum", "name": "s",
                           "fieldName": "v"}]}
    df = translate(q, spark, cat)
    # exactly ONE scan of the fact table: coverage came from the listing,
    # and the listing and the spine are local relations (LocalTableScan),
    # never a pickled Python RDD that forks a Python worker per task
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    got = [(r["__time"], r["s"]) for r in df.collect()]
    d = datetime.datetime
    assert got == [
        (d(2024, 1, 1), 2),     # matching rows
        (d(2024, 1, 2), 1),
        # day 3: NO segment → no bucket at all
        (d(2024, 1, 4), None),  # segment exists, filter matches nothing →
                                # zero-filled bucket (longSum identity NULL)
        # day 5: no segment → no bucket
    ]


def test_filtered_zero_fill_interval_prunes_listing(spark, tmp_path):
    cat = _mk_bucketed(spark, tmp_path)
    q = {"queryType": "timeseries", "dataSource": "gapped",
         "granularity": "day",
         "intervals": ["2024-01-02T00:00:00Z/2024-01-03T00:00:00Z"],
         "filter": {"type": "selector", "dimension": "typ", "value": "zzz"},
         "aggregations": [{"type": "count", "name": "c"}]}
    got = [(r["__time"], r["c"]) for r in translate(q, spark, cat).collect()]
    # only day 2 is both covered by a segment and inside the interval;
    # the unmatched filter still zero-fills it (count identity 0)
    assert got == [(datetime.datetime(2024, 1, 2), 0)]
