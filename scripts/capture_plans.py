"""Capture .explain("formatted") output for board, native and SQL queries.

Usage: python scripts/capture_plans.py <out_dir> <suffix> item1,item2,...
e.g.:  python scripts/capture_plans.py plans/r09 after dedup_fingerprint,ts_day
       python scripts/capture_plans.py plans/r11 after plans/r11/ts_hour_filtered.json
       python scripts/capture_plans.py plans/r11 after plans/r11/sql_hourly.sql

An item is a board entry name from ``__spark_entry__.queries()``, the path
of a native query JSON file, or the path of a Druid SQL file; files run
against the catalog of the testdata directory.  Writes
<out_dir>/<name>_<suffix>.txt for each item (a file's name is its stem),
using the sf0.1 testdata (the bench scale; ``SPARK_GRAFT_SF_DIR`` overrides
it) so plan shapes match the benched queries.
"""

from __future__ import annotations

import io
import json
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir, suffix, items = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    import __spark_entry__ as entrymod
    from incubator_druid_spark import get_spark, translate
    from incubator_druid_spark.catalog import load_catalog
    from incubator_druid_spark.sql.functions import druid_sql
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for item in items:
        name = os.path.splitext(os.path.basename(item))[0]
        if item.endswith(".json"):
            with open(item) as fh:
                df = translate(json.load(fh), spark,
                               load_catalog(spark, sf_dir))
        elif item.endswith(".sql"):
            with open(item) as fh:
                df = druid_sql(spark, fh.read(), load_catalog(spark, sf_dir))
        else:
            df = qs[item](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print("wrote", path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
