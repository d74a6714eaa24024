"""Deterministic inputs for the benchmark.

Query workloads read two tables with the schema and size of the sf0.1
testdata (`events`: 100k rows over January 2024, `lineitem`: 600k rows over
1995-2001).  They are generated from a fixed data seed, so every workload
seed queries the same tables and the seed only chooses the queries.  The
tables are written once per checkout under the benchmark's work directory.

The ingest workload writes JSON-lines event files from the workload seed.
Generation runs in a child process (``python3 perfbench/data.py ingest ...``)
so its memory does not count towards the engine's peak RSS; the generator's
totals are written beside the files for the answer check.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

DATA_SEED = 42
EVENTS_ROWS = 100_000
LINEITEM_ROWS = 600_000
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
COUNTRIES = ["br", "de", "fr", "in", "jp", "mx", "uk", "us"]
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENTS_DAYS = 30
LINEITEM_START_US = 788_832_000_000_000  # 1995-01-01T00:00:00Z
LINEITEM_DAYS = 2498                     # through 2001-11-03
DAY_US = 86_400_000_000
HOUR_MS = 3_600_000

# ingest: rows per file, and the span the rows fall in (hour buckets x
# 5 event types x 8 countries ≈ 6 input rows per stored row)
INGEST_ROWS = 30_000
INGEST_HOURS = 125
INGEST_START_MS = 1_706_745_600_000      # 2024-02-01T00:00:00Z


def write_tables(out_dir: str) -> None:
    """Write events.parquet and lineitem.parquet into ``out_dir`` (atomic:
    a half-written directory is never left under the final name)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)

    n = EVENTS_ROWS
    ts = np.sort(EVENTS_START_US
                 + rng.integers(0, EVENTS_DAYS * DAY_US, n, dtype=np.int64))
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(np.minimum(rng.exponential(60.0, n),
                                              560.0), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n)]),
    })
    pq.write_table(events, os.path.join(tmp, "events.parquet"))

    n = LINEITEM_ROWS
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(1, 150_000, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(1, 20_000, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(1, 1_000, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(
            qty * rng.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(LINEITEM_START_US + DAY_US * rng.integers(
            1, LINEITEM_DAYS + 1, n, dtype=np.int64), pa.timestamp("us")),
    })
    pq.write_table(lineitem, os.path.join(tmp, "lineitem.parquet"))
    os.replace(tmp, out_dir)


def write_ingest_files(out_dir: str, seed: int, files: int) -> None:
    """Write ``files`` JSON-lines files of INGEST_ROWS events each, plus
    ``totals.json``: per file, the rows, the value sum, the latency max and
    the number of distinct (hour, event_type, country) rows rollup keeps."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    totals = []
    for i in range(files):
        n = INGEST_ROWS
        ts = INGEST_START_MS + rng.integers(0, INGEST_HOURS * HOUR_MS, n,
                                            dtype=np.int64)
        et = rng.integers(0, len(EVENT_TYPES), n)
        co = rng.integers(0, len(COUNTRIES), n)
        value = np.round(rng.exponential(40.0, n), 2)
        latency = rng.integers(1, 5_000, n, dtype=np.int64)
        keys = (ts // HOUR_MS) * 64 + et * 8 + co
        path = os.path.join(out_dir, f"events-{i}.json")
        with open(path, "w") as fh:
            fh.writelines(
                f'{{"ts": {t}, "event_type": "{EVENT_TYPES[e]}", '
                f'"country": "{COUNTRIES[c]}", "value": {v!r}, '
                f'"latency_ms": {lat}}}\n'
                for t, e, c, v, lat in zip(ts.tolist(), et.tolist(),
                                           co.tolist(), value.tolist(),
                                           latency.tolist()))
        totals.append({"path": path, "rows": n,
                       "value_sum": float(value.sum()),
                       "latency_max": int(latency.max()),
                       "stored_rows": int(np.unique(keys).size)})
    with open(os.path.join(out_dir, "totals.json"), "w") as fh:
        json.dump(totals, fh)


if __name__ == "__main__":
    # python3 perfbench/data.py ingest <out_dir> <seed> <files>
    if len(sys.argv) != 5 or sys.argv[1] != "ingest":
        sys.exit("usage: data.py ingest <out_dir> <seed> <files>")
    write_ingest_files(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
