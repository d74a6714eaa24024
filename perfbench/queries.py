"""Seeded query pools and their answer checks.

Every pooled query carries the DuckDB SQL that computes its expected answer
over the same parquet files, the kind of each output column, and the shape
of the engine's response.  ``check`` turns a raw HTTP response body into
rows and compares them with the expected rows: same row count, then the
same values regardless of row order, floats within a relative 1e-6.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random

from data import EVENT_TYPES

NATIVE = "/druid/v2"
SQL = "/druid/v2/sql"


def _iso(day: dt.date) -> str:
    return day.isoformat() + "T00:00:00Z"


def _sql_ts(day: dt.date) -> str:
    return f"TIMESTAMP '{day.isoformat()} 00:00:00'"


def _jan(day: int) -> dt.date:
    return dt.date(2024, 1, 1) + dt.timedelta(days=day)


def _ship(day: int) -> dt.date:
    return dt.date(1995, 1, 2) + dt.timedelta(days=day)


class Query:
    """One pooled request: where it goes, what it sends, how to read the
    response (``shape``) and how DuckDB answers it (``oracle``)."""

    def __init__(self, name, path, body, shape, cols, kinds, oracle):
        self.name = name
        self.path = path
        self.body = body
        self.payload = json.dumps(body).encode()
        self.shape = shape
        self.cols = cols
        self.kinds = kinds
        self.oracle = oracle
        self.query_type = body.get("queryType", "sql")
        self.expected = None     # normalized rows, set by attach_expected
        self.verified = set()    # digests of bodies that passed the check


# ---------------------------------------------------------------------------
# dashboard: panels of a few hundred rows at most
# ---------------------------------------------------------------------------

def _ts_hour_filtered(r: random.Random) -> Query:
    # selective filter over two days of hour buckets: many buckets are
    # empty and come from the zero-fill path (count 0, sum null: the
    # engine's default SQL-compatible null handling)
    d = r.randint(1, 26)
    et = r.choice(EVENT_TYPES)
    users = 45
    lo, hi = _jan(d), _jan(d + 2)
    body = {"queryType": "timeseries", "dataSource": "events",
            "granularity": "hour", "intervals": [f"{_iso(lo)}/{_iso(hi)}"],
            "filter": {"type": "and", "fields": [
                {"type": "selector", "dimension": "event_type", "value": et},
                {"type": "bound", "dimension": "user_id", "upper": str(users),
                 "upperStrict": True, "ordering": "numeric"}]},
            "aggregations": [{"type": "count", "name": "n"},
                             {"type": "doubleSum", "name": "v",
                              "fieldName": "value"}]}
    oracle = f"""
        WITH spine AS (SELECT unnest(generate_series({_sql_ts(lo)},
                         {_sql_ts(hi)} - INTERVAL 1 HOUR, INTERVAL 1 HOUR)) t),
        agg AS (SELECT date_trunc('hour', __time) t, count(*) n,
                       sum(value) v FROM events
                WHERE __time >= {_sql_ts(lo)} AND __time < {_sql_ts(hi)}
                  AND event_type = '{et}' AND user_id < {users} GROUP BY 1)
        SELECT epoch_ms(spine.t), coalesce(n, 0), v
        FROM spine LEFT JOIN agg USING (t)"""
    return Query("ts_hour_filtered", NATIVE, body, "timeseries",
                 ["n", "v"], "tif", oracle)


def _ts_day(r: random.Random) -> Query:
    d = r.randint(0, 14)
    span = 15
    ets = sorted(r.sample(EVENT_TYPES, 2))
    lo, hi = _jan(d), _jan(d + span)
    body = {"queryType": "timeseries", "dataSource": "events",
            "granularity": "day", "intervals": [f"{_iso(lo)}/{_iso(hi)}"],
            "filter": {"type": "in", "dimension": "event_type",
                       "values": ets},
            "aggregations": [{"type": "count", "name": "n"},
                             {"type": "doubleSum", "name": "v",
                              "fieldName": "value"},
                             {"type": "doubleMax", "name": "mx",
                              "fieldName": "value"}]}
    oracle = f"""
        SELECT epoch_ms(date_trunc('day', __time)), count(*), sum(value),
               max(value) FROM events
        WHERE __time >= {_sql_ts(lo)} AND __time < {_sql_ts(hi)}
          AND event_type IN ('{ets[0]}', '{ets[1]}') GROUP BY 1"""
    return Query("ts_day", NATIVE, body, "timeseries", ["n", "v", "mx"],
                 "tiff", oracle)


def _ts_hour(r: random.Random) -> Query:
    d = r.randint(0, 26)
    lo, hi = _jan(d), _jan(d + 3)
    body = {"queryType": "timeseries", "dataSource": "events",
            "granularity": "hour", "intervals": [f"{_iso(lo)}/{_iso(hi)}"],
            "aggregations": [{"type": "count", "name": "n"},
                             {"type": "doubleSum", "name": "v",
                              "fieldName": "value"}]}
    oracle = f"""
        SELECT epoch_ms(date_trunc('hour', __time)), count(*), sum(value)
        FROM events WHERE __time >= {_sql_ts(lo)} AND __time < {_sql_ts(hi)}
        GROUP BY 1"""
    return Query("ts_hour", NATIVE, body, "timeseries", ["n", "v"], "tif",
                 oracle)


def _topn_users(r: random.Random) -> Query:
    d = r.randint(0, 20)
    et = r.choice(EVENT_TYPES)
    k = 20
    lo, hi = _jan(d), _jan(d + 7)
    body = {"queryType": "topN", "dataSource": "events", "granularity": "all",
            "intervals": [f"{_iso(lo)}/{_iso(hi)}"], "dimension": "user_id",
            "metric": "v", "threshold": k,
            "filter": {"type": "selector", "dimension": "event_type",
                       "value": et},
            "aggregations": [{"type": "doubleSum", "name": "v",
                              "fieldName": "value"},
                             {"type": "count", "name": "n"}]}
    oracle = f"""
        SELECT CAST(user_id AS VARCHAR), sum(value) v, count(*) FROM events
        WHERE __time >= {_sql_ts(lo)} AND __time < {_sql_ts(hi)}
          AND event_type = '{et}'
        GROUP BY user_id ORDER BY v DESC LIMIT {k}"""
    return Query("topn_users", NATIVE, body, "topN", ["user_id", "v", "n"],
                 "sfi", oracle)


def _groupby_events(r: random.Random) -> Query:
    d = r.randint(0, 19)
    lo, hi = _jan(d), _jan(d + 10)
    body = {"queryType": "groupBy", "dataSource": "events",
            "granularity": "day", "intervals": [f"{_iso(lo)}/{_iso(hi)}"],
            "dimensions": ["event_type"],
            "aggregations": [{"type": "count", "name": "n"},
                             {"type": "doubleSum", "name": "v",
                              "fieldName": "value"}]}
    oracle = f"""
        SELECT epoch_ms(date_trunc('day', __time)), event_type, count(*),
               sum(value) FROM events
        WHERE __time >= {_sql_ts(lo)} AND __time < {_sql_ts(hi)}
        GROUP BY 1, 2"""
    return Query("groupby_events", NATIVE, body, "groupBy",
                 ["event_type", "n", "v"], "tsif", oracle)


def _groupby_lineitem(r: random.Random) -> Query:
    d = r.randint(0, 1900)
    lo, hi = _ship(d), _ship(d + 500)
    body = {"queryType": "groupBy", "dataSource": "lineitem",
            "granularity": "all", "intervals": [f"{_iso(lo)}/{_iso(hi)}"],
            "dimensions": ["l_returnflag", "l_linestatus"],
            "aggregations": [{"type": "count", "name": "n"},
                             {"type": "doubleSum", "name": "qty",
                              "fieldName": "l_quantity"},
                             {"type": "doubleSum", "name": "price",
                              "fieldName": "l_extendedprice"}]}
    oracle = f"""
        SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity),
               sum(l_extendedprice) FROM lineitem
        WHERE __time >= {_sql_ts(lo)} AND __time < {_sql_ts(hi)}
        GROUP BY 1, 2"""
    return Query("groupby_lineitem", NATIVE, body, "groupByAll",
                 ["l_returnflag", "l_linestatus", "n", "qty", "price"],
                 "ssiff", oracle)


def _sql_hourly(r: random.Random) -> Query:
    d = r.randint(0, 27)
    ets = sorted(r.sample(EVENT_TYPES, 3))
    lo, hi = _jan(d), _jan(d + 2)
    in_list = ", ".join(f"'{e}'" for e in ets)
    where = (f"__time >= {_sql_ts(lo)} AND __time < {_sql_ts(hi)} "
             f"AND event_type IN ({in_list})")
    sql = (f"SELECT TIME_FLOOR(__time, 'PT1H') AS t, COUNT(*) AS n, "
           f'SUM("value") AS v FROM events WHERE {where} GROUP BY 1 '
           f"ORDER BY 1")
    oracle = (f"SELECT epoch_ms(date_trunc('hour', __time)), count(*), "
              f"sum(value) FROM events WHERE {where} GROUP BY 1")
    return Query("sql_hourly", SQL, {"query": sql}, "object",
                 ["t", "n", "v"], "tif", oracle)


def _sql_daily_types(r: random.Random) -> Query:
    d = r.randint(0, 19)
    lo, hi = _jan(d), _jan(d + 10)
    where = f"__time >= {_sql_ts(lo)} AND __time < {_sql_ts(hi)}"
    sql = (f"SELECT TIME_FLOOR(__time, 'P1D') AS d, event_type, "
           f'COUNT(*) AS n, SUM("value") AS v FROM events WHERE {where} '
           f"GROUP BY 1, 2")
    oracle = (f"SELECT epoch_ms(date_trunc('day', __time)), event_type, "
              f"count(*), sum(value) FROM events WHERE {where} GROUP BY 1, 2")
    return Query("sql_daily_types", SQL, {"query": sql}, "object",
                 ["d", "event_type", "n", "v"], "tsif", oracle)


def _sql_lineitem_flags(r: random.Random) -> Query:
    d = r.randint(0, 1900)
    lo, hi = _ship(d), _ship(d + 500)
    flags = sorted(r.sample(["A", "N", "R"], 2))
    where = (f"__time >= {_sql_ts(lo)} AND __time < {_sql_ts(hi)} "
             f"AND l_returnflag IN ('{flags[0]}', '{flags[1]}')")
    sql = ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
           "SUM(l_quantity) AS qty, AVG(l_extendedprice) AS price "
           f"FROM lineitem WHERE {where} GROUP BY 1, 2")
    oracle = ("SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity), "
              f"avg(l_extendedprice) FROM lineitem WHERE {where} GROUP BY 1, 2")
    return Query("sql_lineitem_flags", SQL, {"query": sql}, "object",
                 ["l_returnflag", "l_linestatus", "n", "qty", "price"],
                 "ssiff", oracle)


def _sql_top_users(r: random.Random) -> Query:
    d = r.randint(0, 20)
    et = r.choice(EVENT_TYPES)
    k = 20
    lo, hi = _jan(d), _jan(d + 7)
    where = (f"__time >= {_sql_ts(lo)} AND __time < {_sql_ts(hi)} "
             f"AND event_type = '{et}'")
    sql = (f'SELECT user_id, SUM("value") AS v, COUNT(*) AS n FROM events '
           f"WHERE {where} GROUP BY user_id ORDER BY v DESC LIMIT {k}")
    oracle = (f"SELECT user_id, sum(value) v, count(*) FROM events "
              f"WHERE {where} GROUP BY user_id ORDER BY v DESC LIMIT {k}")
    return Query("sql_top_users", SQL, {"query": sql}, "object",
                 ["user_id", "v", "n"], "ifi", oracle)


def _sql_lineitem_daily(r: random.Random) -> Query:
    d = r.randint(0, 2400)
    status = r.choice(["F", "O"])
    lo, hi = _ship(d), _ship(d + 30)
    where = (f"__time >= {_sql_ts(lo)} AND __time < {_sql_ts(hi)} "
             f"AND l_linestatus = '{status}'")
    sql = ("SELECT TIME_FLOOR(__time, 'P1D') AS d, COUNT(*) AS n, "
           f"SUM(l_extendedprice) AS price FROM lineitem WHERE {where} "
           "GROUP BY 1")
    oracle = ("SELECT epoch_ms(date_trunc('day', __time)), count(*), "
              f"sum(l_extendedprice) FROM lineitem WHERE {where} GROUP BY 1")
    return Query("sql_lineitem_daily", SQL, {"query": sql}, "object",
                 ["d", "n", "price"], "tif", oracle)


# An odd number of panels: with whole passes each panel contributes the same
# number of samples, and with an even count the median (and p90) would fall
# in the gap between two panels' latency clusters, where it jumps between
# their edges from run to run.
DASHBOARD_PANELS = [_ts_hour_filtered, _ts_day, _ts_hour, _topn_users,
                    _groupby_events, _groupby_lineitem, _sql_hourly,
                    _sql_daily_types, _sql_lineitem_flags, _sql_top_users,
                    _sql_lineitem_daily]


def dashboard_pool(seed: int) -> list[Query]:
    """One panel per template.  The seed draws where each panel looks (its
    days, event types, flags); interval lengths and thresholds are fixed so
    that every seed asks for the same amount of work."""
    r = random.Random(seed)
    return [make(r) for make in DASHBOARD_PANELS]


# ---------------------------------------------------------------------------
# expected answers and response checks
# ---------------------------------------------------------------------------

def duckdb_connection(data_dir: str):
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT *, ts AS __time FROM "
                f"read_parquet('{os.path.join(data_dir, 'events.parquet')}')")
    con.execute(f"CREATE VIEW lineitem AS SELECT *, l_shipdate AS __time "
                f"FROM read_parquet("
                f"'{os.path.join(data_dir, 'lineitem.parquet')}')")
    return con


def attach_expected(pool: list[Query], data_dir: str) -> None:
    con = duckdb_connection(data_dir)
    try:
        for q in pool:
            rows = con.execute(q.oracle).fetchall()
            q.expected = _canonical([_norm_row(row, q.kinds) for row in rows],
                                    q.kinds)
    finally:
        con.close()


_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _to_ms(v):
    if v is None or isinstance(v, int):
        return v
    return (dt.datetime.fromisoformat(v) - _EPOCH) // dt.timedelta(
        milliseconds=1)


def _norm_cell(v, kind):
    if v is None or v == "":
        return None
    if kind == "t":
        return _to_ms(v)
    if kind == "i":
        return int(v)
    if kind == "f":
        return float(v)
    return str(v)


def _norm_row(row, kinds):
    return tuple(_norm_cell(v, k) for v, k in zip(row, kinds))


def _canonical(rows, kinds):
    exact = [i for i, k in enumerate(kinds) if k != "f"]
    inexact = [i for i, k in enumerate(kinds) if k == "f"]

    def key(row):
        return (tuple((row[i] is None, row[i] or 0) if kinds[i] in "tif"
                      else (row[i] is None, row[i] or "") for i in exact),
                tuple(round(row[i] or 0.0, 6) for i in inexact))
    return sorted(rows, key=key)


def parse_rows(q: Query, body: bytes) -> list[tuple]:
    """Response body → rows of raw cells in ``q.cols`` order."""
    doc = json.loads(body)
    if q.shape == "timeseries":
        return [(e["timestamp"], *(e["result"][c] for c in q.cols))
                for e in doc]
    if q.shape == "topN":
        return [tuple(r[c] for c in q.cols) for e in doc for r in e["result"]]
    if q.shape == "groupBy":
        return [(e["timestamp"], *(e["event"][c] for c in q.cols))
                for e in doc]
    if q.shape == "groupByAll":
        return [tuple(e["event"][c] for c in q.cols) for e in doc]
    # SQL object format
    return [tuple(r[c] for c in q.cols) for r in doc]


def check(q: Query, body: bytes) -> bool:
    """True when the response holds exactly the expected rows."""
    try:
        got = _canonical([_norm_row(r, q.kinds) for r in parse_rows(q, body)],
                         q.kinds)
    except (ValueError, KeyError, TypeError, IndexError):
        return False
    if len(got) != len(q.expected):
        return False
    for a, b in zip(got, q.expected):
        for x, y, k in zip(a, b, q.kinds):
            if k == "f":
                if (x is None) != (y is None) or (
                        x is not None and not math.isclose(
                            x, y, rel_tol=1e-6, abs_tol=1e-6)):
                    return False
            elif x != y:
                return False
    return True
