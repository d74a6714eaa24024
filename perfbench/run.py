"""End-to-end benchmark of the Druid-on-Spark engine.

    python3 perfbench/run.py --workload dashboard|ingest --seed N
                             --seconds S --trace 0|1

Run from the root of a checkout.  ``dashboard`` sends Druid native JSON and
Druid SQL over loopback HTTP to ``incubator_druid_spark.server`` running as
a subprocess; ``ingest`` calls ``sources.ingest.ingest`` in this
process (the server has no ingest endpoint).  Every answer is checked: query
responses against DuckDB over the same parquet, ingests against the input
generator's totals.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` hosts the engine
in this process (HTTP requests go through a handler built by
``server.make_handler`` here), runs a traced window between two untraced
ones, and prints the per-layer metrics; the spans are written
to ``.perfbench/trace-<workload>-<seed>.json``.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import http.client
import itertools
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT]

import data  # noqa: E402
import engine  # noqa: E402
import queries  # noqa: E402

INGEST_FILES = 3         # input files, ingested round-robin
INGEST_WARM_PASSES = 6   # warm-up passes over the files: 18 ops
CONTROL_PY_ITERS = 60_000
CONTROL_RANGE = 20_000_000


# ---------------------------------------------------------------------------
# ambient control: fixed work that touches no package code
# ---------------------------------------------------------------------------

def control_session():
    """A small session of this process's own, for the control's Spark job
    while the engine runs in the server subprocess."""
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.appName("perfbench-control")
             .master("local[2]").config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "512m").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def start_control(holder: dict) -> None:
    """Start the control session and run the control once, unrecorded, so
    the recorded readings do not include its JVM's first job."""
    holder["spark"] = control_session()
    control_ms(holder["spark"])


def control_ms(spark) -> tuple[float, float]:
    """(pure-Python loop ms, fixed spark.range aggregation ms)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(CONTROL_PY_ITERS):
        acc += len(json.dumps({"i": i, "pad": "x" * (i % 17)}))
    t1 = time.perf_counter()
    spark.range(0, CONTROL_RANGE, 1, 4).selectExpr("sum(id % 7)").collect()
    t2 = time.perf_counter()
    return (t1 - t0) * 1000.0, (t2 - t1) * 1000.0


# ---------------------------------------------------------------------------
# load generation and op records
# ---------------------------------------------------------------------------

class Op:
    """One timed op: start and end (perf_counter s), what it sent (a pooled
    query or an input file), whether its answer was right (None until
    checked), the rows it returned or ingested, and a body kept for a
    check after the window."""
    __slots__ = ("t0", "t1", "query", "ok", "rows", "body")

    def __init__(self, t0, t1, query, ok, rows, body=None):
        self.t0, self.t1, self.query, self.ok = t0, t1, query, ok
        self.rows, self.body = rows, body


def post(port: int, q, headers=None) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=150)
    try:
        conn.request("POST", q.path, body=q.payload,
                     headers={"Content-Type": "application/json",
                              **(headers or {})})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def warm_up(port: int, pool, clients: int, seed: int) -> int:
    """DASHBOARD_WARM_PASSES whole passes per client before the timed
    window.  The first sends every query shape and checks every answer in
    full, which records the digests of the correct bodies.  The second
    takes the JIT further along its curve: in a fresh server the median
    latency per 22 queries fell from about 1050 ms to 550 ms to 360 ms and
    was flat within the host's noise after that.  Two passes are the first
    22 queries of that curve; more do not fit the time budget.  Returns the
    number of failures."""
    return sum(1 for k in range(DASHBOARD_WARM_PASSES)
               for o in http_window(port, pool, clients, 0, seed + 1 + 10 * k)
               if not o.ok)


def http_window(port, pool, clients, seconds, seed, tracer=None) -> list[Op]:
    """Closed loop: ``clients`` threads, each walking its own seeded
    shuffle of the pool in whole passes, until a pass ends after
    ``seconds`` have passed.  Whole passes keep the mix of panels the same
    in every window, so the latency percentiles do not move with where a
    window happened to cut the pool.  A body whose digest was verified in
    warm-up counts as correct at once; any other body is kept and checked
    after the window, and its digest is remembered if it is correct."""
    ops: list[Op] = []
    lock = threading.Lock()
    op_ids = itertools.count(1)
    start = time.perf_counter()
    deadline = start + seconds

    def client(k):
        order = list(pool)
        random.Random(seed * 1000 + k).shuffle(order)
        mine = []
        for i in itertools.count():
            if i and i % len(order) == 0 and time.perf_counter() >= deadline:
                break
            q = order[i % len(order)]
            if tracer is None:
                t0 = time.perf_counter()
                status, body = post(port, q)
                t1 = time.perf_counter()
            else:
                op = next(op_ids)
                tracer.ops[op]["query_type"] = q.query_type
                with tracer.span("request", op=op) as s:
                    t0 = time.perf_counter()
                    status, body = post(port, q, {"X-Bench-Op": str(op),
                                                  "X-Bench-Span": str(s["id"])})
                    t1 = time.perf_counter()
                tracer.ops[op]["response_bytes"] = len(body)
                tracer.ops[op]["rows"] = len(q.expected)
            known = status == 200 and hashlib.sha1(body).digest() in q.verified
            mine.append(Op(t0, t1, q, True if known else None,
                           len(q.expected), None if known else (status, body)))
        with lock:
            ops.extend(mine)

    threads = [threading.Thread(target=client, args=(k,))
               for k in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for op in ops:
        if op.ok is None:
            status, body = op.body
            op.ok = status == 200 and queries.check(op.query, body)
            op.body = None
            if op.ok:
                op.query.verified.add(hashlib.sha1(body).digest())
            else:
                print(f"  wrong answer for {op.query.name} (HTTP {status})",
                      file=sys.stderr)
    return sorted(ops, key=lambda o: o.t0)


# ---------------------------------------------------------------------------
# summaries
# ---------------------------------------------------------------------------

def percentile(values, p):
    return float(np.percentile(values, p))


def window_stats(ops: list[Op]) -> dict:
    lat = [(o.t1 - o.t0) * 1000.0 for o in ops]
    start = min(o.t0 for o in ops)
    elapsed = max(o.t1 for o in ops) - start
    mid = start + elapsed / 2
    first = [(o.t1 - o.t0) * 1000.0 for o in ops if o.t0 < mid]
    second = [(o.t1 - o.t0) * 1000.0 for o in ops if o.t0 >= mid]
    return {"ops": len(ops), "elapsed": elapsed,
            "failed": sum(1 for o in ops if not o.ok),
            "qps": len(ops) / elapsed,
            "p50": percentile(lat, 50), "p90": percentile(lat, 90),
            "rows_per_s": sum(o.rows for o in ops) / elapsed,
            "halves": (statistics.median(first) if first else float("nan"),
                       statistics.median(second) if second else float("nan")),
            "distinct": len({o.query for o in ops})}


def end_to_end(st: dict, setup_s, cpu_s, rss_mb) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "qps": {"value": st["qps"], "unit": "1/s"},
        "latency_p50_ms": {"value": st["p50"], "unit": "ms"},
        "latency_p90_ms": {"value": st["p90"], "unit": "ms"},
        "cpu_ms_per_op": {"value": cpu_s * 1000.0 / st["ops"], "unit": "ms"},
        "rows_per_s": {"value": st["rows_per_s"], "unit": "rows/s"},
        "rss_peak_mb": {"value": rss_mb, "unit": "MB"},
    }


def report(workload, seed, st, metrics, controls, extra=()):
    print(f"{workload} seed={seed}: {st['ops']} ops in {st['elapsed']:.1f} s, "
          f"{st['distinct']} distinct inputs "
          f"(repeat share {1 - st['distinct'] / st['ops']:.0%})")
    for name, m in metrics.items():
        print(f"  {name:<40} {m['value']:>14.4f} {m['unit']}")
    print(f"  {'error_rate':<40} {st['failed'] / st['ops']:>14.4f} ratio "
          f"({st['failed']}/{st['ops']})")
    print(f"  latency_p50_ms by half of the window: first "
          f"{st['halves'][0]:.1f}, second {st['halves'][1]:.1f}")
    print(f"  p90 rests on {st['ops']} samples "
          f"({int(st['ops'] * 0.1)} beyond it)")
    for label, (py, sp) in controls:
        print(f"  control_ms at {label}: {py + sp:.1f} "
              f"(python {py:.1f}, spark.range {sp:.1f})")
    for line in extra:
        print("  " + line)


def phases(marks) -> str:
    return "run time by phase (s): " + ", ".join(
        f"{label} {t1 - t0:.1f}"
        for (_, t0), (label, t1) in zip(marks, marks[1:]))


def emit(correct, attempted, failed, metrics):
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


# ---------------------------------------------------------------------------
# dashboard: HTTP
# ---------------------------------------------------------------------------

DASHBOARD_CLIENTS = 1
DASHBOARD_WARM_PASSES = 2


def run_dashboard(seed, seconds, data_dir):
    pool, clients = queries.dashboard_pool(seed), DASHBOARD_CLIENTS
    queries.attach_expected(pool, data_dir)
    server, control = None, {}
    marks = [("prepare", time.perf_counter())]
    try:
        server = engine.Server(WORK, data_dir)
        marks.append(("setup", time.perf_counter()))
        # the control's own JVM starts while the unmeasured warm-up runs
        starter = threading.Thread(target=start_control, args=(control,))
        starter.start()
        warm_failed = warm_up(server.port, pool, clients, seed)
        starter.join()
        marks.append(("warm-up", time.perf_counter()))
        controls = [("start", control_ms(control["spark"]))]
        cpu0 = engine.cpu_seconds(server.proc.pid)
        ops = http_window(server.port, pool, clients, seconds, seed)
        cpu1 = engine.cpu_seconds(server.proc.pid)
        marks.append(("window", time.perf_counter()))
        controls.append(("end", control_ms(control["spark"])))
        rss = engine.rss_peak_mb(server.proc.pid)
    finally:
        if server is not None:
            server.stop()
        if "spark" in control:
            engine.shutdown(control["spark"])
    marks.append(("teardown", time.perf_counter()))
    st = window_stats(ops)
    metrics = end_to_end(st, server.setup_s, cpu1 - cpu0, rss)
    report("dashboard", seed, st, metrics, controls,
           [f"pool: {len(pool)} queries, result rows per pass "
            f"{sum(len(q.expected) for q in pool)}", phases(marks)])
    emit(warm_failed == 0 and st["failed"] == 0, st["ops"],
         st["failed"] + warm_failed, metrics)


def run_dashboard_traced(seed, seconds, data_dir):
    from http.server import ThreadingHTTPServer

    import tracing
    from incubator_druid_spark import api, server as server_mod
    from incubator_druid_spark.catalog import Catalog
    from incubator_druid_spark.sql import functions as sql_functions

    pool, clients = queries.dashboard_pool(seed), DASHBOARD_CLIENTS
    queries.attach_expected(pool, data_dir)
    spark, catalog, _ = engine.start_in_process(data_dir, WORK)
    tracer = tracing.Tracer(spark)
    tracer.wrap(api, "native_query", "api.native_query")
    tracer.wrap(api, "sql_query", "api.sql_query")
    tracer.wrap(api, "translate", "translate", keep_df=True)
    tracer.wrap(sql_functions, "druid_sql", "sql.druid_sql", keep_df=True)
    tracer.wrap(Catalog, "table", "catalog.table")
    base = server_mod.make_handler(spark, catalog)

    class TracedHandler(base):
        def do_POST(self):
            op = self.headers.get("X-Bench-Op")
            if not tracer.enabled or op is None:
                return super().do_POST()
            with tracer.job_group(int(op)), tracer.span(
                    "server", op=int(op),
                    parent=int(self.headers["X-Bench-Span"])):
                super().do_POST()

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), TracedHandler)
    serving = threading.Thread(target=httpd.serve_forever)
    serving.start()
    port = httpd.server_address[1]
    try:
        warm_failed = warm_up(port, pool, clients, seed)
        controls = [("start", control_ms(spark))]
        # untraced windows on both sides of the traced one, so the JIT's
        # remaining trend does not read as tracing overhead
        plain = http_window(port, pool, clients, seconds / 4, seed)
        gc0 = tracing.jvm_gc_ms(spark)
        tracer.enabled = True
        traced = http_window(port, pool, clients, seconds / 2, seed + 2,
                             tracer=tracer)
        tracer.enabled = False
        gc1 = tracing.jvm_gc_ms(spark)
        plain += http_window(port, pool, clients, seconds / 4, seed + 3)
        controls.append(("end", control_ms(spark)))
        totals = tracer.collect_jvm_spans()
    finally:
        httpd.shutdown()
        serving.join()
        httpd.server_close()
        engine.shutdown(spark)
    path = os.path.join(WORK, f"trace-dashboard-{seed}.json")
    tracing.write(path, tracer.spans)
    finish_trace("dashboard", seed, path, tracer, totals, traced, plain,
                 (gc1 - gc0), controls, warm_failed)


# ---------------------------------------------------------------------------
# ingest workload
# ---------------------------------------------------------------------------

def ingest_spec(name: str, path: str) -> dict:
    return {"dataSchema": {
                "dataSource": name,
                "timestampSpec": {"column": "ts", "format": "millis"},
                "dimensionsSpec": {"dimensions": ["event_type", "country"]},
                "metricsSpec": [
                    {"type": "count", "name": "count"},
                    {"type": "doubleSum", "name": "value_sum",
                     "fieldName": "value"},
                    {"type": "longMax", "name": "latency_max",
                     "fieldName": "latency_ms"}],
                "granularitySpec": {"segmentGranularity": "day",
                                    "queryGranularity": "hour",
                                    "rollup": True}},
            "ioConfig": {"inputSource": {"type": "local", "files": [path]},
                         "inputFormat": {"type": "json"}}}


def verify_query(name: str) -> dict:
    return {"queryType": "timeseries", "dataSource": name,
            "granularity": "all",
            "intervals": ["2024-02-01T00:00:00Z/2024-04-01T00:00:00Z"],
            "aggregations": [
                {"type": "count", "name": "stored_rows"},
                {"type": "longSum", "name": "rows", "fieldName": "count"},
                {"type": "doubleSum", "name": "value_sum",
                 "fieldName": "value_sum"},
                {"type": "longMax", "name": "latency_max",
                 "fieldName": "latency_max"}]}


def verify_ok(result: list, expected: dict) -> bool:
    if len(result) != 1:
        return False
    got = result[0]["result"]
    return (got["stored_rows"] == expected["stored_rows"]
            and got["rows"] == expected["rows"]
            and got["latency_max"] == expected["latency_max"]
            and abs(got["value_sum"] - expected["value_sum"])
            <= 1e-6 * abs(expected["value_sum"]))


class IngestLoop:
    """One op: ingest one input file with rollup into the file's own
    datasource, replacing its previous version (overwrite, into an emptied
    directory), then one timeseries over it whose totals must equal the
    generator's.  Reusing one datasource per file keeps the catalog the
    same size in every op: with a new name per op the catalog grew by one
    datasource an op and op latency rose with the op count, so a window's
    median depended on how many ops the host managed before it."""

    def __init__(self, spark, catalog, files, tracer=None):
        from incubator_druid_spark import api
        from incubator_druid_spark.sources import ingest as ingest_mod
        self.api, self.ingest_mod = api, ingest_mod
        self.spark, self.catalog, self.files = spark, catalog, files
        self.tracer = tracer
        self.segments = os.path.join(WORK, "segments")
        shutil.rmtree(self.segments, ignore_errors=True)
        os.makedirs(self.segments)
        self.n = 0

    def op(self) -> Op:
        i, self.n = self.n, self.n + 1
        f = self.files[i % len(self.files)]
        name = f"bench_ingest_{i % len(self.files)}"
        traced = self.tracer is not None and self.tracer.enabled
        with contextlib.ExitStack() as scope:
            if traced:
                self.tracer.ops[i]["query_type"] = "ingest"
                scope.enter_context(self.tracer.job_group(i))
                scope.enter_context(self.tracer.span("ingest.op", op=i))
            t0 = time.perf_counter()
            self.ingest_mod.ingest(self.spark, ingest_spec(name, f["path"]),
                                   self.catalog, self.segments)
            with (self.tracer.span("ingest.verify") if traced
                  else contextlib.nullcontext()):
                result = self.api.native_query(verify_query(name),
                                               self.spark, self.catalog)
            t1 = time.perf_counter()
        ok = verify_ok(result, f)
        if not ok:
            print(f"  ingest {name}: totals {result} != {f}", file=sys.stderr)
        out = os.path.join(self.segments, name)
        if traced:
            sizes = [os.path.getsize(os.path.join(d, x))
                     for d, _, xs in os.walk(out) for x in xs
                     if x.endswith(".parquet")]
            self.tracer.ops[i].update(
                files_written=len(sizes), bytes_written=sum(sizes),
                rows=len(result),
                rows_in=f["rows"], stored_rows=f["stored_rows"])
        shutil.rmtree(out, ignore_errors=True)
        return Op(t0, t1, f["path"], ok, f["rows"])

    def window(self, seconds) -> list[Op]:
        """Ops until ``seconds`` have passed, closing at the end of a whole
        pass over the input files, so every window sees the same files."""
        deadline = time.perf_counter() + seconds
        ops = [self.op()]
        while self.n % len(self.files) or time.perf_counter() < deadline:
            ops.append(self.op())
        return ops


def ingest_inputs(seed: int) -> list[dict]:
    out = os.path.join(WORK, "ingest-input")
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "data.py"), "ingest",
                    out, str(seed), str(INGEST_FILES)], check=True)
    with open(os.path.join(out, "totals.json")) as fh:
        return json.load(fh)


def run_ingest(seed, seconds, data_dir, traced):
    marks = [("prepare", time.perf_counter())]
    files = ingest_inputs(seed)
    marks.append(("input generation", time.perf_counter()))
    spark, catalog, setup_s = engine.start_in_process(data_dir, WORK)
    marks.append(("setup", time.perf_counter()))
    try:
        tracer = None
        if traced:
            import tracing
            from incubator_druid_spark import api
            from incubator_druid_spark.catalog import Catalog
            from incubator_druid_spark.sources import ingest as ingest_mod
            tracer = tracing.Tracer(spark)
            tracer.wrap(ingest_mod, "ingest", "ingest.ingest")
            tracer.wrap(ingest_mod, "read_input", "ingest.read_input")
            tracer.wrap(ingest_mod, "apply_data_schema",
                        "ingest.apply_data_schema")
            tracer.wrap(api, "native_query", "api.native_query")
            tracer.wrap(api, "translate", "translate", keep_df=True)
            tracer.wrap(Catalog, "table", "catalog.table")
        loop = IngestLoop(spark, catalog, files, tracer)
        # warm-up: a fixed number of ops, past JSON schema inference (the
        # first op, about 11 s) and the steep part of the JIT curve of the
        # per-op planning and scheduling code, along which op latency fell
        # from about 2.2 s to 1.1 s over the next 10 ops and more slowly
        # after.  A count rather than a time, so that a slow host does not
        # start its window earlier on that curve.
        warm_failed = sum(1 for _ in range(INGEST_WARM_PASSES)
                          for o in loop.window(0) if not o.ok)
        control_ms(spark)  # unrecorded: its first job compiles its code
        marks.append(("warm-up", time.perf_counter()))
        controls = [("start", control_ms(spark))]
        cpu0 = engine.cpu_seconds(os.getpid())
        ops = loop.window(seconds / 4 if traced else seconds)
        cpu1 = engine.cpu_seconds(os.getpid())
        if traced:
            plain = ops
            gc0 = tracing.jvm_gc_ms(spark)
            tracer.enabled = True
            ops = loop.window(seconds / 2)
            tracer.enabled = False
            gc1 = tracing.jvm_gc_ms(spark)
            plain += loop.window(seconds / 4)
        marks.append(("window", time.perf_counter()))
        controls.append(("end", control_ms(spark)))
        rss = engine.rss_peak_mb(os.getpid())
        totals = tracer.collect_jvm_spans() if traced else None
    finally:
        engine.shutdown(spark)
    marks.append(("teardown", time.perf_counter()))
    if traced:
        path = os.path.join(WORK, f"trace-ingest-{seed}.json")
        tracing.write(path, tracer.spans)
        finish_trace("ingest", seed, path, tracer, totals, ops, plain,
                     gc1 - gc0, controls, warm_failed)
        return
    st = window_stats(ops)
    metrics = end_to_end(st, setup_s, cpu1 - cpu0, rss)
    report("ingest", seed, st, metrics, controls,
           ["rollup ratio (input rows / stored rows): "
            + ", ".join(f"{f['rows'] / f['stored_rows']:.2f}" for f in files),
            phases(marks)])
    emit(warm_failed == 0 and st["failed"] == 0, st["ops"],
         st["failed"] + warm_failed, metrics)


# ---------------------------------------------------------------------------
# per-layer metrics from the trace file
# ---------------------------------------------------------------------------

PER_LAYER = [  # name, unit
    ("server.http_ms", "ms"), ("server.response_bytes", "bytes"),
    ("api.result_ms", "ms"), ("api.rows_out", "rows"),
    ("python.gc_ms_per_op", "ms"),
    ("translator.translate_ms", "ms"),
    ("translator.translate_ms.timeseries", "ms"),
    ("translator.translate_ms.topN", "ms"),
    ("translator.translate_ms.groupBy", "ms"),
    ("translator.translate_ms.scan", "ms"),
    ("sql.druid_sql_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.job_ms_per_op", "ms"),
    ("spark.executor_run_ms_per_op", "ms"),
    ("spark.executor_cpu_ms_per_op", "ms"),
    ("spark.input_bytes_per_op", "bytes"),
    ("spark.shuffle_bytes_per_op", "bytes"),
    ("spark.spill_bytes_per_op", "bytes"),
    ("jvm.gc_ms_per_op", "ms"),
    ("catalog.table_ms", "ms"),
    ("ingest.ingest_ms", "ms"), ("ingest.verify_ms", "ms"),
    ("ingest.rollup_ratio", "ratio"), ("ingest.files_written", "count"),
    ("ingest.bytes_written_per_row", "bytes"),
    ("control_ms", "ms"), ("trace.overhead_ms", "ms"),
]
API_SPANS = ("api.native_query", "api.sql_query")


def _mean(values):
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def finish_trace(workload, seed, path, tracer, totals, traced, plain, jvm_gc,
                 controls, warm_failed):
    """Per-layer metrics computed from the written trace file.  A layer the
    workload does not enter reads 0."""
    import tracing
    spans = tracing.load(path)
    selft = tracing.self_times(spans)
    by_op: dict[int, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    for s in spans:
        by_op[s["op"]][s["name"]].append(s)
    ops = sorted(by_op)
    n = len(ops)

    def dur(s):
        return (s["end"] - s["start"]) * 1000.0

    def per_op(name, f=dur):
        return [sum(f(s) for s in by_op[o][name]) for o in ops
                if by_op[o][name]]

    def own(s):
        return selft[s["id"]]

    meta = tracer.ops
    api_ms = {o: sum(dur(s) for a in API_SPANS for s in by_op[o][a])
              for o in ops}
    api_self = [sum(own(s) for a in API_SPANS for s in by_op[o][a])
                for o in ops if api_ms[o]]
    translate_by_type: dict[str, list] = defaultdict(list)
    for o in ops:
        if by_op[o]["translate"]:
            translate_by_type[meta[o]["query_type"]].append(
                sum(own(s) for s in by_op[o]["translate"]))
    http = [sum(dur(s) for s in by_op[o]["request"]) - api_ms[o]
            for o in ops if by_op[o]["request"]]
    first_table = [own(by_op[o]["catalog.table"][0]) for o in ops
                   if by_op[o]["catalog.table"]]
    ingests = [meta[o] for o in ops if "rows_in" in meta[o]]
    stored = sum(m["stored_rows"] for m in ingests)
    tp50 = percentile([(o.t1 - o.t0) * 1000.0 for o in traced], 50)
    up50 = percentile([(o.t1 - o.t0) * 1000.0 for o in plain], 50)
    values = {
        "server.http_ms": _mean(http),
        "server.response_bytes": _mean(meta[o].get("response_bytes", 0)
                                       for o in ops if by_op[o]["request"]),
        "api.result_ms": _mean(api_self),
        "api.rows_out": _mean(meta[o].get("rows", 0) for o in ops),
        "python.gc_ms_per_op": tracer.python_gc_s * 1000.0 / n,
        "translator.translate_ms": _mean(itertools.chain(
            *translate_by_type.values())),
        **{f"translator.translate_ms.{t}": _mean(translate_by_type.get(t, ()))
           for t in ("timeseries", "topN", "groupBy", "scan")},
        "sql.druid_sql_ms": _mean(per_op("sql.druid_sql", own)),
        **{f"catalyst.{ph}_ms": sum(per_op(f"catalyst.{ph}")) / n
           for ph in tracing.CATALYST_PHASES},
        "spark.jobs_per_op": totals["spark.jobs"] / n,
        "spark.stages_per_op": totals["spark.stages"] / n,
        "spark.tasks_per_op": totals["spark.tasks"] / n,
        "spark.job_ms_per_op": sum(per_op("spark.job")) / n,
        "spark.executor_cpu_ms_per_op":
            totals["spark.executor_cpu_ns"] / 1e6 / n,
        **{m: totals[m] / n for m in tracing.STAGE_FIELDS.values()},
        "jvm.gc_ms_per_op": jvm_gc / n,
        "catalog.table_ms": _mean(first_table),
        "ingest.ingest_ms": _mean(per_op("ingest.ingest")),
        "ingest.verify_ms": _mean(per_op("ingest.verify")),
        "ingest.rollup_ratio": (sum(m["rows_in"] for m in ingests) / stored
                                if stored else 0.0),
        "ingest.files_written": _mean(m["files_written"] for m in ingests),
        "ingest.bytes_written_per_row": (sum(m["bytes_written"]
                                             for m in ingests) / stored
                                         if stored else 0.0),
        "control_ms": _mean(py + sp for _, (py, sp) in controls),
        "trace.overhead_ms": tp50 - up50,
    }
    metrics = {name: {"value": float(values[name]), "unit": unit}
               for name, unit in PER_LAYER}

    # self time per span name, per op, and how much of each api span the
    # self times of its subtree account for
    self_by_name: dict[str, float] = defaultdict(float)
    for s in spans:
        self_by_name[s["name"]] += selft[s["id"]]
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)

    def subtree_self(s):
        return selft[s["id"]] + sum(subtree_self(c) for c in kids[s["id"]])
    api_spans = [s for s in spans if s["name"] in API_SPANS]
    accounted = (sum(subtree_self(s) for s in api_spans)
                 / sum(dur(s) for s in api_spans)) if api_spans else 1.0
    failed = sum(1 for o in traced + plain if not o.ok) + warm_failed
    print(f"{workload} seed={seed} traced: {n} traced ops "
          f"({len(traced)} timed), {len(plain)} untraced ops; spans in {path}")
    print("  self time per op by span (ms): " + ", ".join(
        f"{k} {v / n:.1f}" for k, v in sorted(self_by_name.items())))
    print(f"  self times account for {accounted:.1%} of the api spans")
    print(f"  tracing overhead: traced - untraced latency_p50_ms = "
          f"{tp50:.1f} - {up50:.1f} = {tp50 - up50:.1f} ms")
    for name, m in metrics.items():
        print(f"  {name:<40} {m['value']:>14.4f} {m['unit']}")
    for label, (py, sp) in controls:
        print(f"  control_ms at {label}: {py + sp:.1f} "
              f"(python {py:.1f}, spark.range {sp:.1f})")
    emit(failed == 0, len(traced) + len(plain), failed, metrics)


# ---------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["dashboard", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "incubator_druid_spark",
                                       "server.py")):
        print(f"no engine source under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    engine.set_engine_env(ROOT, WORK)
    data_dir = os.path.join(WORK, "tables-v1")
    if not os.path.isdir(data_dir):
        data.write_tables(data_dir)
    if args.workload == "ingest":
        run_ingest(args.seed, args.seconds, data_dir, bool(args.trace))
    elif args.trace:
        run_dashboard_traced(args.seed, args.seconds, data_dir)
    else:
        run_dashboard(args.seed, args.seconds, data_dir)
    return 0


if __name__ == "__main__":
    sys.exit(main())
