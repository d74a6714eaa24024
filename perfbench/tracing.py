"""Spans around the calls into each layer, recorded from the benchmark.

The traced run wraps, by name, the functions each layer is entered through
(``api.native_query``/``api.sql_query``, the ``translate`` that ``api``
calls, ``sql.functions.druid_sql``, ``sources.ingest.ingest``/
``read_input``/``apply_data_schema`` and ``Catalog.table``), brackets each op
with a Spark job group on the calling thread, and keeps spans in memory:
name, start, end, parent, op id.  When the traced window ends it adds the
spans the JVM reports for each op (Catalyst phases from the op's
``QueryPlanningTracker``, Spark jobs and their stages from the status
store), writes everything to one JSON file, and computes each layer's self
time from that file: a span's duration minus the part its children cover.
"""

from __future__ import annotations

import contextlib
import gc
import itertools
import json
import threading
import time
from collections import defaultdict

CATALYST_PHASES = ("analysis", "optimization", "planning")
STAGE_FIELDS = {  # StageData getter -> per-op metric
    "executorRunTime": "spark.executor_run_ms_per_op",
    "inputBytes": "spark.input_bytes_per_op",
    "shuffleWriteBytes": "spark.shuffle_bytes_per_op",
    "diskBytesSpilled": "spark.spill_bytes_per_op",
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self.ops: dict[int, dict] = defaultdict(lambda: {"dfs": []})
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._gc_start = 0.0
        self.python_gc_s = 0.0
        gc.callbacks.append(self._on_gc)

    # -- recording ---------------------------------------------------------
    def _on_gc(self, phase, info):
        if not self.enabled:
            return
        if phase == "start":
            self._gc_start = time.perf_counter()
        elif self._gc_start:
            self.python_gc_s += time.perf_counter() - self._gc_start

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name, op=None, parent=None):
        """Record a span on this thread; nested spans become its children.
        ``op``/``parent`` start a new op context (e.g. in a request thread)."""
        stack = self._stack()
        if op is None and stack:
            op = stack[-1]["op"]
        if parent is None and stack:
            parent = stack[-1]["id"]
        s = {"id": next(self._ids), "name": name, "op": op,
             "parent": parent, "start": time.time(), "end": None}
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, keep_df=False) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span while
        tracing is on; ``keep_df`` keeps the returned DataFrame so its
        Catalyst phases can be read after the window."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            if not self.enabled or not self._stack():
                return orig(*args, **kwargs)
            with self.span(name) as s:
                out = orig(*args, **kwargs)
            if keep_df:
                self.ops[s["op"]]["dfs"].append(out)
            return out

        setattr(owner, attr, wrapper)

    @contextlib.contextmanager
    def job_group(self, op: int):
        """Tag the Spark jobs this thread submits inside the block with the
        op's job group."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-op-{op}", "perfbench traced op", False)
        try:
            yield
        finally:
            sc._jsc.sc().clearJobGroup()

    # -- after the window --------------------------------------------------
    def collect_jvm_spans(self) -> dict[str, float]:
        """Add Catalyst-phase and Spark-job spans for every traced op and
        return the stage totals over all ops."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store, tracker = jsc.statusStore(), sc.statusTracker()
        totals: dict[str, float] = defaultdict(float)
        for op, meta in self.ops.items():
            for df in meta["dfs"]:
                phases = df._jdf.queryExecution().tracker().phases()
                for ph in CATALYST_PHASES:
                    opt = phases.get(ph)
                    if opt.isDefined():
                        p = opt.get()
                        self._synth(f"catalyst.{ph}", op,
                                    p.startTimeMs(), p.endTimeMs())
            for job_id in tracker.getJobIdsForGroup(f"perfbench-op-{op}"):
                job = store.job(job_id)
                if job.completionTime().isEmpty():
                    continue
                self._synth("spark.job", op,
                            job.submissionTime().get().getTime(),
                            job.completionTime().get().getTime())
                totals["spark.jobs"] += 1
                ids = job.stageIds()
                for i in range(ids.size()):
                    st = store.lastStageAttempt(ids.apply(i))
                    if st.status().toString() != "COMPLETE":
                        continue  # skipped: its output was reused
                    totals["spark.stages"] += 1
                    totals["spark.tasks"] += st.numCompleteTasks()
                    totals["spark.executor_cpu_ns"] += st.executorCpuTime()
                    for field, metric in STAGE_FIELDS.items():
                        totals[metric] += getattr(st, field)()
        return totals

    def _synth(self, name, op, start_ms, end_ms):
        start, end = start_ms / 1000.0, end_ms / 1000.0
        # parent: the innermost recorded engine-side span of the op that
        # contains the start (clock resolution of the JVM is 1 ms)
        best = None
        for s in self.spans:
            if (s["op"] == op and s["name"] != "request"
                    and s["start"] - 0.001 <= start <= s["end"] + 0.001
                    and (best is None or s["end"] - s["start"]
                         < best["end"] - best["start"])):
                best = s
        self.spans.append({"id": next(self._ids), "name": name, "op": op,
                           "parent": best["id"] if best else None,
                           "start": start, "end": max(end, start)})


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time in ms: duration minus the union of its
    children's intervals, clipped to the span."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(0.0, (s["end"] - s["start"] - covered) * 1000.0)
    return out


def write(path: str, spans: list[dict]) -> None:
    with open(path, "w") as fh:
        json.dump({"spans": spans}, fh)


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return json.load(fh)["spans"]
