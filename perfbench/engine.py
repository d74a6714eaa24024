"""The engine under test, as a server subprocess or in this process, and
readings of its process tree taken from /proc (no psutil here).

The engine's process tree is the Python process that hosts it plus the JVM
it launches; its CPU time is user + system time summed over the tree, and
its peak RSS is the sum of each process's high-water mark (VmHWM).
"""

from __future__ import annotations

import http.client
import os
import signal
import socket
import subprocess
import sys
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_seconds(pid: int) -> float:
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / CLK_TCK


def rss_peak_mb(pid: int) -> float:
    kb = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


HEAP = "1g"
# For the engine's JVM only (the server's, or this process's when the engine
# runs here), not for the control session or spark-submit's launcher JVM.
ENGINE_ONLY_ENV = {"PYSPARK_SUBMIT_ARGS": (
    f'--driver-java-options "-Xms{HEAP} -XX:+AlwaysPreTouch" pyspark-shell')}


def set_engine_env(root: str, work: str) -> None:
    """Environment for this process and every JVM it starts: the engine
    uses all cores, as tier-1 does, and every scratch file (Spark local
    dirs, JVM and Python temp files) stays in the work dir.

    The engine's heap is fixed at HEAP: ``SPARK_DRIVER_MEMORY`` (read by
    ``get_spark``) sets its maximum, and ENGINE_ONLY_ENV sets its initial
    size to the same value and touches every page of it at start-up.  The
    heap's share of RSS is then the same in every run, and peak RSS moves
    with what the engine holds outside it: metaspace, code cache, thread
    stacks, native buffers and the Python process.  With a heap that G1
    sizes by policy, peak RSS measured that policy: under the default 16g
    cap it ranged over 3.4-5.3 GB on dashboard between runs of one commit,
    and under a 1g cap G1 committed 439 MB of heap in one ingest run and up
    to 200 MB more in others, by its GC-time goal, which the host's speed
    moves."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 4),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_DRIVER_MEMORY": HEAP,
        "PYTHONPATH": root,
    })


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Server:
    """``python -m incubator_druid_spark.server`` as a subprocess in its own
    process group.  ``setup_s`` runs from spawn to the first 200 on
    /status."""

    def __init__(self, work: str, data_dir: str, timeout=120.0):
        self.port = _free_port()
        log = open(os.path.join(work, "server.log"), "ab")
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "incubator_druid_spark.server",
             "--port", str(self.port), "--data-dir", data_dir],
            cwd=work, env={**os.environ, **ENGINE_ONLY_ENV}, stdout=log,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True)
        log.close()
        try:
            while not self._ready():
                if self.proc.poll() is not None:
                    raise RuntimeError("server exited during start-up; see "
                                       f"{work}/server.log")
                if time.perf_counter() - t0 > timeout:
                    raise RuntimeError("server did not answer /status")
                time.sleep(0.02)
        except BaseException:
            self.stop()
            raise
        self.setup_s = time.perf_counter() - t0

    def _ready(self) -> bool:
        try:
            conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                              timeout=5)
            conn.request("GET", "/status")
            ok = conn.getresponse().status == 200
            conn.close()
            return ok
        except OSError:
            return False

    def stop(self) -> None:
        """Terminate the whole process group (server and JVM) and wait."""
        pids = process_tree(self.proc.pid)
        try:
            os.killpg(self.proc.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        try:
            self.proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            os.killpg(self.proc.pid, signal.SIGKILL)
            self.proc.wait()
        _wait_gone(pids)


def _wait_gone(pids: list[int], timeout=20.0) -> None:
    deadline = time.time() + timeout
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            try:
                with open(f"/proc/{p}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # zombie: finished, awaiting its reaper
            except OSError:
                break
            time.sleep(0.05)
        if time.time() >= deadline:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def start_in_process(data_dir: str, work: str):
    """The engine in this process, set up the way the server sets itself up
    (``get_spark`` + ``load_catalog``).  Returns (spark, catalog, seconds)."""
    os.environ.update(ENGINE_ONLY_ENV)
    t0 = time.perf_counter()
    from incubator_druid_spark import get_spark
    from incubator_druid_spark.catalog import load_catalog
    spark = get_spark("druid-spark-bench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
    spark.sparkContext.setLogLevel("ERROR")
    catalog = load_catalog(spark, data_dir)
    return spark, catalog, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session and wait for its JVM to exit (the gateway JVM
    exits when its stdin closes)."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
