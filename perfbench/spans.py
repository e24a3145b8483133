"""Spans, counters and Spark metric readers for the traced run.

Everything here observes the engine from outside: spans wrap calls the
benchmark makes into ``sedona_db_spark``, py4j round trips are counted
by wrapping ``send_command`` (as ``tools/profile_rpc.py`` does), jobs
come from the status tracker, and per-operator SQL metrics come from the
shared SQL status store, which keeps them with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


class RpcCounter:
    """Counts py4j commands sent from this process to the JVM."""

    def __init__(self):
        self.n = 0

    def install(self) -> None:
        import py4j.clientserver as cs
        import py4j.java_gateway as jg
        for cls in (cs.ClientServerConnection, jg.GatewayConnection):
            orig = cls.send_command
            counter = self

            def send_command(conn, *a, _orig=orig, **kw):
                counter.n += 1
                return _orig(conn, *a, **kw)
            cls.send_command = send_command


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    between the processes mapping it (a freshly forked child would
    otherwise count its parent's memory twice)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of this process and every descendant (the
    JVM and its Python workers): the largest sum of their proportional
    set sizes seen by a sampler thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.at_peak: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        per = [_pss_kb(p) for p in _descendants(os.getpid())]
        if sum(per) > self.peak_kb:
            self.peak_kb = sum(per)
            self.at_peak = sorted(per, reverse=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop_mb(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


def last_job_id(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup()
    return max(ids) if ids else -1


def failed_tasks(spark, first_job: int, last_job: int) -> int:
    st = spark.sparkContext.statusTracker()
    n = 0
    for j in range(first_job + 1, last_job + 1):
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is not None:
                n += si.numFailedTasks
    return n


def wait_listeners(spark) -> None:
    """Let the listener bus deliver pending events to the status stores."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def sql_execution_ids(spark) -> list[int]:
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    ids = []
    while it.hasNext():
        ids.append(int(it.next().executionId()))
    return ids


_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
         "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
         "TiB": 1024.0 ** 4}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric ('124 ms (3 ms, ...)', '3.5 KiB',
    '37,072') in seconds, bytes or plain count."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


# (SQL metric name, node-name filter or None) -> ledger key
_METRICS = {
    "time to run Python workers": "python_s",
    "scan time": "scan_s",
    "time to build": "broadcast_build_s",
    "time to collect": "broadcast_build_s",
    "shuffle bytes written": "shuffle_write_b",
    "fetch wait time": "shuffle_fetch_wait_s",
    "spill size": "spill_b",
}
_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
             "MapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
             "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas",
             "PythonMapInArrow")


def execution_ledger(spark, exec_ids: list[int]) -> dict:
    """Sum the per-operator SQL metrics of the given executions."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = {v: 0.0 for v in _METRICS.values()}
    out["python_rows"] = 0.0
    out["scan_rows"] = 0.0
    for eid in exec_ids:
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            is_py = any(node.name().startswith(p) for p in _PY_NODES)
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                key = _METRICS.get(m.name())
                rows = m.name() == "number of output rows" and (
                    "python_rows" if is_py else
                    "scan_rows" if node.name().startswith("Scan") else None)
                if key is None and not rows:
                    continue
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                val = parse_metric(v.get())
                if rows:
                    out[rows] += val
                else:
                    out[key] += val
    return out


def storage_mb(spark) -> float:
    """Memory plus disk held by persisted RDDs / cached plans."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2.0 ** 20
