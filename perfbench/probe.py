"""Counters read from outside the program, and the span recorder.

Everything here observes the program through public surfaces only:

- ``/proc`` for CPU seconds and RSS high-water marks of the process tree
  (driver Python, the JVM, and the JVM's Python workers);
- Spark's status stores (jobs, stages, tasks, SQL plan metrics);
- the JVM's GC MXBeans;
- a Python ``StreamingQueryListener``.
"""

from __future__ import annotations

import os
import re
import time

_TICK = os.sysconf("SC_CLK_TCK")


class ProcTree:
    """CPU and memory of the benchmark process and all its descendants,
    split into the driver (this process), the JVM and the Python workers.

    CPU counts ``utime + stime`` plus the children's reaped times, so a
    worker that exited and was reaped by its parent stays counted."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()
        self.peak_mb = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        self.peak_total = 0.0

    def _procs(self) -> dict[int, tuple[int, str, float]]:
        out: dict[int, tuple[int, str, float]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            comm = raw[raw.index("(") + 1 : raw.rindex(")")]
            f = raw[raw.rindex(")") + 2 :].split()
            cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
            out[int(name)] = (int(f[1]), comm, cpu)
        return out

    def roles(self) -> dict[int, str]:
        """pid -> role for every live process in the tree."""
        procs = self._procs()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        roles = {self.root: "driver"}
        stack = [(self.root, "driver")]
        while stack:
            pid, role = stack.pop()
            for k in kids.get(pid, []):
                comm = procs[k][1]
                r = "jvm" if comm == "java" else ("workers" if role != "driver" else "driver")
                roles[k] = r
                stack.append((k, r))
        self._last = procs
        return roles

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per role."""
        roles = self.roles()
        out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        for pid, role in roles.items():
            if pid in self._last:
                out[role] += self._last[pid][2]
        return out

    def python_rss_mb(self) -> float:
        """Sum of VmRSS over the driver and the Python workers, in MB."""
        total = 0.0
        for pid, role in self.roles().items():
            if role != "jvm":
                total += _status_kb(pid, "VmRSS:") / 1024.0
        return total

    def sample_rss(self) -> None:
        """Sum of VmHWM over the live tree, per role; keeps the peaks seen."""
        now = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        for pid, role in self.roles().items():
            now[role] += _status_kb(pid, "VmHWM:") / 1024.0
        for role, mb in now.items():
            self.peak_mb[role] = max(self.peak_mb[role], mb)
        self.peak_total = max(self.peak_total, sum(now.values()))


def _status_kb(pid: int, field: str) -> int:
    """One kB field of /proc/<pid>/status; 0 once the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Parse one SQL-metric display string to bytes, seconds or a count.
    Multi-task values read ``total (min, med, max ...)\\n<total> (...)``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


# SQL plan metric name -> layer counter
_PY_METRICS = {
    "data sent to Python workers": "operators.arrow_bytes_sent",
    "data returned from Python workers": "operators.arrow_bytes_received",
}
_WRITE_METRICS = {
    "number of written files": "sources.files_written",
    "written output": "sources.write_bytes",
}
# newest SQL executions scanned per op; an op runs far fewer
_MAX_EXECS_PER_OP = 512


class SparkCounters:
    """Per-op deltas from Spark's status stores, GC beans and a streaming
    listener. Call ``mark()`` at a boundary and ``delta(a, b)`` for the
    work between two marks; jobs are attributed by id range, which is
    exact for one closed-loop client."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._gw = spark.sparkContext._gateway
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gc = list(
            self._gw.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._empty = self._gw.jvm.java.util.ArrayList()
        self._no_q = self._gw.new_array(self._gw.jvm.double, 0)
        self.stream = {"streaming.batches": 0.0, "streaming.input_rows": 0.0,
                       "streaming.batch_s": 0.0, "streaming.state_rows": 0.0}
        counters = self.stream

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                counters["streaming.batches"] += 1
                counters["streaming.input_rows"] += p.numInputRows
                counters["streaming.batch_s"] += p.batchDuration / 1000.0
                counters["streaming.state_rows"] += sum(
                    s.numRowsTotal for s in p.stateOperators
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def mark(self) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        gc_n = sum(b.getCollectionCount() for b in self._gc)
        gc_ms = sum(b.getCollectionTime() for b in self._gc)
        n = self._sql.executionsCount()
        last = self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1
        return {
            "jobs": self._jsc.dagScheduler().numTotalJobs(),
            "exec_id": last,
            "gc_n": gc_n,
            "gc_s": gc_ms / 1000.0,
            **dict(self.stream),
        }

    def delta(self, a: dict, b: dict) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        out: dict[str, float] = {
            "session.jvm_gc_count": b["gc_n"] - a["gc_n"],
            "session.jvm_gc_s": b["gc_s"] - a["gc_s"],
            "queries.jobs": b["jobs"] - a["jobs"],
        }
        for k in self.stream:
            out[k] = b[k] - a[k]
        stage_ids: set[int] = set()
        for jid in range(a["jobs"], b["jobs"]):
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # evicted or never registered
                continue
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        agg = dict.fromkeys(
            ["queries.stages", "queries.tasks", "queries.tasks_failed",
             "queries.task_cpu_s", "queries.shuffle_read_bytes",
             "queries.shuffle_write_bytes", "queries.spill_bytes",
             "sources.scan_bytes", "sources.scan_rows", "sources.write_rows"],
            0.0,
        )
        for sid in stage_ids:
            try:
                attempts = self._store.stageData(sid, False, self._empty, False, self._no_q)
            except Py4JJavaError:
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if str(s.status()) == "SKIPPED":
                    continue
                agg["queries.stages"] += 1
                agg["queries.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                agg["queries.tasks_failed"] += s.numFailedTasks()
                agg["queries.task_cpu_s"] += s.executorCpuTime() / 1e9
                agg["queries.shuffle_read_bytes"] += s.shuffleReadBytes()
                agg["queries.shuffle_write_bytes"] += s.shuffleWriteBytes()
                agg["queries.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                agg["sources.scan_bytes"] += s.inputBytes()
                agg["sources.scan_rows"] += s.inputRecords()
                agg["sources.write_rows"] += s.outputRecords()
        out.update(agg)
        out.update(self._sql_metrics(a["exec_id"], b["exec_id"]))
        return out

    def _sql_metrics(self, lo: int, hi: int) -> dict[str, float]:
        """Python-node and file-write metrics of SQL executions with ids in
        ``(lo, hi]``."""
        out = dict.fromkeys(
            [*_PY_METRICS.values(), *_WRITE_METRICS.values(), "operators.python_rows_out"],
            0.0,
        )
        n = self._sql.executionsCount()
        window = min(n, _MAX_EXECS_PER_OP)
        execs = self._sql.executionsList(n - window, window)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if not lo < eid <= hi:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                is_py = "Pandas" in node.name() or "Python" in node.name() or "Arrow" in node.name()
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    key = _PY_METRICS.get(m.name()) or _WRITE_METRICS.get(m.name())
                    if key is None and is_py and m.name() == "number of output rows":
                        key = "operators.python_rows_out"
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        return out


class Tracer:
    """Spans kept in memory: name, start, end, parent id and attributes."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def start(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "parent": self._stack[-1] if self._stack else None,
            "name": name, "start": time.perf_counter(), "end": None, **attrs,
        })
        self._stack.append(sid)
        return sid

    def end(self, sid: int, **attrs) -> float:
        """Close span ``sid`` and any of its descendants still open; return
        its duration."""
        now = time.perf_counter()
        while self._stack:
            top = self._stack.pop()
            self.spans[top]["end"] = now
            if top == sid:
                break
        span = self.spans[sid]
        span.update(attrs)
        return now - span["start"]

    def with_self_times(self) -> list[dict]:
        """Each span plus ``self_s``: its duration minus the union of the
        intervals its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                if cur_hi is None or lo > cur_hi:
                    covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out.append({**s, "dur_s": s["end"] - s["start"], "self_s": s["end"] - s["start"] - covered})
        return out
