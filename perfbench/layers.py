"""Per-layer counters for the traced run.

Each public library call an op makes runs inside a ``span``: a Spark job
group of its own plus a wall-clock interval. A span is ``build`` when the
call returns a DataFrame (any job it runs is eager work done before the
call returned) and ``exec`` when the call is an action (sink write,
collect). After the op's timer stops, ``Tracer.collect`` turns the job
groups into stage metrics from the status store (which works with
``spark.ui.enabled=false``) and ``/proc`` CPU counters into process time.

``NullTracer`` is the untraced twin: same interface, no job groups, no
status-store reads, so untraced runs pay nothing for tracing.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager, nullcontext

_CLK = os.sysconf("SC_CLK_TCK")
# SQL metric of every Python-UDF node (MapInPandas, ArrowEvalPython...):
# "time to run Python workers".
_PY_TIME_METRIC = "time to run Python workers"
_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    return data[data.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants, from one scan of /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = proc_stat(int(name))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(kids.get(pid, ()))
    return seen


def cpu_seconds(pid: int, with_reaped_children: bool = False) -> float:
    """utime+stime of ``pid`` (plus reaped children's, when asked)."""
    f = proc_stat(pid)
    if f is None:
        return 0.0
    # after ')' : state=0 ... utime=11 stime=12 cutime=13 cstime=14
    ticks = int(f[11]) + int(f[12])
    if with_reaped_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK


def _parse_duration_s(text: str) -> float:
    """First duration in a SQL-metric string ("total (...)\\n1.2 s (...)")."""
    body = text.split("\n", 1)[-1]
    m = _DURATION.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


class NullTracer:
    enabled = False

    def span(self, kind: str, name: str):
        return nullcontext()

    def begin_op(self, op: int) -> None:
        pass

    def end_op(self) -> None:
        pass


class Tracer:
    """Spans and counters for one traced phase; totals in ``self.totals``."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
        self.spans: list[dict] = []
        self.totals: dict[str, float] = {}
        self._op = -1
        self._n = 0
        self._proc0: dict[str, float] = {}
        self._last_exec = -1

    # -- process CPU ----------------------------------------------------
    def _proc_counters(self) -> dict[str, float]:
        return {
            "driver.cpu_s": time.process_time(),
            "jvm.cpu_s": cpu_seconds(self.jvm_pid),
            # in local mode every process under the JVM is a Python worker
            "python.worker_cpu_s": sum(
                cpu_seconds(p, with_reaped_children=True)
                for p in process_tree(self.jvm_pid)[1:]
            ),
        }

    # -- spans ------------------------------------------------------------
    def begin_op(self, op: int) -> None:
        self._op = op
        # SQL executions before this point (e.g. an untraced run of the
        # same op) are not this op's
        execs = self._sql_store().executionsList()
        if execs.size():
            self._last_exec = execs.apply(execs.size() - 1).executionId()
        self._proc0 = self._proc_counters()

    def end_op(self) -> None:
        after = self._proc_counters()
        for k, v in after.items():
            # a worker that exited unreaped loses its time; never count < 0
            self.add(k, max(0.0, v - self._proc0[k]))

    @contextmanager
    def span(self, kind: str, name: str):
        self._n += 1
        group = f"perfbench-{self._op}-{self._n}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(
                {"kind": kind, "name": name, "group": group, "s": time.perf_counter() - t0}
            )
            # jobs outside every span (there should be none) land here
            self.sc.setJobGroup("perfbench-idle", "outside spans")

    # -- collection (after the op's timer stopped) -------------------------
    def add(self, key: str, value: float) -> None:
        self.totals[key] = self.totals.get(key, 0.0) + value

    def collect(self) -> None:
        """Fold every span recorded so far into ``totals`` and forget them."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jvm, gw = self.spark._jvm, self.sc._gateway
        no_status, no_quantiles = jvm.java.util.ArrayList(), gw.new_array(jvm.double, 0)
        seen_stages: set[int] = set()
        for sp in self.spans:
            kind = sp["kind"]
            self.add(f"{kind}.s", sp["s"])
            self.add(f"{sp['name']}_s", sp["s"])
            job_ids = list(st.getJobIdsForGroup(sp["group"]))
            self.add(f"{kind}.jobs", len(job_ids))
            self.add(f"{sp['name']}.jobs", len(job_ids))
            for jid in job_ids:
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    seq = store.stageData(sid, False, no_status, False, no_quantiles)
                    for i in range(seq.size()):
                        sd = seq.apply(i)
                        if str(sd.status()) == "SKIPPED":
                            continue
                        self.add(f"{kind}.stages", 1)
                        self.add(f"{kind}.tasks", sd.numCompleteTasks())
                        self.add(f"{kind}.task_cpu_s", sd.executorCpuTime() / 1e9)
                        self.add(f"{kind}.gc_s", sd.jvmGcTime() / 1e3)
                        self.add("shuffle.write_mb", sd.shuffleWriteBytes() / 1e6)
                        self.add("shuffle.read_mb", sd.shuffleReadBytes() / 1e6)
                        self.add("spill.mb", sd.diskBytesSpilled() / 1e6)
                        self.add("sources.scan_mb", sd.inputBytes() / 1e6)
        # classify_column's mapInPandas is the only Python-UDF node the
        # workloads run, so the Python-UDF timing metric is its time.
        self.add("enrich.classify_s", self._python_udf_s())
        self.spans.clear()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _python_udf_s(self) -> float:
        """Sum of the Python-UDF timing metric over the SQL executions that
        started since ``begin_op``."""
        sql = self._sql_store()
        execs = sql.executionsList()
        total = 0.0
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            if ex.executionId() <= self._last_exec:
                break
            metrics = ex.metrics()
            ids = [
                metrics.apply(k).accumulatorId()
                for k in range(metrics.size())
                if metrics.apply(k).name() == _PY_TIME_METRIC
            ]
            if not ids:
                continue
            values = sql.executionMetrics(ex.executionId())
            for acc in ids:
                v = values.get(acc)
                if v.isDefined():
                    total += _parse_duration_s(v.get())
        return total
