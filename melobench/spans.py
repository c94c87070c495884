"""Spans around calls into the library's layers, with Spark-side costs.

A span is opened by the benchmark around one call into a layer's public
function (plus the action that materializes its result, where the
workload has one). While it is open:

- its jobs run under a Spark job group of their own, so afterwards the
  stages it caused are found through ``statusTracker`` and their
  executor-side numbers are read from Spark's status store;
- the bytes its SQL executions shipped to and from Python workers are
  read from the SQL status store (the stage store drops SQL metrics);
- the CPU time of the Python workers under the JVM is read from
  ``/proc``, because ``executorCpuTime`` counts JVM threads only;
- py4j commands sent by the driver are counted by wrapping the gateway
  client's ``send_command``;
- ``PlanMemo.get`` hits and misses are counted.

All reads of the status store happen after the span has closed, so they
are not counted as the span's driver work. The time the tracer spends on
its own work around each span is summed as its overhead. Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import re
import time

# SQL metric names of the Python evaluation nodes (ArrowEvalPython,
# FlatMapGroupsInPandas, ...): bytes shipped to and from Python workers
PYTHON_BYTE_METRICS = ("data sent to Python workers", "data returned from Python workers")
# the SQL status store keeps a metric only as text, e.g. "16.3 KiB"
_SIZE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")
_SIZE_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_CLK_TCK = os.sysconf("SC_CLK_TCK")

STAGE_FIELDS = (
    "exec_s", "cpu_s", "shuffle_bytes", "spill_bytes", "wait_s", "failed_tasks",
    "python_bytes",
)


class Tracer:
    """Records spans while ``enabled``; otherwise every span is a bare
    pass-through. ``counters`` installs the py4j and PlanMemo wraps;
    untraced runs go without them and pay nothing."""

    def __init__(self, spark, run_id: str, counters: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self.memo_hits = 0
        self.memo_misses = 0
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._unwrap: list = []
        if counters:
            self._wrap_py4j()
            self._wrap_planmemo()

    # -- counters ---------------------------------------------------------

    def _wrap_py4j(self):
        client = self.spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def send_command(*a, **kw):
            self.py4j_calls += self.enabled
            return orig(*a, **kw)

        client.send_command = send_command
        self._unwrap.append(lambda: delattr(client, "send_command"))

    def _wrap_planmemo(self):
        from melodist_spark.util.planmemo import PlanMemo

        orig = PlanMemo.get

        def get(memo, key_parts, build):
            built = []

            def counted_build():
                built.append(True)
                return build()

            out = orig(memo, key_parts, counted_build)
            if self.enabled:
                self.memo_misses += bool(built)
                self.memo_hits += not built
            return out

        PlanMemo.get = get
        self._unwrap.append(lambda: setattr(PlanMemo, "get", orig))

    def close(self):
        for undo in reversed(self._unwrap):
            undo()
        self._unwrap.clear()

    # -- spans ------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        """Span around one layer call; yields the record, whose
        ``build`` context manager times the library call itself."""
        if not self.enabled:
            yield _NullSpan()
            return
        t_enter = time.perf_counter()
        sc = self.spark.sparkContext
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name, "id": sid, "parent": parent["id"] if parent else None,
            "run_id": self.run_id, "group": f"{self.run_id}.{sid}", "build_s": 0.0,
        }
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        executions0 = sql_store.executionsCount()
        py_cpu0 = python_worker_cpu_s(sc._gateway.proc.pid)
        calls0 = self.py4j_calls
        rec["start"] = time.perf_counter()
        try:
            yield _Span(rec)
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j_calls"] = self.py4j_calls - calls0
            rec["python_cpu_s"] = python_worker_cpu_s(sc._gateway.proc.pid) - py_cpu0
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc._jsc.clearJobGroup()
            rec.update(self._stage_costs(rec["group"], sql_store, executions0))
            rec["cpu_s"] += rec["python_cpu_s"]
            self.spans.append(rec)
            self.overhead_s += rec["start"] - t_enter + time.perf_counter() - rec["end"]

    def _stage_costs(self, group: str, sql_store, executions0: int) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # the status store is fed asynchronously by the listener bus
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        stage_ids: set[int] = set()
        job_ids = set(tracker.getJobIdsForGroup(group))
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out["jobs"] = len(job_ids)
        out["stages"] = 0
        store = jsc.statusStore()
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        for stage in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(stage)
            except Exception:  # stage never submitted (skipped): no data
                continue
            if sd.numTasks() == 0 or str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["exec_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["failed_tasks"] += sd.numFailedTasks()
            delay_ms = sum(
                t.schedulerDelay()
                for t in conv.asJava(store.taskList(stage, sd.attemptId(), 1 << 30))
            )
            out["wait_s"] += (sd.shuffleFetchWaitTime() + delay_ms) / 1e3
        out["python_bytes"] = _python_bytes(sql_store, executions0, job_ids, conv)
        return out


def _python_bytes(sql_store, executions0: int, job_ids: set, conv) -> float:
    """Bytes sent to and returned from Python workers by the SQL
    executions, started since ``executions0``, that ran one of
    ``job_ids``."""
    total = 0.0
    n = sql_store.executionsCount() - executions0
    for ex in conv.asJava(sql_store.executionsList(executions0, n)) if n > 0 else ():
        if not job_ids & set(conv.asJava(ex.jobs()).keySet()):
            continue
        values = conv.asJava(sql_store.executionMetrics(ex.executionId()))
        # a plan re-optimised by AQE lists a metric once per version
        ids = {m.accumulatorId() for m in conv.asJava(ex.metrics()) if m.name() in PYTHON_BYTE_METRICS}
        for acc_id in ids:
            m = _SIZE.search(values.get(acc_id) or "")
            if m:
                total += float(m.group(1)) * _SIZE_UNIT[m.group(2)]
    return total


def python_worker_cpu_s(jvm_pid: int) -> float:
    """User plus system CPU seconds of every process under the JVM (the
    Python daemon and its workers), reaped children included."""
    ticks = 0
    for pid in descendants(jvm_pid)[1:]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            continue
    return ticks / _CLK_TCK


def descendants(pid: int) -> list[int]:
    """``pid`` and every process under it, ``pid`` first."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


class _Span:
    def __init__(self, rec: dict):
        self.rec = rec

    @contextlib.contextmanager
    def build(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.rec["build_s"] += time.perf_counter() - t0


class _NullSpan:
    rec = None

    @contextlib.contextmanager
    def build(self):
        yield
