"""Traced mode: spans, counters and Spark/JVM status reads.

Spans are recorded by the benchmark around its calls into the package
(the package itself is not changed): an op span, and under it the
DataFrame build, the table loads inside the build (by wrapping the
``load_table`` name the registries call), the execution (the ``noop``
write) and, on ``lake_cdc``, the streaming drain, its per-batch merges,
``cdc_apply``, the lake reads and ``vacuum``. Each span is
``(name, start, end, parent, op_id)``; all spans stay in memory and are
written to one JSON file at exit. A span's self time is its duration
minus the part of it covered by its children.

After each op's timer stops, the tracer drains Spark's listener bus and
reads the jobs the op started (job ids above the previous high-water
mark; the op's job group is set to its op id) from the core status
store, their stages' task, CPU, shuffle, spill and input counters, and
the SQL status store's operator metrics (scan time, Python worker
boot/init/run time and rows). JVM figures come from MXBeans over py4j
and from ``/proc/<jvm pid>/status``.

The untraced run uses ``NullTracer``: no wrappers, no status reads.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

_NULL = contextlib.nullcontext()


class NullTracer:
    enabled = False
    measuring = False

    def span(self, name: str):
        return _NULL

    def begin_op(self, op_id: str) -> None:
        pass

    def end_op(self) -> None:
        pass


def _time_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9, "us": 1e-6}
_UNIT_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Parse a SQL metric's display string to seconds, bytes or a count.
    Aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first figure on the last line."""
    line = text.strip().splitlines()[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _UNIT_S.get(unit, _UNIT_B.get(unit, 1))


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-name self time: each span's duration minus the union of its
    children's intervals (clipped to the parent)."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for k in sorted(kids[s["id"]], key=lambda k: k["start"]):
            a, b = max(k["start"], cur_end), min(k["end"], s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["name"]] += (s["end"] - s["start"]) - covered
    return dict(out)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Traced-mode recorder. ``span`` nests through a stack; ``begin_op``
    / ``end_op`` bracket one op, and ``end_op`` (called after the op's
    timer has stopped) reads the status stores."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id: str | None = None
        self.counters: dict[str, float] = defaultdict(float)
        self.measuring = False  # True during the timed phase
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        self.bus.waitUntilEmpty()
        self.next_job = self._job_high_water()
        self.next_exec = int(self.sql_store.executionsCount())

    # --- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "start": time.time(), "end": None,
               "parent": self.stack[-1] if self.stack else None, "op": self.op_id,
               "timed": self.measuring}
        self.spans.append(rec)
        self.stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()

    def add(self, name: str, value: float) -> None:
        if self.measuring:
            self.counters[name] += value

    def begin_op(self, op_id: str) -> None:
        self.op_id = op_id
        self.sc.setJobGroup(op_id, op_id)

    # --- status-store reads (outside the op timer) ------------------------
    def _job_high_water(self) -> int:
        ids = self.store.jobsList(None)
        n = ids.size()
        return (max(int(ids.apply(i).jobId()) for i in range(n)) + 1) if n else 0

    def _new_jobs(self) -> list:
        jobs = []
        while True:
            try:
                jobs.append(self.store.job(self.next_job))
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                return jobs
            self.next_job += 1

    def _stage(self, sid: int):
        try:
            return self.store.lastStageAttempt(sid)
        except Py4JJavaError:
            return None  # a stage the store no longer holds

    def _sql_metrics(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        n = int(self.sql_store.executionsCount())
        for eid in range(self.next_exec, n):
            try:
                graph = self.sql_store.planGraph(eid)
                values = self.sql_store.executionMetrics(eid)
            except Py4JJavaError:  # an execution the store no longer holds
                continue
            nodes = graph.allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                is_scan = name.startswith("Scan ")
                is_py = "Python" in name or "Pandas" in name or "Arrow" in name
                if not (is_scan or is_py):
                    continue
                ms = node.metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    val = values.get(m.accumulatorId())
                    if not val.isDefined():
                        continue
                    v = metric_value(val.get())
                    mname = m.name()
                    if is_scan and mname == "scan time":
                        out["exec.scan_s"] += v
                    elif is_scan and mname == "number of output rows":
                        out["scan_rows"] += v
                    elif is_py and mname == "time to start Python workers":
                        out["python.boot_s"] += v
                    elif is_py and mname == "time to initialize Python workers":
                        out["python.init_s"] += v
                    elif is_py and mname == "time to run Python workers":
                        out["python.run_s"] += v
                    elif is_py and mname == "number of output rows":
                        out["python.rows"] += v
        self.next_exec = n
        return out

    def end_op(self) -> None:
        """Attribute the op's jobs and stages to its layers."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.bus.waitUntilEmpty()
        jobs = self._new_jobs()
        sql = self._sql_metrics()
        op_spans = [s for s in self.spans if s["op"] == self.op_id]
        self.op_id = None
        if not self.measuring:
            return
        c = self.counters
        phases = [(s["name"], s["start"], s["end"]) for s in op_spans
                  if s["name"] in ("sources.tables.load", "operators.build", "llm.build", "exec")]
        exec_iv, stages = [], set()
        for j in jobs:
            sub, done = _time_ms(j.submissionTime()), _time_ms(j.completionTime())
            t = (sub or 0) / 1000.0
            # the innermost phase span around the job's submission; jobs
            # outside every phase (lake writes, the streaming drain) count
            # as execution
            phase = "exec"
            for name, a, b in phases:
                if a - 0.002 <= t <= b + 0.002 and phase != "sources.tables.load":
                    phase = name
            if phase == "sources.tables.load":
                c["sources.tables.jobs"] += 1
            elif phase in ("operators.build", "llm.build"):
                c[f"{phase.split('.')[0]}.build_jobs"] += 1
            else:
                c["exec.jobs"] += 1
                if sub is not None and done is not None:
                    exec_iv.append((sub / 1000.0, done / 1000.0))
            seq = j.stageIds()
            for k in range(seq.size()):
                stages.add(int(seq.apply(k)))
        c["jobs"] += len(jobs)
        exec_wall = sum(b - a for n, a, b in phases if n == "exec")
        c["exec.wall_s"] += exec_wall
        c["exec.driver_gap_s"] += max(0.0, exec_wall - _union_s(
            [(max(a, lo), min(b, hi)) for a, b in exec_iv
             for n, lo, hi in phases if n == "exec" and min(b, hi) > max(a, lo)]))
        for sid in stages:
            sd = self._stage(sid)
            if sd is None or str(sd.status().toString()) == "SKIPPED":
                continue
            c["exec.stages"] += 1
            c["exec.tasks"] += sd.numCompleteTasks()
            c["exec.task_run_s"] += sd.executorRunTime() / 1e3
            c["exec.task_cpu_s"] += sd.executorCpuTime() / 1e9
            c["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        for k, v in sql.items():
            c[k] += v

    # --- JVM ----------------------------------------------------------------
    def jvm_metrics(self) -> dict[str, float]:
        mf = self.jvm.java.lang.management.ManagementFactory
        gcs = mf.getGarbageCollectorMXBeans()
        gc_ms = sum(gcs.get(i).getCollectionTime() for i in range(gcs.size()))
        gc_n = sum(gcs.get(i).getCollectionCount() for i in range(gcs.size()))
        pools = mf.getMemoryPoolMXBeans()
        heap_peak = 0
        for i in range(pools.size()):
            p = pools.get(i)
            if str(p.getType().toString()) == "Heap memory":
                heap_peak += p.getPeakUsage().getUsed()
        rss_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    rss_kb = int(line.split()[1])
        return {
            "jvm.jit_compile_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "jvm.gc_s": gc_ms / 1e3,
            "jvm.gc_count": float(gc_n),
            "jvm.heap_used_peak_mb": heap_peak / 2**20,
            "jvm.peak_rss_mb": rss_kb / 1024.0,
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self_times(self.spans)}, f)
