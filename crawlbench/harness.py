"""Measurement plumbing: driver-JVM status-store deltas, trace spans and
process-tree memory sampling.

Everything is read from outside the engine: the stage, job, task and
executor stores that Spark keeps for its UI (populated with the UI
disabled), plus ``/proc`` for memory.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

MIB = 1024.0 * 1024.0
# SQL metrics of the Python-UDF exec nodes (ArrowEvalPython, MapInPandas,
# FlatMapCoGroupsInPandas, ...), summed per span
PY_METRICS = {
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
    "time to run Python workers": "python_run_ms",
}
_UNIT = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
         "ms": 1, "s": 1000, "min": 60_000, "h": 3_600_000}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``'1565.3 KiB'`` or
    ``'total (min, med, max ...)\n800 ms (358 ms, ...)'``."""
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def noop(df) -> None:
    """Force a DataFrame with the noop sink."""
    df.write.format("noop").mode("overwrite").save()


class StatusStore:
    """Reads Spark's status stores through the py4j gateway."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._py_by_execution: dict[int, dict] = {}
        self._gw = sc._gateway
        self._no_quantiles = self._gw.new_array(sc._jvm.double, 0)
        self._quantiles = self._gw.new_array(sc._jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the stages of the call that just returned."""
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def mark(self) -> tuple[int, int, int]:
        """Newest stage, job and SQL execution ids."""
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        jobs = self._store.jobsList(None)
        s = stages.apply(0).stageId() if stages.size() else -1  # newest first
        j = jobs.apply(0).jobId() if jobs.size() else -1
        n = self._sql.executionsCount()
        e = self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1
        return s, j, e

    def python_since(self, exec_mark: int) -> dict:
        """Python-UDF metrics of the SQL executions newer than the mark."""
        total = dict.fromkeys(PY_METRICS.values(), 0.0)
        n = self._sql.executionsCount()
        tail_len = 32
        while True:  # oldest first: widen the tail until it reaches the mark
            ex = self._sql.executionsList(max(0, n - tail_len), tail_len)
            if ex.size() == 0 or ex.apply(0).executionId() <= exec_mark or tail_len >= n:
                break
            tail_len *= 2
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            if eid <= exec_mark:
                continue
            if eid not in self._py_by_execution:
                self._py_by_execution[eid] = self._python_of(eid)
            for k, v in self._py_by_execution[eid].items():
                total[k] += v
        return total

    def _python_of(self, eid: int) -> dict:
        out = dict.fromkeys(PY_METRICS.values(), 0.0)
        values = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            metrics = nodes.apply(j).metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = PY_METRICS.get(m.name())
                if key:
                    v = values.get(m.accumulatorId())
                    out[key] += parse_metric(v.get()) if v.isDefined() else 0.0
        return out

    def stages_since(self, stage_mark: int) -> list[dict]:
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        out = []
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= stage_mark:
                break  # newest first
            if str(s.status()) != "COMPLETE":
                continue
            p50 = pmax = 0.0
            summary = self._store.taskSummary(s.stageId(), s.attemptId(), self._quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                p50, pmax = float(run.apply(0)), float(run.apply(1))
            out.append({
                "stage": s.stageId(), "attempt": s.attemptId(), "name": s.name()[:80],
                "tasks": s.numTasks(), "busy_ms": s.executorRunTime(),
                "exchange_records": s.shuffleWriteRecords(),
                "exchange_bytes": s.shuffleWriteBytes(),
                "input_bytes": s.inputBytes(), "spill_bytes": s.memoryBytesSpilled(),
                "task_ms_p50": p50, "task_ms_max": pmax,
            })
        return out

    def jobs_since(self, job_mark: int) -> list[tuple[float, float]]:
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= job_mark:
                break  # newest first
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                out.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
        return out

    def storage_mb(self) -> float:
        """Storage memory held by cached and checkpointed blocks."""
        ex = self._store.executorList(True)
        return sum(ex.apply(i).memoryUsed() for i in range(ex.size())) / MIB

    def materialized_mb(self) -> float:
        """Memory held by RDD blocks (persist / localCheckpoint) only."""
        infos = self._sc.getRDDStorageInfo()
        return sum(r.memSize() for r in infos) / MIB


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Spans around calls into the engine's public functions. Each span
    carries the status-store delta of its call. Spans stay in memory and
    are written out with the run's record."""

    def __init__(self, status: StatusStore | None):
        self.status = status
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if self.status is None:
            yield {}
            return
        t_book = time.perf_counter()
        self.status.drain()
        stage_mark, job_mark, exec_mark = self.status.mark()
        book_s = time.perf_counter() - t_book
        rec = {
            "id": len(self.spans), "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t_book = time.perf_counter()
            self._stack.pop()
            self.status.drain()
            stages = self.status.stages_since(stage_mark)
            jobs = self.status.jobs_since(job_mark)
            wall = rec["end"] - rec["start"]
            rec.update(
                wall_ms=wall * 1000.0,
                jobs=len(jobs),
                driver_gap_ms=(wall - covered(jobs, rec["start"], rec["end"])) * 1000.0,
                stages=stages,
                **{k: sum(s[k] for s in stages) for k in (
                    "busy_ms", "exchange_records", "exchange_bytes", "spill_bytes")},
                **self.status.python_since(exec_mark),
            )
            # time this span spent on its own bookkeeping, outside [start, end]
            rec["book_ms"] = (book_s + time.perf_counter() - t_book) * 1000.0

    def overhead_pct(self) -> float:
        """Bookkeeping of the spans nested in the first root span, as a share
        of that root's wall without them: what tracing adds to a pass."""
        root = next(s for s in self.spans if s["parent"] is None)
        inside, todo = 0.0, [root["id"]]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s["parent"] == pid:
                    inside += s["book_ms"]
                    todo.append(s["id"])
        return inside / max(1e-9, root["wall_ms"] - inside) * 100.0

    def finish(self) -> list[dict]:
        """Spans with self time: duration minus the part covered by children."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.spans:
            s["self_ms"] = s["wall_ms"] - covered(kids.get(s["id"], []), s["start"], s["end"]) * 1000.0
        return self.spans


def task_skew(stages: list[dict]) -> float:
    """max/median task time over the stages with more than one task."""
    ratios = [s["task_ms_max"] / s["task_ms_p50"] for s in stages
              if s["tasks"] > 1 and s["task_ms_p50"] > 0]
    return max(ratios, default=1.0)


def process_table() -> dict[int, tuple[int, str]]:
    """Every process in ``/proc``: pid -> (parent pid, start time)."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        table[int(d)] = (int(fields[1]), fields[19])
    return table


class TreeMemory:
    """Peak resident memory of this process and all of its descendants
    (driver JVM, Python workers, page server): a thread records each
    process's kernel-tracked peak (``VmHWM``) while it runs, and the peaks
    are summed."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self._hwm_kb: dict[tuple[int, str], int] = {}  # (pid, start time) -> peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_mb(self) -> float:
        return sum(self._hwm_kb.values()) / 1024.0

    def sample(self) -> None:
        table = process_table()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            children.setdefault(ppid, []).append(pid)
        started = {pid: start for pid, (_, start) in table.items()}
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb = next((int(line.split()[1]) for line in f
                               if line.startswith("VmHWM:")), 0)
            except OSError:
                continue
            key = (pid, started.get(pid, ""))
            self._hwm_kb[key] = max(self._hwm_kb.get(key, 0), kb)

    def _run(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
