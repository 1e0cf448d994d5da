"""Measurement from outside the package: /proc CPU accounting for the
process tree a benchmark run starts, and a span recorder that wraps each
call into a ``seraster_spark`` module.

A span is one module call (plan build plus any jobs the call launches
eagerly) or one forcing action. Each span runs under its own Spark job
group, so the jobs it launched are known exactly; their timings and stage
metrics come from Spark's own status store, which stays readable with the
UI disabled. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")

# modules whose work is a candidate join, for which rows_out / shuffle-write
# records is reported as the useful-to-attempted ratio
YIELD_MODULES = ("vector", "knn", "pointpat", "text", "similarity")


# ---------------------------------------------------------------------------
# /proc


def _read_stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of ``pid``, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    rest = raw[raw.rfind(")") + 2 :].split()
    # fields after the comm: state ppid pgrp ... utime(14) stime cutime cstime
    ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    return int(rest[1]), ticks / CLK_TCK


def _cpu_of(pid: int) -> float:
    st = _read_stat(pid)
    return st[1] if st else 0.0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _read_stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class ProcessTree:
    """CPU seconds of the driver, the JVM and the pyspark daemon + workers.

    Python workers are forked by the daemon, which reaps them, so a worker
    that exits keeps its CPU time in the daemon's reaped-children fields.
    """

    def __init__(self, driver_pid: int, jvm_pid: int):
        self.driver_pid = driver_pid
        self.jvm_pid = jvm_pid

    def pyworker_pids(self) -> list[int]:
        return [p for p in descendants(self.jvm_pid) if "pyspark" in _cmdline(p)]

    def cpu(self) -> dict[str, float]:
        return {
            "driver": _cpu_of(self.driver_pid),
            "jvm": _cpu_of(self.jvm_pid),
            "pyworker": self.pyworker_cpu(),
        }

    def pyworker_cpu(self) -> float:
        return sum(_cpu_of(p) for p in self.pyworker_pids())


def vm_hwm_mib(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ---------------------------------------------------------------------------
# spans


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records op spans and, as their children, module call/force spans.

    With ``enabled=False`` every wrapper calls straight through, so the
    untraced passes that give the end-to-end metrics pay nothing.
    """

    def __init__(self, spark, procs: ProcessTree, enabled: bool):
        self.sc = spark.sparkContext
        self.procs = procs
        self.enabled = enabled
        self.origin = time.time()
        self.pass_id: int | None = None
        self.spans: list[dict] = []
        self._op: dict | None = None
        self._seq = 0
        self._counted_stages: set[int] = set()

    @contextmanager
    def op(self, name: str):
        if not self.enabled:
            yield
            return
        span = self._open(name, "op", None, None)
        self._op = span
        try:
            yield
        finally:
            self._op = None
            span["end"] = time.time() - self.origin
            children = [s for s in self.spans if s["parent"] == span["id"]]
            span["attributed_s"] = sum(s["end"] - s["start"] for s in children)
            span["unattributed_s"] = (span["end"] - span["start"]) - span["attributed_s"]

    def call(self, module: str, fn, *args, **kwargs):
        """Time one call into ``module``'s public function ``fn``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        return self._layer(module, "call", lambda: fn(*args, **kwargs))

    def force(self, module: str, fn):
        """Run the forcing action ``fn``, which returns ``(rows_out,
        result)``, on ``module``'s output; returns what ``fn`` returns."""
        if not self.enabled:
            return fn()
        return self._layer(module, "force", fn)

    def _open(self, name, kind, module, parent) -> dict:
        self._seq += 1
        span = {
            "id": self._seq,
            "name": name,
            "kind": kind,
            "module": module,
            "parent": parent,
            "pass": self.pass_id,
            "start": time.time() - self.origin,
        }
        self.spans.append(span)
        return span

    def _layer(self, module: str, kind: str, thunk):
        parent = self._op["id"] if self._op else None
        span = self._open(f"{module}.{kind}", kind, module, parent)
        span["op"] = self._op["name"] if self._op else None
        group = f"perfbench-span-{span['id']}"
        self.sc.setJobGroup(group, span["name"])
        py0 = self.procs.pyworker_cpu()
        try:
            out = thunk()
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            span["end"] = t1 - self.origin
            span["pyworker_cpu_s"] = self.procs.pyworker_cpu() - py0
            self._job_stats(span, group)
        if kind == "force":
            span["rows_out"] = int(out[0])
        return out

    def _job_stats(self, span: dict, group: str) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        agg = dict.fromkeys(
            (
                "executor_cpu_s", "executor_run_s", "shuffle_write_bytes",
                "shuffle_write_records", "spill_bytes", "input_bytes",
                "output_bytes", "gc_s", "tasks", "failed_tasks",
            ),
            0,
        )
        intervals = []
        for jid in job_ids:
            job = store.job(jid)
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                s = sub.get().getTime() / 1000.0 - self.origin
                e = comp.get().getTime() / 1000.0 - self.origin
                intervals.append((max(s, span["start"]), min(e, span["end"])))
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._counted_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # a stage the scheduler never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                self._counted_stages.add(sid)
                agg["executor_cpu_s"] += st.executorCpuTime() / 1e9
                agg["executor_run_s"] += st.executorRunTime() / 1e3
                agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
                agg["shuffle_write_records"] += st.shuffleWriteRecords()
                agg["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                agg["input_bytes"] += st.inputBytes()
                agg["output_bytes"] += st.outputBytes()
                agg["gc_s"] += st.jvmGcTime() / 1e3
                agg["tasks"] += st.numTasks()
                agg["failed_tasks"] += st.numFailedTasks()
        wall = span["end"] - span["start"]
        span.update(agg)
        span["jobs"] = len(job_ids)
        span["job_ids"] = job_ids
        span["job_busy_s"] = _union_len([iv for iv in intervals if iv[1] > iv[0]])
        span["driver_gap_s"] = wall - span["job_busy_s"]
