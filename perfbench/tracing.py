"""Spans and layer counters for the traced run.

Spans are recorded from the benchmark's own code around its calls into the
package (run -> pass -> query -> {declare, execute}, plus verify) and kept in
memory until the run ends. Counters are read at the same boundaries:

- codegen: Spark's ``CodegenMetrics`` compile count and ``CodeGenerator``
  cumulative compile time, through py4j;
- jvm: heap-pool peak usage and collector time from the JVM's MXBeans;
- operators / plans: the REST status API's stage records for the jobs a
  job group launched (needs ``spark.ui.enabled``);
- functions: CPU time of the Python worker processes under the JVM, from
  ``/proc`` (the reaped workers' time is in their parent's ``cutime``);
- sources: bytes and entries under the package's layout root.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import time
import urllib.request

MB = 1024 * 1024
_TICK = os.sysconf("SC_CLK_TCK")


class Spans:
    """Flat span store: each span has a name, start, end (monotonic
    seconds) and the id of the span that caused it."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    def open(self, name: str, parent: int | None = None, **attrs) -> int:
        self.rows.append(
            {"id": len(self.rows), "name": name, "parent": parent,
             "start": time.monotonic(), "end": None, **attrs}
        )
        return len(self.rows) - 1

    def close(self, span_id: int) -> float:
        row = self.rows[span_id]
        row["end"] = time.monotonic()
        return row["end"] - row["start"]

    def children_s(self, span_id: int) -> float:
        """Summed duration of the closed direct children of a span."""
        return sum(r["end"] - r["start"] for r in self.rows
                   if r["parent"] == span_id and r["end"] is not None)

    def with_self_time(self) -> list[dict]:
        """Spans with ``dur_s`` and ``self_s`` (duration minus the part
        of it the span's children cover; children never overlap)."""
        child_sum: dict[int, float] = {}
        for r in self.rows:
            if r["parent"] is not None and r["end"] is not None:
                child_sum[r["parent"]] = child_sum.get(r["parent"], 0.0) + r["end"] - r["start"]
        out = []
        for r in self.rows:
            dur = (r["end"] or r["start"]) - r["start"]
            out.append({**r, "dur_s": dur, "self_s": dur - child_sum.get(r["id"], 0.0)})
        return out


def _proc_stat(pid: int) -> tuple[int, list[str]] | None:
    """(ppid, fields after the comm) of /proc/<pid>/stat, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rfind(")") + 2:].split()
    return int(rest[1]), rest


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root`` (one /proc scan)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _proc_stat(int(name))
        if st:
            children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of one process (all its threads)."""
    st = _proc_stat(pid)
    return (int(st[1][11]) + int(st[1][12])) / _TICK if st else 0.0


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the Python processes under the JVM, including the
    workers they have already reaped (``cutime``/``cstime``)."""
    total = 0
    for pid in descendants(jvm_pid):
        if not _comm(pid).startswith("python"):
            continue
        st = _proc_stat(pid)
        if st:
            f = st[1]  # utime, stime, cutime, cstime are fields 14-17
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def layout_stats(root: str) -> tuple[int, int]:
    """(bytes under ``root``, entries directly in it)."""
    if not os.path.isdir(root):
        return 0, 0
    size = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            try:
                size += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return size, len(os.listdir(root))


class JvmCounters:
    """Codegen and JVM counters read through py4j."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._codegen = getattr(jvm.org.apache.spark.metrics.source, "CodegenMetrics$").__getattr__("MODULE$")
        self._generator = getattr(
            jvm.org.apache.spark.sql.catalyst.expressions.codegen, "CodeGenerator$"
        ).__getattr__("MODULE$")
        mf = jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]

    def compiles(self) -> int:
        return int(self._codegen.METRIC_COMPILATION_TIME().getCount())

    def compile_s(self) -> float:
        return int(self._generator.compileTime()) / 1e9

    def gc_s(self) -> float:
        return sum(int(g.getCollectionTime()) for g in self._gcs) / 1000

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(int(p.getPeakUsage().getUsed()) for p in self._heap_pools) / MB


def _rest_time(s: str) -> float:
    """Epoch seconds of a REST timestamp such as 2026-10-17T03:52:43.654GMT."""
    t = dt.datetime.strptime(s[:-3], "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


class StageRecords:
    """Job and stage records from the REST status API.

    Jobs are attributed to a phase by their submission time, not by job
    group: the package sets its own job groups while declaring."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._bus = sc._jsc.sc().listenerBus()
        self._last_job = -1

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=10) as r:
            return json.loads(r.read())

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call, once the status store
        has seen every event posted so far."""
        self._bus.waitUntilEmpty()
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self._last_job]
        self._last_job = max([self._last_job] + [j["jobId"] for j in jobs])
        return jobs

    def stage_attempts(self, jobs: list[dict]) -> list[dict]:
        """Completed or failed attempts of the stages of ``jobs``
        (skipped stages ran nothing and are left out)."""
        out = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            out.extend(
                a for a in self._get(f"/stages/{sid}?details=false")
                if a.get("status") in ("COMPLETE", "FAILED")
            )
        return out


def split_at(jobs: list[dict], instant: float) -> tuple[list[dict], list[dict]]:
    """(jobs submitted before ``instant``, the rest); the REST times are
    whole milliseconds, so ``instant`` is floored to one."""
    cut = math.floor(instant * 1000) / 1000
    before = [j for j in jobs if _rest_time(j["submissionTime"]) < cut]
    return before, [j for j in jobs if j not in before]


def outside(job: dict, lo: float, hi: float) -> float:
    """Seconds by which a REST job record's [submission, completion]
    reaches outside the epoch window [lo, hi]; the REST times are whole
    milliseconds, so the window is widened to them. A job that has not
    completed is outside by as long as it has run past ``hi``."""
    lo, hi = math.floor(lo * 1000) / 1000, math.ceil(hi * 1000) / 1000
    start = _rest_time(job["submissionTime"])
    end = _rest_time(job["completionTime"]) if job.get("completionTime") else time.time()
    return max(0.0, lo - start, end - hi)


def stage_totals(attempts: list[dict], start_wall: float, end_wall: float) -> dict:
    """Operator-layer totals over stage attempts, plus the part of the
    [start_wall, end_wall] window in which no stage was running."""
    t = {
        "stages": len(attempts),
        "tasks": sum(a.get("numTasks", 0) for a in attempts),
        "task_run_s": sum(a.get("executorRunTime", 0) for a in attempts) / 1000,
        "task_cpu_s": sum(a.get("executorCpuTime", 0) + a.get("executorDeserializeCpuTime", 0)
                          for a in attempts) / 1e9,
        "gc_s": sum(a.get("jvmGcTime", 0) for a in attempts) / 1000,
        "shuffle_write_mb": sum(a.get("shuffleWriteBytes", 0) for a in attempts) / MB,
        "shuffle_read_mb": sum(a.get("shuffleReadBytes", 0) for a in attempts) / MB,
        "shuffle_fetch_wait_s": sum(a.get("shuffleFetchWaitTime", 0) for a in attempts) / 1000,
        "spill_mb": sum(a.get("diskBytesSpilled", 0) for a in attempts) / MB,
        "peak_exec_mem_mb": max((a.get("peakExecutionMemory", 0) for a in attempts), default=0) / MB,
        "scan_mb": sum(a.get("inputBytes", 0) for a in attempts) / MB,
        "failed_tasks": sum(a.get("numFailedTasks", 0) for a in attempts),
        "result_mb": sum(a.get("resultSize", 0) for a in attempts) / MB,
    }
    spans = []
    for a in attempts:
        if a.get("submissionTime") and a.get("completionTime"):
            lo = max(_rest_time(a["submissionTime"]), start_wall)
            hi = min(_rest_time(a["completionTime"]), end_wall)
            if hi > lo:
                spans.append((lo, hi))
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(spans):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    t["driver_gap_s"] = max(0.0, (end_wall - start_wall) - covered)
    return t
