"""Run hygiene, host calibration and per-span Spark statistics.

Everything here reads Spark's own status stores, which stay populated
with ``spark.ui.enabled=false``:

- the core store ``sc._jsc.sc().statusStore()`` gives jobs, stages and
  tasks (run time, shuffle write, spill, task durations);
- the SQL store ``spark._jsparkSession.sharedState().statusStore()``
  gives per-plan-node metrics (Python worker time, bytes sent to and
  returned from Python workers, time in aggregation build).

A span is one call into an engine layer.  Its jobs are the jobs
submitted while it was open: the benchmark is a single closed-loop
client, so no other caller submits jobs meanwhile.  The span also sets
a Spark job group named after itself, so the span shows in Spark's own
job descriptions; streaming micro-batches replace the group with their
run id, which is why attribution goes by job id and not by group.
"""

from __future__ import annotations

import os
import re
import statistics
import time
from contextlib import contextmanager

_SPARK_MAIN = "org.apache.spark.deploy.SparkSubmit"


def spark_jvm_pids(exclude: set[int] | None = None) -> list[int]:
    """PIDs of live Spark driver JVMs, read from /proc.  Matches a whole
    argv element, so a search tool whose own command line contains the
    class name is never counted."""
    exclude = exclude or set()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) in exclude:
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
        except OSError:
            continue
        if argv and argv[0].endswith(b"java") and _SPARK_MAIN.encode() in argv:
            pids.append(int(entry))
    return pids


def wait_for_quiet_host(timeout_s: float = 30.0) -> list[int]:
    """Wait up to ``timeout_s`` for other Spark JVMs to exit; return the
    ones still alive (empty when the host is free)."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = spark_jvm_pids({os.getpid()})
        if not alive or time.monotonic() >= deadline:
            return alive
        time.sleep(1.0)


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``root_pid``, every live descendant of it, and this process.
    Unlike wall time it leaves out the time a shared host's hypervisor
    gives the CPUs to other guests (steal)."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[1] is ppid; [11..14] utime stime cutime cstime
        stats[int(entry)] = (int(fields[1]),
                             sum(int(f) for f in fields[11:15]))
    ticks = 0
    for pid, (ppid, cpu) in stats.items():
        p = pid
        while p in stats and p not in (root_pid, os.getpid()) and p > 1:
            p = stats[p][0]
        if p in (root_pid, os.getpid()):
            ticks += cpu
    return ticks / _CLK_TCK


_LOG_LEVEL = re.compile(r"\b(ERROR|WARN)\b")


def count_log_levels(path: str) -> tuple[int, int]:
    """(ERROR lines, WARN lines) in a captured log4j stream."""
    errors = warns = 0
    try:
        with open(path, errors="replace") as fh:
            for line in fh:
                m = _LOG_LEVEL.search(line[:64])
                if m is None:
                    continue
                if m.group(1) == "ERROR":
                    errors += 1
                else:
                    warns += 1
    except OSError:
        pass
    return errors, warns


def calibration_s(spark, repeats: int = 2) -> float:
    """Median wall time of a fixed JVM-only job (no Python workers, no
    input data): a host-speed reading taken before and after each
    workload.  Call it once first to warm the JVM for it."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        spark.range(0, 4_000_000, 1, 4).selectExpr(
            "sum(hash(id) % 1009) AS s"
        ).collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}


def parse_metric(text: str) -> float:
    """SQL metric display string → number (bytes, seconds or count).
    Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first token pair of the last line."""
    last = text.strip().split("\n")[-1]
    parts = last.split(" ")
    try:
        value = float(parts[0].replace(",", ""))
    except ValueError:
        return 0.0
    if len(parts) > 1 and parts[1] in _UNITS:
        value *= _UNITS[parts[1]]
    return value


# SQL metric name → span key; summed over the plan nodes named in _SQL_NODES
_SQL_METRICS = {
    "time to run Python workers": "python_worker_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
    "time in aggregation build": "agg_build_s",
}
_SQL_NODES = ("Aggregate", "Python", "Arrow", "Pandas")


class NoSpans:
    """Times each call, in wall and CPU seconds, without reading Spark's
    stores: the untraced run.  ``cpu_root`` is the driver JVM, whose
    process tree each call's CPU time is read from."""

    traced = False

    def __init__(self, cpu_root: int):
        self.cpu_root = cpu_root
        self.collector_s = 0.0
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str):
        rec = {"name": name, "layer": layer}
        cpu0 = tree_cpu_s(self.cpu_root)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - start
            rec["cpu_s"] = tree_cpu_s(self.cpu_root) - cpu0


class SpanStats(NoSpans):
    """Also reads the status stores for the jobs and SQL executions that
    ran inside each span."""

    traced = True

    def __init__(self, spark, cpu_root: int):
        super().__init__(cpu_root)
        self.sc = spark.sparkContext
        self.core = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def _last_job_id(self) -> int:
        jobs = self.core.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _jobs_since(self, last_id: int) -> list:
        jobs = self.core.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= last_id:
                break
            out.append(j)
        return out

    def _stage_stats(self, jobs) -> dict:
        shuffle = spill = run_ms = 0
        skew = 1.0
        seen = set()
        for j in jobs:
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.core.lastStageAttempt(sid)
                except Exception:
                    continue  # skipped stage: never ran, nothing stored
                if st.numCompleteTasks() == 0:
                    continue
                shuffle += st.shuffleWriteBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
                run_ms += st.executorRunTime()
                if st.numTasks() >= 2:
                    tasks = self.core.taskList(sid, st.attemptId(), 10_000)
                    durs = []
                    for t in range(tasks.size()):
                        d = tasks.apply(t).duration()
                        if d.isDefined():
                            durs.append(float(d.get()))
                    med = statistics.median(durs) if durs else 0.0
                    if med > 0:
                        skew = max(skew, max(durs) / med)
        return {
            "shuffle_write_bytes": float(shuffle),
            "spill_bytes": float(spill),
            "executor_run_s": run_ms / 1000.0,
            "task_skew": skew,
            "stages": float(len(seen)),
        }

    def _sql_stats(self, first_exec: int) -> dict:
        out = {v: 0.0 for v in _SQL_METRICS.values()}
        n = self.sql.executionsCount()
        if n <= first_exec:
            return out
        execs = self.sql.executionsList(first_exec, n - first_exec)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for a in range(nodes.size()):
                node = nodes.apply(a)
                if not any(s in node.name() for s in _SQL_NODES):
                    continue
                metrics = node.metrics()
                for b in range(metrics.size()):
                    m = metrics.apply(b)
                    key = _SQL_METRICS.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        return out

    @contextmanager
    def span(self, name: str, layer: str):
        """Time one call; afterwards attach its Spark statistics.  The
        status-store reads happen outside the call's clocks and are
        summed into ``collector_s`` — the tracing overhead."""
        t0 = time.perf_counter()
        last_job = self._last_job_id()
        first_exec = self.sql.executionsCount()
        self.sc.setJobGroup(f"perfbench:{name}", name, False)
        self.collector_s += time.perf_counter() - t0
        try:
            with super().span(name, layer) as rec:
                yield rec
        finally:
            t1 = time.perf_counter()
            self.sc._jsc.clearJobGroup()
            jobs = self._jobs_since(last_job)
            rec["jobs"] = float(len(jobs))
            rec.update(self._stage_stats(jobs))
            rec.update(self._sql_stats(first_exec))
            self.spans.append(rec)
            self.collector_s += time.perf_counter() - t1
