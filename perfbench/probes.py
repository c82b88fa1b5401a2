"""Readers for the counters the benchmark records.

Two sources, both read outside the timed region of an op:

- ``/proc``: host steal time (``/proc/stat``) and the CPU seconds of the
  Spark JVM, its Python worker processes and this driver process.
- The JVM status stores: per-job and per-stage task metrics
  (``AppStatusStore``), SQL plan metrics of every SQL execution
  (``SQLAppStatusStore``) and the Catalyst phase tracker of a DataFrame.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ /proc


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks summed over all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user, so the total stops at steal
    vals = [int(v) for v in fields[1:9]]
    return vals[7], sum(vals)


class StealMeter:
    """Host steal over an interval: CPU-seconds taken by the hypervisor and
    their share of all CPU time on the box."""

    def __init__(self) -> None:
        self._steal, self._total = cpu_ticks()

    def read(self) -> dict:
        steal, total = cpu_ticks()
        d_steal, d_total = steal - self._steal, total - self._total
        return {
            "steal_s": d_steal / _TICK,
            "steal_share": d_steal / d_total if d_total else 0.0,
        }


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants_cpu_s(root: int) -> float:
    """CPU seconds of the live descendants of ``root``, including the
    children each of them has already reaped."""
    ticks = 0
    for pid in _tree_pids(root)[1:]:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime stime cutime cstime
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def _threads_cpu_ns(pid: int) -> dict[str, int]:
    """Nanoseconds on CPU of each live thread of ``pid`` (``schedstat``)."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                out[tid] = int(f.read().split()[0])
        except OSError:
            continue  # the thread ended meanwhile
    return out


class CpuMeter:
    """CPU seconds of the JVM, its descendants (the Python workers) and this
    process over an interval, split into work, garbage collection and JIT
    compilation.

    The JVM's share is summed per thread from ``schedstat`` in nanoseconds,
    because ``/proc/<pid>/stat`` counts 10 ms ticks, too coarse for ops that
    take a few ms; a JVM thread that ends inside the interval drops out of
    the sum. JIT compiler threads are kept apart because JIT compilation is
    a warm-up cost that goes on for many passes, falls from pass to pass
    and depends on timing; at this data size it was 30-40 % of a warm
    pass's JVM CPU. GC threads are kept apart because a warm pass allocates
    the same amount each time, so a collection falls on the same op in
    every pass of a run but on another op in the next run.

    This process's CPU is read between the ``/proc`` scans, so the scans
    themselves are not counted."""

    def __init__(self, jvm_pid: int | None) -> None:
        self.jvm_pid = jvm_pid
        self._kinds: dict[str, str] = {}  # tid -> "jit", "gc" or "work"

    def _kind(self, tid: str) -> str:
        if tid not in self._kinds:
            try:
                with open(f"/proc/{self.jvm_pid}/task/{tid}/comm") as f:
                    name = f.read()
            except OSError:
                return "work"
            if "CompilerThre" in name:
                self._kinds[tid] = "jit"
            elif "GC Thread" in name or name.startswith("G1 "):
                self._kinds[tid] = "gc"
            else:
                self._kinds[tid] = "work"
        return self._kinds[tid]

    def _scan(self) -> tuple[dict[str, int], float]:
        return _threads_cpu_ns(self.jvm_pid), descendants_cpu_s(self.jvm_pid)

    def start(self, before_jvm: bool = False) -> tuple:
        """Open an interval. ``before_jvm``: the JVM does not run yet, so
        every thread it has at ``stop`` counts from zero."""
        scan = ({}, 0.0) if before_jvm else self._scan()
        return scan, time.process_time()

    def stop(self, start: tuple) -> dict[str, float]:
        """CPU seconds since ``start``: ``work`` (everything but the JVM's
        GC and JIT threads), ``gc`` and ``jit``."""
        driver = time.process_time()
        threads1, rest1 = self._scan()
        (threads0, rest0), driver0 = start
        ns = {"work": 0, "gc": 0, "jit": 0}
        for tid, v in threads1.items():
            ns[self._kind(tid)] += v - threads0.get(tid, 0)
        out = {k: v / 1e9 for k, v in ns.items()}
        out["work"] += rest1 - rest0 + driver - driver0
        return out


# ---------------------------------------------------------- status stores


class SparkProbe:
    """Reads one SparkContext's status stores."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the jobs that just ran."""
        self._jsc.listenerBus().waitUntilEmpty(30000)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs(self, group: str) -> list[dict]:
        """Every job of a job group with its stages' task metrics."""
        store = self._jsc.statusStore()
        out = []
        for jid in self.job_ids(group):
            jd = store.job(jid)
            stages = []
            sids = jd.stageIds()
            for k in range(sids.size()):
                stage = self._stage(store, sids.apply(k))
                if stage is not None:
                    stages.append(stage)
            out.append(
                {
                    "job": jid,
                    "start": _opt_s(jd.submissionTime()),
                    "end": _opt_s(jd.completionTime()),
                    "stages": stages,
                }
            )
        return out

    def _stage(self, store, sid: int) -> dict | None:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            return None
        quantile = self.sc._gateway.new_array(self._jvm.double, 1)
        quantile[0] = 1.0
        summary = store.taskSummary(sid, sd.attemptId(), quantile)
        peak = (
            summary.get().peakExecutionMemory().apply(0)
            if summary.isDefined()
            else 0.0
        )
        return {
            "stage": sid,
            "start": _opt_s(sd.submissionTime()),
            "end": _opt_s(sd.completionTime()),
            "tasks": sd.numTasks(),
            "task_s": sd.executorRunTime() / 1e3,
            "task_cpu_s": sd.executorCpuTime() / 1e9,
            "input_bytes": sd.inputBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "peak_task_mem": float(peak),
        }

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def last_sql_execution(self) -> int:
        execs = self._sql_store().executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def plan_rows(self, after: int, job_ids: set[int]) -> dict[str, int]:
        """Rows counted by plan-node SQL metrics, over the SQL executions
        with an id above ``after`` that ran any of ``job_ids``: rows the
        leaf scans decoded (``scan_rows``) and rows the Python-eval nodes
        output (``python_rows``)."""
        store = self._sql_store()
        execs = store.executionsList()
        rows = {"scan_rows": 0, "python_rows": 0}
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            if ex.executionId() <= after:
                break
            keys = ex.jobs().keys().iterator()
            ids = set()
            while keys.hasNext():
                ids.add(keys.next())
            if not ids & job_ids:
                continue
            values = store.executionMetrics(ex.executionId())
            nodes = store.planGraph(ex.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                metrics = node.metrics()
                accumulators = {
                    metrics.apply(m).name(): metrics.apply(m).accumulatorId()
                    for m in range(metrics.size())
                }
                if "data sent to Python workers" in accumulators:
                    key = "python_rows"
                elif "Scan" in node.name():
                    key = "scan_rows"
                else:
                    continue
                value = values.get(accumulators.get("number of output rows", -1))
                if value.isDefined():
                    rows[key] += int(value.get().split()[0].replace(",", ""))
        return rows

    def retained_heap_mb(self) -> float:
        """JVM heap in use after an explicit full GC."""
        runtime = self._jvm.java.lang.Runtime.getRuntime()
        self._jvm.java.lang.System.gc()
        return (runtime.totalMemory() - runtime.freeMemory()) / 2**20


def plan_s(df) -> float:
    """Catalyst analysis + optimization + planning seconds of ``df``'s last
    execution, from its query-execution phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1e3


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None
