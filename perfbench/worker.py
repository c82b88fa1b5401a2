"""One benchmark run inside a fresh Python process and JVM.

Started by ``run.py``, never by hand. It starts the JVM and sets the
workload up, runs every op once (the cold pass), runs unmeasured warm-up
passes, then runs measured passes until there are enough and ``--seconds``
have passed since the first of them began. Last, it sets the workload up again
on each further data copy, in a new session each time: these set-ups give
``setup_s``. It writes one JSON record with every metric, the per-pass
host-steal readings and, for a traced run, the per-op trace.

Timed region of an op: the Python call that builds its DataFrame plus the
action that delivers its result (collect to pandas, or the ORC write).
Checks and status-store reads happen outside it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback

from check import Checker
from probes import CpuMeter, SparkProbe, StealMeter, plan_s
from workloads import WORKLOADS, Ctx, Op, Workload, setup

from datafusion_datasource_orc_spark.session import get_spark

# After the cold pass, warm-up passes run unmeasured: JIT compilation goes
# on for several passes, and how far it got would otherwise set the figures.
WARMUP_PASSES = 2
MIN_MEASURED = 3  # measured passes per run, also when they overrun --seconds
CHECK_GROUP = "perfbench-check"


def start_session():
    return get_spark(
        app_name="perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )


def run_setup(wl: Workload, sf_dir: str, cpu: CpuMeter, spark=None) -> tuple:
    """Stop ``spark`` if given, start a session and set the workload up on
    ``sf_dir``. Each data copy has its own path, so no per-path cache of
    the program hits. ``setup_s`` is the set-up's CPU seconds without JIT
    compilation (see ``CpuMeter``); its wall time is recorded beside it."""
    if spark is not None:
        spark.stop()
    cpu0 = cpu.start(before_jvm=spark is None)
    t0 = time.perf_counter()
    spark = start_session()
    cpu.jvm_pid = spark.sparkContext._gateway.proc.pid
    rec = {"session.start_s": time.perf_counter() - t0}
    rec.update(setup(wl, spark, sf_dir))
    rec["setup_wall_s"] = time.perf_counter() - t0
    used = cpu.stop(cpu0)
    rec["setup_s"] = used["work"] + used["gc"]
    rec["setup_jit_s"] = used["jit"]
    return spark, rec


def _span(jobs: list[dict], since: float) -> float:
    """Seconds covered by the jobs submitted at or after ``since``."""
    inside = [j for j in jobs if j["start"] is not None and j["start"] >= since]
    if not inside:
        return 0.0
    return max(j["end"] or j["start"] for j in inside) - min(j["start"] for j in inside)


class Runner:
    def __init__(self, wl: Workload, ctx: Ctx, checker: Checker, cpu: CpuMeter) -> None:
        self.wl, self.ctx, self.checker, self.cpu = wl, ctx, checker, cpu
        self.probe = SparkProbe(ctx.spark)
        self.peak_task_mem = 0.0
        self.failures: list[str] = []

    def run_op(self, op: Op, pass_no: int, traced: bool) -> dict:
        spark, group = self.ctx.spark, f"{op.name}/{pass_no}"
        spark.sparkContext.setJobGroup(group, op.name)
        sql_before = self.probe.last_sql_execution() if traced else None
        steal = StealMeter()
        cpu0 = self.cpu.start()
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            res = op.run(self.ctx)
            error = None
        except Exception as e:  # a failed op is counted, not fatal
            traceback.print_exc()
            res, error = None, f"{type(e).__name__}: {str(e)[:300]}"
        latency = time.perf_counter() - t0
        used = self.cpu.stop(cpu0)
        rec = {"op": op.name, "pass": pass_no, "latency_s": latency, "cpu_s": used["work"],
               "gc_s": used["gc"], "jit_s": used["jit"],
               "steal_share": steal.read()["steal_share"]}
        self.probe.drain()
        jobs = self.probe.jobs(group)
        for j in jobs:
            for s in j["stages"]:
                self.peak_task_mem = max(self.peak_task_mem, s["peak_task_mem"])
        rec["ok"] = error is None and self._check(op, res)
        if not rec["ok"]:
            self.failures.append(f"{op.name} pass {pass_no}: {error or 'hash mismatch'}")
        if traced and res is not None:
            t1 = time.perf_counter()
            rec["trace"] = self._trace(op, res, wall0, latency, jobs, sql_before)
            rec["trace_s"] = time.perf_counter() - t1
        return rec

    def _check(self, op: Op, res) -> bool:
        frame = res.frame
        if res.write_dir is not None:
            sc = self.ctx.spark.sparkContext
            sc.setJobGroup(CHECK_GROUP, "read-back check")
            frame = self.ctx.spark.read.orc(res.write_dir).toPandas()
        return self.checker.check(op.name, frame)

    def _trace(self, op, res, wall0, latency, jobs, sql_before) -> dict:
        """Layer spans and counters of one op execution: op -> build ->
        action, with the Spark jobs and stages as children."""
        build_s = res.build_end - wall0
        stages = [s for j in jobs for s in j["stages"]]
        t = {
            "spans": {
                "op": [wall0, wall0 + latency],
                "build": [wall0, res.build_end],
                "action": [res.build_end, wall0 + latency],
                "jobs": [
                    {"job": j["job"], "span": [j["start"], j["end"]],
                     "stages": [[s["stage"], s["start"], s["end"]] for s in j["stages"]]}
                    for j in jobs
                ],
            },
            "operators.build_s": build_s,
            "operators.build_jobs": sum(
                1 for j in jobs if j["start"] is not None and j["start"] < res.build_end
            ),
            "exec.jobs": len(jobs),
            "exec.stages": len(stages),
        }
        for key in (
            "tasks", "task_s", "task_cpu_s", "shuffle_write_bytes",
            "shuffle_read_bytes", "input_bytes", "spill_bytes",
        ):
            t[f"exec.{key}"] = sum(s[key] for s in stages)
        job_ids = {j["job"] for j in jobs}
        plan_rows = self.probe.plan_rows(sql_before, job_ids)
        t["functions.python_rows"] = plan_rows["python_rows"]
        action_s = latency - build_s
        if res.df is not None:
            # a write plans inside the writer, on a query execution of its
            # own; only a collected DataFrame's phases are readable here
            t["catalyst.plan_s"] = plan_s(res.df)
        if res.write_dir is not None:
            files = [
                os.path.join(d, f)
                for d, _, fs in os.walk(res.write_dir)
                for f in fs
                if f.endswith(".orc")
            ]
            t["sources.write_s"] = action_s
            t["sources.write_files"] = len(files)
            t["sources.write_bytes"] = sum(os.path.getsize(f) for f in files)
        if op.footer:
            t["sources.footer_s"] = latency
        if res.frame is not None:
            t["transfer.rows"] = len(res.frame)
            t["transfer.s"] = max(0.0, action_s - _span(jobs, res.build_end))
            t["scan_rows"] = plan_rows["scan_rows"]
        return t

    def run_pass(self, pass_no: int, kind: str, traced: bool = False) -> dict:
        steal = StealMeter()
        t0 = time.perf_counter()
        records = [self.run_op(op, pass_no, traced) for op in self.wl.ops]
        out = {
            "pass": pass_no,
            "kind": kind,
            "traced": traced,
            "wall_s": time.perf_counter() - t0,
            "cpu_s": sum(r["cpu_s"] for r in records),
            "gc_s": sum(r["gc_s"] for r in records),
            "jit_s": sum(r["jit_s"] for r in records),
            "ops": records,
            **steal.read(),
        }
        if traced:
            t1 = time.perf_counter()
            out["driver.retained_heap_mb"] = self.probe.retained_heap_mb()
            heap_s = time.perf_counter() - t1
            out["wall_s"] += heap_s
            out["trace.collect_s"] = heap_s + sum(r.get("trace_s", 0.0) for r in records)
        return out


def orc_storage(roots: list[str]) -> tuple[int, int]:
    """(ORC file bytes, Arrow in-memory bytes of their rows) under roots."""
    import pyarrow.orc as porc

    stored = arrow = 0
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                if f.endswith(".orc"):
                    path = os.path.join(d, f)
                    stored += os.path.getsize(path)
                    arrow += porc.ORCFile(path).read().nbytes
    return stored, arrow


def _median_per_op(passes: list[dict], key) -> dict[str, float]:
    per_op: dict[str, list[float]] = {}
    for p in passes:
        for r in p["ops"]:
            v = key(r)
            if v is not None:
                per_op.setdefault(r["op"], []).append(v)
    return {op: statistics.median(vs) for op, vs in per_op.items()}


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, samples)."""
    xs = sorted(latencies)
    n = len(xs)
    k = max(n - 11, 0)
    return xs[k], 100.0 * (k + 1) / n, n


def _geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def end_to_end(setups, passes, executions, work_roots, peak_task_mem) -> tuple:
    """The metrics gated by their bounds, and the wall-clock figures beside
    them. On a shared host, wall time follows hypervisor steal by 20-40 %
    while CPU seconds move much less, so set-up and the ops are gated on CPU
    seconds without JIT compilation, and the ops without GC, which is
    counted per pass (see ``CpuMeter``). The cold pass is
    reported, not gated: its CPU seconds depend on how soon the JIT
    compiles the hot code, which steal delays."""
    cold = passes[0]
    warm = [p for p in passes if p["kind"] == "measured" and not p["traced"]]
    med = _median_per_op(warm, lambda r: r["latency_s"])
    med_cpu = _median_per_op(warm, lambda r: r["cpu_s"])
    tail_s, tail_pct, tail_n = tail([r["latency_s"] for p in warm for r in p["ops"]])
    stored, arrow = orc_storage(work_roots)
    metrics = {
        "setup_s": (statistics.median(s["setup_s"] for s in setups), "s"),
        # GC counts for the pass, not for the op it happens to fall on
        "pass_cpu_s": (sum(med_cpu.values()) + statistics.median(p["gc_s"] for p in warm), "s"),
        "query_cpu_geomean_s": (_geomean(med_cpu.values()), "s"),
        "ok_op_share": (sum(r["ok"] for r in executions) / len(executions), "ratio"),
        "stored_bytes_ratio": (stored / arrow if arrow else 0.0, "ratio"),
        "peak_task_mem_mb": (peak_task_mem / 2**20, "MB"),
    }
    wall = {
        "setup_wall_s": statistics.median(s["setup_wall_s"] for s in setups),
        "cold_pass_s": sum(r["latency_s"] for r in cold["ops"]),
        "cold_pass_cpu_s": cold["cpu_s"] + cold["gc_s"],
        "pass_s": sum(med.values()),
        "query_geomean_s": _geomean(med.values()),
        "query_tail_s": tail_s,
        "query_tail_percentile": tail_pct,
        "query_tail_samples": tail_n,
        "measured_passes": len(warm),
        "cold_pass_jit_s": cold["jit_s"],
        "pass_gc_s": statistics.median(p["gc_s"] for p in warm),
        "pass_jit_s": statistics.median(p["jit_s"] for p in warm),
        "per_op_median_s": med,
        "per_op_median_cpu_s": med_cpu,
    }
    return metrics, wall


def per_layer(setups, passes) -> dict:
    measured = [p for p in passes if p["kind"] == "measured"]
    traced = [p for p in measured if p["traced"]]
    untraced = [p for p in measured if not p["traced"]]

    def op_sum(key) -> float:
        return sum(
            _median_per_op(traced, lambda r: (r.get("trace") or {}).get(key)).values()
        )

    m = {}
    for key, unit in (
        ("operators.build_s", "s"), ("operators.build_jobs", "count"),
        ("catalyst.plan_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
        ("exec.tasks", "count"), ("exec.task_s", "s"), ("exec.task_cpu_s", "s"),
        ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
        ("exec.input_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
        ("functions.python_rows", "count"), ("sources.write_s", "s"),
        ("sources.write_bytes", "bytes"), ("sources.write_files", "count"),
        ("sources.footer_s", "s"), ("transfer.s", "s"), ("transfer.rows", "count"),
    ):
        m[key] = (op_sum(key), unit)
    rows = m["transfer.rows"][0]
    m["sources.scan_rows_ratio"] = (op_sum("scan_rows") / rows if rows else 0.0, "ratio")
    for key in ("session.start_s", "sources.materialize_s"):
        m[key] = (statistics.median(s[key] for s in setups), "s")
    heap = [p["driver.retained_heap_mb"] for p in traced]
    m["driver.retained_heap_mb"] = (heap[-1], "MB")
    m["driver.retained_heap_growth_mb"] = (heap[-1] - heap[0], "MB")
    m["jvm.gc_cpu_s"] = (statistics.median(p["gc_s"] for p in traced), "s")
    m["jvm.jit_cpu_s"] = (statistics.median(p["jit_s"] for p in traced), "s")
    m["trace.collect_s"] = (statistics.median(p["trace.collect_s"] for p in traced), "s")
    lat_t = _median_per_op(traced, lambda r: r["latency_s"])
    lat_u = _median_per_op(untraced, lambda r: r["latency_s"])
    m["trace.overhead_s"] = (sum(lat_t.values()) - sum(lat_u.values()), "s")
    return m


def per_op_trace(passes) -> dict:
    """Per op: the counters and spans of every traced measured pass."""
    out: dict[str, list] = {}
    for p in passes:
        for r in p["ops"]:
            if "trace" in r:
                out.setdefault(r["op"], []).append({"pass": p["pass"], **r["trace"]})
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True, nargs="+")
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    wl = WORKLOADS[args.workload]
    checker = Checker()
    cpu = CpuMeter(None)
    spark, first_setup = run_setup(wl, args.data[0], cpu)
    os.makedirs(args.work, exist_ok=True)
    runner = Runner(wl, Ctx(spark, args.data[0], args.work), checker, cpu)

    t0 = time.perf_counter()
    passes = [runner.run_pass(0, "cold")]
    for _ in range(WARMUP_PASSES):
        passes.append(runner.run_pass(len(passes), "warmup"))
    # traced runs alternate traced and untraced measured passes, so the run
    # measures its own tracing overhead
    want = MIN_MEASURED * (2 if args.trace else 1)
    done = 0
    t_measured = time.perf_counter()
    while done < want or time.perf_counter() - t_measured < args.seconds:
        traced = bool(args.trace) and done % 2 == 0
        passes.append(runner.run_pass(len(passes), "measured", traced))
        done += 1
    measured_s = time.perf_counter() - t0
    # the gated set-ups come last, once JIT compilation has mostly settled:
    # the first set-up launches the JVM, and set-ups right after it still
    # speed up from one to the next
    setups = []
    for sf_dir in args.data[1:]:
        spark, rec = run_setup(wl, sf_dir, cpu, spark)
        setups.append(rec)

    roots = [args.work, os.environ.get("TMPDIR", "/tmp")]
    executions = [r for p in passes for r in p["ops"]]
    e2e, wall = end_to_end(setups, passes, executions, roots, runner.peak_task_mem)
    record = {
        "workload": wl.name,
        "measured_s": measured_s,
        "end_to_end": e2e,
        "wall": wall,
        "first_setup": first_setup,
        "setups": setups,
        "passes": [
            {k: v for k, v in p.items() if k != "ops"}
            | {"ops": [{k: v for k, v in r.items() if k != "trace"} for r in p["ops"]]}
            for p in passes
        ],
        "failures": runner.failures,
        "attempted": len(executions),
        "failed": sum(not r["ok"] for r in executions),
    }
    if args.trace:
        record["per_layer"] = per_layer(setups, passes)
        record["per_op_trace"] = per_op_trace(passes)
    # no spark.stop(): run.py kills the JVM with this process group, faster
    with open(args.out, "w") as f:
        json.dump(record, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
