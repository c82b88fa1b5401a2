"""Benchmark of the ORC engine: two closed-loop workloads on ``local[nproc]``.

Usage, from the repository root::

    python3 perfbench/run.py --workload orc_connector --seed 1 --seconds 20 --trace 0

One client runs the workload's ops one after another. A run writes the
seeded inputs (outside any timed region), starts a fresh Python process and
JVM (``worker.py``) with ``TMPDIR`` and ``SPARK_LOCAL_DIRS`` pointed at a
per-run directory, and deletes that directory when the worker has ended.

Earlier lines of standard output report host steal, the wall-clock and
JIT figures that are not gated, and any failed op; the last line is one
JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics. The run's whole record goes to
``.perfbench_out/<workload>-seed<seed>[-trace].json``; a traced run's
holds the per-op trace.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# the names of workloads.WORKLOADS, known here without importing the engine
WORKLOADS = ("orc_connector", "llm_curation")
SETUPS = 6  # set-ups per run: the first launches the JVM; setup_s is the median of the rest
RUN_LIMIT_S = 170  # the worker is killed after this long


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _session_members(sid: int) -> list[int]:
    """Live processes of session ``sid`` (zombies have ended already)."""
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            # fields after the command name: state ppid pgrp session ...
            fields = raw[raw.rindex(")") + 2 :].split()
            if fields[0] != "Z" and int(fields[3]) == sid:
                out.append(int(entry))
    return out


def _kill_session(proc: subprocess.Popen) -> None:
    """Stop the worker and every process of its session (the JVM, the
    PySpark daemon, which leaves the worker's process group, and its Python
    workers), and wait until all of them have ended."""
    deadline = time.monotonic() + 30
    while True:
        proc.poll()  # reap the worker, so that it leaves the list
        members = _session_members(proc.pid)
        if not members or time.monotonic() > deadline:
            break
        for pid in members:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "datafusion_datasource_orc_spark", "__init__.py")):
        return _fail(f"the engine package is missing under {ROOT}")
    import gen
    from probes import StealMeter

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; choose from {list(WORKLOADS)}")

    started = time.perf_counter()
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        # one data copy per set-up: each copy is a distinct path, so every
        # set-up pays the program's per-path materialization again
        first = gen.write_inputs(os.path.join(run_dir, "data", "s0"), args.seed)
        data = [first]
        for k in range(1, SETUPS):
            copy = os.path.join(run_dir, "data", f"s{k}")
            shutil.copytree(first, copy)
            data.append(copy)
        for sub in ("tmp", "local", "work"):
            os.makedirs(os.path.join(run_dir, sub))
        env = dict(os.environ)
        env.update(
            TMPDIR=os.path.join(run_dir, "tmp"),
            SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
            SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
            # the JVM ignores TMPDIR; without these it leaves native libraries,
            # artifact and scratch directories and its perf-data file in
            # /tmp, since it is killed, not shut down
            JAVA_TOOL_OPTIONS=" ".join(
                o for o in (
                    f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                    "-XX:-UsePerfData",
                    os.environ.get("JAVA_TOOL_OPTIONS"),
                ) if o
            ),
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
            ),
        )
        env.pop("PYSPARK_GATEWAY_PORT", None)
        out = os.path.join(run_dir, "result.json")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--data", *data,
            "--work", os.path.join(run_dir, "work"),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out,
        ]
        steal = StealMeter()
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True
        )
        timed_out = False
        try:
            proc.wait(timeout=max(RUN_LIMIT_S - (time.perf_counter() - started), 1))
        except subprocess.TimeoutExpired:
            timed_out = True
        finally:
            _kill_session(proc)
        run_steal = steal.read()
        if timed_out:
            return _fail(f"run exceeded {RUN_LIMIT_S} s")
        if proc.returncode != 0 or not os.path.isfile(out):
            return _fail(f"worker exited with code {proc.returncode}")
        with open(out) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return report(rec, args, run_steal)


def report(rec: dict, args, run_steal: dict) -> int:
    passes = rec["passes"]
    print(
        "steal: run {:.2f} s ({:.1%} of CPU time); per pass {}".format(
            run_steal["steal_s"],
            run_steal["steal_share"],
            " ".join(f"{p['steal_s']:.2f}" for p in passes),
        )
    )
    wall = rec["wall"]
    print(
        "wall clock, which follows host steal: setup {:.4f} s, cold pass {:.4f} s "
        "({:.4f} s CPU), "
        "pass_s {:.4f} s, query_geomean_s {:.4f} s, query_tail_s {:.4f} s (p{:.1f} of "
        "{} op latencies); {} measured passes, {:.1f} s from the cold pass on".format(
            wall["setup_wall_s"], wall["cold_pass_s"], wall["cold_pass_cpu_s"], wall["pass_s"],
            wall["query_geomean_s"], wall["query_tail_s"], wall["query_tail_percentile"],
            wall["query_tail_samples"], wall["measured_passes"], rec["measured_s"],
        )
    )
    first = rec["first_setup"]
    print(
        "first set-up, with the JVM launch, outside setup_s: {:.2f} s wall, {:.2f} s "
        "CPU without JIT".format(first["setup_wall_s"], first["setup_s"])
    )
    print(
        "JIT compiler CPU, outside the gated CPU figures: cold pass {:.2f} s, "
        "measured pass {:.2f} s (median); GC CPU per measured pass {:.3f} s".format(
            wall["cold_pass_jit_s"], wall["pass_jit_s"], wall["pass_gc_s"]
        )
    )
    for failure in rec["failures"]:
        print(f"FAILED {failure}")
    # the whole record (per-pass steal, per-op latencies, setups and, when
    # traced, the per-op trace) stays in the checkout for later analysis
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    suffix = "-trace" if args.trace else ""
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}{suffix}.json")
    with open(path, "w") as f:
        json.dump(rec | {"seed": args.seed, "run_steal": run_steal}, f, indent=1)
    print(f"record written to {os.path.relpath(path, ROOT)}")
    if args.trace:
        metrics = rec["per_layer"]
    else:
        metrics = rec["end_to_end"]
    print(
        json.dumps(
            {
                "correct": rec["failed"] == 0,
                "attempted": rec["attempted"],
                "failed": rec["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
