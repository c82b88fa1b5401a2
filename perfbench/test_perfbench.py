"""Tests of the benchmark itself: the seeded input generator and the
determinism of the counters a traced run records.

Run from the repository root::

    python3 -m pytest perfbench/test_perfbench.py -q

The counter tests start two traced benchmark runs per workload (about two
minutes each).
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402


def test_runner_knows_every_workload():
    import run
    import workloads

    assert run.WORKLOADS == tuple(workloads.WORKLOADS)


def _rows(table) -> list[str]:
    return sorted(map(repr, table.to_pylist()))


def test_same_seed_gives_byte_identical_files(tmp_path):
    a = gen.write_inputs(str(tmp_path / "a"), seed=7)
    b = gen.write_inputs(str(tmp_path / "b"), seed=7)
    for t in gen.TABLES:
        assert filecmp.cmp(
            os.path.join(a, f"{t}.parquet"), os.path.join(b, f"{t}.parquet"), shallow=False
        ), t


def test_seed_changes_row_order(tmp_path):
    a = pq.read_table(os.path.join(gen.write_inputs(str(tmp_path / "a"), seed=1), "lineitem.parquet"))
    b = pq.read_table(os.path.join(gen.write_inputs(str(tmp_path / "b"), seed=2), "lineitem.parquet"))
    assert a.column("l_orderkey") != b.column("l_orderkey")


def test_every_table_keeps_its_row_multiset_and_schema(tmp_path):
    out = gen.write_inputs(str(tmp_path / "s"), seed=3)
    for t in gen.TABLES:
        base = pq.read_table(os.path.join(gen.BASE_DIR, f"{t}.parquet"))
        permuted = pq.read_table(os.path.join(out, f"{t}.parquet"))
        assert permuted.schema == base.schema, t
        assert _rows(permuted) == _rows(base), t


# counters that depend only on the plan and the data, per op and warm pass
COUNTERS = (
    "operators.build_jobs",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes",
)


def _traced_run(workload: str, seed: int) -> dict[str, list[tuple]]:
    """Per op, the counter tuples of every traced measured pass of one run."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.splitlines()[-1])["correct"]
    path = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{seed}-trace.json")
    with open(path) as f:
        trace = json.load(f)["per_op_trace"]
    per_op = {}
    for op, reps in trace.items():
        per_op[op] = []
        for rep in reps:
            ratio = rep["scan_rows"] / rep["transfer.rows"] if rep.get("transfer.rows") else None
            per_op[op].append(tuple(rep[c] for c in COUNTERS) + (ratio,))
    return per_op


@pytest.mark.parametrize("workload", ["orc_connector", "llm_curation"])
def test_counters_repeat_exactly_across_runs(workload):
    first = _traced_run(workload, seed=11)
    second = _traced_run(workload, seed=11)
    assert first.keys() == second.keys()
    differing = {
        op: sorted(set(first[op]) | set(second[op]))
        for op in first
        if len(set(first[op]) | set(second[op])) != 1
    }
    assert not differing, differing
