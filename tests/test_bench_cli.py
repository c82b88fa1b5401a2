"""bench.py's named-query mode: the CLI contract, and the shared timing
function's job-group attribution."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench(*args, env=None):
    return subprocess.run(
        [sys.executable, "bench.py", *args],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=600,
    )


def test_unknown_query_exits_before_spark_starts():
    # a JVM that cannot launch: any Spark start would fail before the name
    # check could report, so the message proves the check ran first
    env = {**os.environ, "JAVA_HOME": "/nonexistent"}
    r = _bench("orc_count_star", "no_such_query", env=env)
    assert r.returncode == 2, r.stderr[-2000:]
    assert "unknown queries: ['no_such_query']" in r.stderr


def test_named_run_writes_the_full_result_schema(tmp_path, sf_dir):
    out = tmp_path / "run.json"
    r = _bench("orc_count_star", "--sf-dir", sf_dir, "--iterations", "1", "-o", str(out))
    assert r.returncode == 0, r.stderr[-2000:]
    res = json.loads(out.read_text())
    assert set(res) == {"context", "queries", "failures", "total_avg_ms"}
    assert res["failures"] == []
    [q] = res["queries"]
    assert q["query"] == "orc_count_star"
    [it] = q["iterations"]
    assert it["row_count"] > 0 and it["elapsed_ms"] > 0
    assert q["avg_ms"] == q["best_ms"] == it["elapsed_ms"] == res["total_avg_ms"]


def test_timed_runs_put_jobs_under_the_query_job_group(spark, sf_dir):
    runs = list(bench.timed_runs(spark, sf_dir, "orc_count_star", 2))
    assert len(runs) == 2 and all(rows > 0 for _, rows in runs)
    sc = spark.sparkContext
    assert sc.statusTracker().getJobIdsForGroup("orc_count_star")
    assert sc.getLocalProperty("spark.jobGroup.id") is None
