"""bench_extra.py in plans-only mode: with SPARK_GRAFT_BENCH_REPEATS=0 it
writes the requested plans and exits 0 without timing anything."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_explain_with_zero_repeats_writes_plan_and_exits_0(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_DIR,
               SPARK_GRAFT_CPUS="2", SPARK_GRAFT_BENCH_REPEATS="0")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench_extra.py"),
         f"--explain={tmp_path}", "topk_per_group"],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO)
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]
    plan = tmp_path / "topk_per_group.txt"
    assert plan.exists() and "Physical Plan" in plan.read_text()
    assert '"queries"' not in proc.stdout  # no timing summary
