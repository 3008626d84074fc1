"""scripts/probe.py, the per-query timing and plan-dump probe: a
``--plan-only --out DIR`` run writes each query's formatted plan."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_plan_only_writes_formatted_plan(sf_dir, tmp_path):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    env.setdefault("SPARK_GRAFT_CPUS", "2")
    out = tmp_path / "plans"
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "probe.py"),
         "--plan-only", "--out", str(out), "q6_forecast_revenue"],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "q6_forecast_revenue: plan written" in proc.stdout
    plan = (out / "q6_forecast_revenue.txt").read_text()
    # the formatted explain labels the Parquet FileScan "Scan parquet"
    assert plan.startswith("== Physical Plan ==")
    assert "Scan parquet" in plan and "lineitem.parquet" in plan
