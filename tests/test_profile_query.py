"""tools/profile_query.py end to end: one query at sf0.001 writes its
formatted plan to ``--plan-out DIR/<name>.txt`` and prints a layer line
read from the Spark event log."""

from __future__ import annotations

import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_profile_query_writes_plan_and_layer_line(tmp_path):
    plans = tmp_path / "plans"
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "tools", "profile_query.py"),
            "q5_revenue_by_nation",
            "--runs",
            "1",
            "--sf",
            "/root/testdata/sf0.001",
            "--plan-out",
            str(plans),
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    plan = (plans / "q5_revenue_by_nation.txt").read_text()
    assert plan.startswith("== Physical Plan ==") and "Scan parquet" in plan
    layer = [ln for ln in out.stdout.splitlines() if ln.startswith("layers q5_revenue_by_nation")]
    assert len(layer) == 1, out.stdout[-2000:]
    assert float(re.search(r"\bjobs=(\S+)", layer[0]).group(1)) >= 1
    assert re.search(r"\bexecutor_cpu_s=\S+", layer[0])
