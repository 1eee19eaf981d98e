"""The driver runs bench.py as a subprocess and parses its LAST stdout
line as JSON with a fixed shape — this test pins that contract (a bench
that prints extra lines, renames keys, or crashes is a silently-failed
perf gate, as round 3 proved)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_emits_one_json_line_with_contract_keys():
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "SPARK_GRAFT_BENCH_RUNS": "1",
            "SPARK_GRAFT_BENCH_ONLY": "q1_pricing_summary,text_tokens_top20",
        }
    )
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.strip().splitlines() if ln.strip()]
    payload = json.loads(lines[-1])
    assert payload["metric"] == "headline_queries_total"
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.001
    assert set(payload["queries"]) == {"q1_pricing_summary", "text_tokens_top20"}
    assert set(payload["queries_median"]) == set(payload["queries"])
    assert payload["value"] == round(sum(payload["queries"].values()), 3)
    for v in payload["queries"].values():
        assert isinstance(v, float) and v >= 0
    # machine load at run start and the session's task slots: the host
    # the timings were taken on
    assert isinstance(payload["loadavg"], list) and len(payload["loadavg"]) == 3
    assert isinstance(payload["cpus"], int) and payload["cpus"] >= 1
