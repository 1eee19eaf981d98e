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
    # ambient-load adjudication fields (round 9): machine load at run
    # start, per-query ratio vs the committed idle bench, and the
    # >1.5x re-measure flag list must always be present
    assert isinstance(payload["loadavg"], list) and len(payload["loadavg"]) == 3
    assert isinstance(payload["ratio_vs_committed"], dict)
    assert isinstance(payload["flagged_re_measure"], list)
    # this run is sf0.001, not comparable to the sf0.1 reference artifact
    assert payload["ratio_vs_committed"] == {}


def test_bench_flags_ambient_outliers_against_committed_reference():
    """The ratio/flag logic itself, driven directly (no subprocess): a
    query >1.5x its committed idle number must land in flagged_re_measure."""
    import bench

    name, ref = bench._committed_reference()
    assert name is not None and ref, "no committed BENCH_LOCAL_r*.json found"
    some = next(iter(ref))
    assert ref[some] > 0
    # reproduce the payload arithmetic bench.main() applies at sf0.1
    timings = {some: ref[some] * 2.0, "not_in_reference": 1.0}
    ratios, flagged = {}, []
    for q, t in timings.items():
        base = ref.get(q)
        if base and base > 0:
            r = round(t / base, 2)
            ratios[q] = r
            if r > bench.AMBIENT_FLAG_RATIO:
                flagged.append(q)
    assert ratios[some] == 2.0 and flagged == [some]
    assert "not_in_reference" not in ratios
