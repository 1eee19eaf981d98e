"""Self-test of the benchmark: tiny inputs and a short window.

    python -m pytest perfbench/tests -q

Each case runs ``perfbench/run.py`` end to end (Spark start-up included,
so the whole file takes a few minutes) and checks its contract: the last
stdout line is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``, every metric named in ``BENCHMARK.json`` is printed with
its unit, output verification catches a corrupted record, and the ingest
backlog guard fails a run whose offered rate is above capacity.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


def bench(workload: str, *extra: str, trace: int = 0) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload]
    cmd += ["--seed", "3", "--seconds", "1", "--trace", str(trace), "--small", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["info"], json.loads(lines[-1])


def assert_metrics(result: dict, wanted: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_end_to_end_metric_is_printed(workload):
    info, result = bench(workload)
    assert_metrics(result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    assert all(result["metrics"][m["name"]]["value"] > 0 for m in SPEC["end_to_end"])
    assert info["nproc"] >= 1 and info["seed"] == 3 and info["spark_version"]


def test_traced_run_prints_every_layer_metric():
    info, result = bench("ingest", trace=1)
    assert_metrics(result, SPEC["per_layer"])
    assert result["correct"]
    assert result["metrics"]["framing.kernel_us_per_event"]["value"] > 0
    assert result["metrics"]["trace.spans"]["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_verification_catches_a_corrupted_record(workload):
    _, result = bench(workload, "--corrupt")
    assert not result["correct"]
    assert result["failed"] >= 1


def test_backlog_guard_fails_a_rate_above_capacity():
    """A sink slowed to below the offered rate makes every trigger longer
    than the last: the run must count as failed, not report a latency."""
    info, result = bench("ingest", "--put-delay-ms", "2")
    assert info["backlog_growing"]
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 1


def test_lag_trend_separates_backlog_from_noise():
    from ingest import GROWTH_LIMIT, lag_growth

    ends = [7.5 * i for i in range(6)]
    steady = [7400, 8100, 7600, 7900, 7300, 8000]
    assert abs(lag_growth(ends, steady)) < GROWTH_LIMIT
    # one trigger 40% slower than the rest is not a backlog
    assert lag_growth(ends[:4], [7500, 7500, 7500, 10500]) < GROWTH_LIMIT
    # a lag that rises 20% per batch is
    assert lag_growth(ends[:4], [7500 * 1.2**i for i in range(4)]) > GROWTH_LIMIT
    # too few batches to fit a trend count as a backlog
    assert lag_growth(ends[:2], steady[:2]) > GROWTH_LIMIT


def test_bare_checkout_fails_without_a_result(tmp_path):
    """With only BENCHMARK.json and the benchmark's own files, the run must
    fail fast and print no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
