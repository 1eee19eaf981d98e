"""tools/stream_bench.py: the streaming-throughput harness must run the
full ingest path and emit one well-formed JSON line (the contract the
round notes and future drivers consume)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("sink", ["driver", "distributed"])
def test_stream_bench_emits_contract_json(sink):
    # Retries with longer windows: when the whole suite (its own Spark
    # JVM on all cores) runs alongside, or the host's per-task fixed costs
    # are high (measured on the r10-opt box: first micro-batch ~15-20 s
    # after start, then one per 3-7 s — 30 s yields only 2), a short run
    # produces < 3 micro-batches. That is harness/host pacing, not a
    # contract violation; the ladder ends at a window that seats ~10
    # batches even at the slow cadence. A genuine contract break (bad
    # JSON, wrong keys) fails on every attempt.
    for duration in ("14", "75"):
        out = subprocess.run(
            [
                sys.executable,
                os.path.join(ROOT, "tools", "stream_bench.py"),
                "--rows-per-second",
                "1500",
                "--duration",
                duration,
                "--connections",
                "4",
                "--sink",
                sink,
            ],
            capture_output=True,
            text=True,
            timeout=180,
        )
        if out.returncode == 0 or "too few micro-batches" not in (
            out.stderr + out.stdout
        ):
            break
    assert out.returncode == 0, out.stderr[-2000:]
    line = out.stdout.strip().splitlines()[-1]
    payload = json.loads(line)
    assert payload["metric"] == "ingest_events_per_sec"
    assert payload["unit"] == "events/sec"
    assert payload["value"] > 0
    assert payload["events_delivered"] > 0
    assert payload["micro_batches"] >= 3
    assert payload["connections"] == 4
    assert payload["sink"] == sink
    assert isinstance(payload["shuffle_partitions"], int)
    assert payload["shuffle_partitions"] > 0
    assert payload["batch_gap_p50_sec"] >= 0
    assert payload["batch_gap_p95_sec"] >= payload["batch_gap_p50_sec"]
