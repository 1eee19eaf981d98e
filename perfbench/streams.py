"""Streaming instruments of the ``ingest`` workload: the recording Kinesis
client, the ``foreachBatch`` wrapper that times each micro-batch, decoding
of the delivered records, the per-trigger numbers read from
``StreamingQueryProgress``, and the direct timing of the framing kernel."""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from datetime import datetime
from typing import Any

import pandas as pd

from common import Tracer, median

KERNEL_SAMPLE_CHUNKS = 100_000


class RecordingClient:
    """Wraps ``sinks.FakeKinesisClient``: keeps the wall-clock of each put
    (the event's delivery time), its key and its data. With a tracer on it
    also spans each ``put_record`` call."""

    def __init__(self, tracer: Tracer) -> None:
        from trike_spark.streaming.sinks import FakeKinesisClient

        self.inner = FakeKinesisClient()
        self.tracer = tracer
        self.puts: list[tuple[float, str, str]] = []
        self.put_s = 0.0
        self.corrupt_put: int | None = None  # self-test hook: mangle one put
        # self-test hook: seconds each event of a put takes, which puts the
        # offered rate above the pipeline's capacity; ``release`` ends it
        self.delay_per_event_s = 0.0
        self.released = False

    def release(self) -> None:
        self.released = True

    def put_record(self, stream, partition_key, data, sequence_number_for_ordering=None):
        wall = time.time()
        if self.corrupt_put is not None and len(self.puts) == self.corrupt_put:
            data = data.replace("TSCH", "TSCX", 1)
        if self.delay_per_event_s:
            until = time.perf_counter() + self.delay_per_event_s * len(json.loads(data))
            while not self.released and time.perf_counter() < until:
                time.sleep(0.01)
        with self.tracer.span("sinks.put"):
            t0 = time.perf_counter()
            resp = self.inner.put_record(
                stream, partition_key, data, sequence_number_for_ordering=sequence_number_for_ordering
            )
            self.put_s += time.perf_counter() - t0
        self.puts.append((wall, partition_key, data))
        return resp


@dataclass
class Batch:
    batch_id: int
    start: float  # wall-clock when foreachBatch was entered
    end: float  # wall-clock when the sink returned
    first_put: int
    last_put: int  # exclusive
    upstream_s: float = 0.0
    call_s: float = 0.0
    put_s: float = 0.0


@dataclass
class BatchRecorder:
    """The ``foreachBatch`` function handed to Spark: calls the
    ``KinesisSink`` and records when each micro-batch ran and which puts it
    made. Traced runs first materialize the framed and projected batch
    (persisted, so the sink does not recompute it) to time the upstream
    part on its own."""

    sink: Any
    client: RecordingClient
    tracer: Tracer
    batches: list[Batch] = field(default_factory=list)

    def __call__(self, df, batch_id: int) -> None:
        start = time.time()
        first = len(self.client.puts)
        put_s0 = self.client.put_s
        upstream = 0.0
        req = f"batch:{batch_id}"
        with self.tracer.span("stream.foreach_batch", req):
            if self.tracer.enabled:
                with self.tracer.span("pipeline.upstream", req):
                    t0 = time.perf_counter()
                    df = df.persist()
                    df.count()
                    upstream = time.perf_counter() - t0
            with self.tracer.span("sinks.call", req):
                t0 = time.perf_counter()
                self.sink(df, batch_id)
                call = time.perf_counter() - t0
            if self.tracer.enabled:
                df.unpersist()
        self.batches.append(
            Batch(
                batch_id=batch_id,
                start=start,
                end=time.time(),
                first_put=first,
                last_put=len(self.client.puts),
                upstream_s=upstream,
                call_s=call,
                put_s=self.client.put_s - put_s0,
            )
        )


def epoch_s(iso: str) -> float:
    """ISO-8601 UTC (``...Z``) → epoch seconds."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


@dataclass
class Delivered:
    """Delivered records decoded per key, in delivery order: each put's
    wall-clock, its micro-batch id and its events."""

    by_key: dict[str, list[tuple[float, int, list[dict]]]]
    mismatched_keys: int  # events whose partitionkey differs from the put key


def decode(client: RecordingClient, batches: list[Batch]) -> Delivered:
    by_key: dict[str, list[tuple[float, int, list[dict]]]] = {}
    bad_keys = 0
    for b in batches:
        for wall, key, data in client.puts[b.first_put : b.last_put]:
            events = json.loads(data)
            bad_keys += sum(ev["partitionkey"] != key for ev in events)
            by_key.setdefault(key, []).append((wall, b.batch_id, events))
    return Delivered(by_key=by_key, mismatched_keys=bad_keys)


def expected_id(raw: str, iso_time: str) -> str:
    """The CloudEvent id the projection must produce:
    base64(sha1(second-precision ISO-8601 time || raw))."""
    import base64
    import hashlib

    t = iso_time[:19] + "Z"
    return base64.b64encode(hashlib.sha1((t + raw).encode()).digest()).decode()


def progress_by_batch(query) -> dict[int, Any]:
    return {p.batchId: p for p in query.recentProgress}


_PHASES = {
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.latest_offset_ms": "latestOffset",
    "stream.get_batch_ms": "getBatch",
}


def layer_metrics(
    progress: dict[int, Any], batches: list[Batch], timed_ids: set[int], client: RecordingClient
) -> dict[str, float]:
    """Per-layer numbers over the timed micro-batches: engine phases and
    state-store figures from ``StreamingQueryProgress``, sink figures from
    the recorder."""
    prog = [progress[i] for i in sorted(timed_ids) if i in progress]
    out: dict[str, float] = {"stream.batches": float(len(prog))}
    trig = [p.durationMs.get("triggerExecution", 0) for p in prog]
    out["stream.trigger_ms"] = median(trig) if trig else 0.0
    phase_sum = [0.0] * len(prog)
    for name, key in _PHASES.items():
        vals = [float(p.durationMs.get(key, 0)) for p in prog]
        out[name] = median(vals) if vals else 0.0
        phase_sum = [a + b for a, b in zip(phase_sum, vals)]
    out["stream.phases_share"] = (
        sum(phase_sum) / sum(trig) if prog and sum(trig) else 0.0
    )
    out["sources.input_rows"] = float(sum(p.numInputRows for p in prog))
    ops = [p.stateOperators[0] for p in prog if p.stateOperators]
    out["framing.state_commit_ms"] = median([o.commitTimeMs for o in ops]) if ops else 0.0
    out["framing.all_updates_ms"] = median([o.allUpdatesTimeMs for o in ops]) if ops else 0.0
    out["framing.state_rows_total"] = float(ops[-1].numRowsTotal) if ops else 0.0
    out["framing.state_memory_bytes"] = float(ops[-1].memoryUsedBytes) if ops else 0.0
    out["framing.state_store_instances"] = float(ops[-1].numStateStoreInstances) if ops else 0.0
    tb = [b for b in batches if b.batch_id in timed_ids]
    out["pipeline.upstream_s"] = median([b.upstream_s for b in tb]) if tb else 0.0
    out["sinks.call_s"] = median([b.call_s for b in tb]) if tb else 0.0
    out["sinks.puts"] = float(sum(b.last_put - b.first_put for b in tb))
    out["sinks.put_s"] = sum(b.put_s for b in tb)
    out["sinks.record_bytes"] = float(
        sum(len(d) for b in tb for _, _, d in client.puts[b.first_put : b.last_put])
    )
    ratios = []
    for b in tb:
        keys = {k for _, k, _ in client.puts[b.first_put : b.last_put]}
        if keys:
            ratios.append((b.last_put - b.first_put) / len(keys))
    out["sinks.records_per_key"] = sum(ratios) / len(ratios) if ratios else 0.0
    return out


def kernel_us_per_event(archive, n_chunks: int = KERNEL_SAMPLE_CHUNKS) -> float:
    """Time ``framing.frame_batch`` called directly on the first
    ``n_chunks`` chunks of a seeded archive (``datagen.chunk_archive``),
    one call per key, per framed message."""
    from trike_spark.streaming.framing import frame_batch

    df = pd.DataFrame(
        {
            "conn_id": archive.conn_id[:n_chunks],
            "chunk": archive.chunk[:n_chunks],
            "arrival_seq": archive.arrival_seq[:n_chunks],
        }
    )
    df["arrival_ts"] = pd.Timestamp("2024-01-01")
    groups = [(k, g.reset_index(drop=True)) for k, g in df.groupby("conn_id", sort=True)]
    t0 = time.perf_counter()
    frames = 0
    for key, g in groups:
        out, _, _ = frame_batch(key, g, "", 0)
        frames += 0 if out is None else len(out)
    return (time.perf_counter() - t0) / max(frames, 1) * 1e6
