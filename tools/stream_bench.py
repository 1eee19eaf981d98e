"""Streaming-throughput bench: the reference is a single-node message
proxy, so "matches-or-beats its throughput" is a STREAMING number — this
harness measures events/sec through the complete ingest path

    rate source (S3 fake, EOT-framed, heartbeats every 5th tick)
      → stateful framing (F1)  → heartbeat filter (F2)
      → CloudEvent projection (F3) → per-key batch-encode (F4)
      → ordered Kinesis sink (K1 semantics, fake client)

i.e. every stage the reference proxy runs, live under Structured
Streaming micro-batches. Reported as one JSON line:

    {"metric": "ingest_events_per_sec", "value": N, ...}

Method: drive the rate source at --rows-per-second for --duration
seconds, count the CloudEvents that actually reached the sink (decoded
from the JSON-array records, so framing/projection/encode are all in the
measured path), and divide by the span between the first and last
micro-batch arrival — start-up (JVM, state-store init) is excluded,
steady-state is what a long-lived proxy sees. The offered rate should be
set ABOVE sustainable throughput to measure capacity, not the generator:
the rate source back-pressures by letting batches grow, so delivered/sec
converges on pipeline capacity.

Usage:
    python tools/stream_bench.py [--rows-per-second 50000]
                                 [--duration 30] [--connections 8]
                                 [--sink driver|distributed]

``--sink driver`` (default) is the strict-chaining :class:`KinesisSink`
(reference semantics: one driver-side writer, SequenceNumberForOrdering
chained across batches). ``--sink distributed`` is the horizontal-scale
:class:`DistributedKinesisSink` (records repartition by key; each
executor partition puts its disjoint key set) — the configuration a real
cluster runs, measured here so the two sink postures have comparable
single-node numbers. In distributed mode delivered events are counted
with a Spark accumulator fed by the executor-side fake clients (the
records never exist on the driver), decoding each record where it was
written — in parallel, unlike the driver sink's post-stop decode.

The reference publishes no throughput figures (BASELINE.md), so the
number is recorded in docs/BENCH_NOTES.md for round-over-round
comparison, like the batch bench.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows-per-second", type=int, default=50_000)
    ap.add_argument("--duration", type=float, default=30.0)
    ap.add_argument("--connections", type=int, default=8)
    ap.add_argument("--sink", choices=("driver", "distributed"), default="driver")
    ap.add_argument(
        "--put-latency-ms",
        type=float,
        default=0.0,
        help="modeled per-put service round-trip (sleep before each "
        "put_record): the strict driver chain serializes n_keys puts per "
        "batch, the distributed sink parallelizes them across partitions "
        "— 0 (default) measures pure pipeline capacity, a realistic "
        "5-20 ms exposes the multi-key crossover between the two legs.",
    )
    ap.add_argument(
        "--trigger-ms",
        type=int,
        default=0,
        help="processingTime trigger interval; 0 = default saturated "
        "trigger (next batch when the previous commits). Sub-capacity "
        "rates + a short trigger trade throughput headroom for event "
        "latency — this flag measures that operating point.",
    )
    ap.add_argument(
        "--master",
        default=None,
        help="Spark master override, e.g. local-cluster[2,8,8192] for the "
        "horizontal scale-out rehearsal (separate executor JVMs + Python "
        "workers, network shuffle). Compare local-cluster[1,c,m] vs "
        "local-cluster[2,c,m] at the same per-executor resources to "
        "isolate the add-a-node lever; plain local[n] shares one JVM and "
        "is NOT a scale-out measurement.",
    )
    args = ap.parse_args()
    if args.master:
        import os

        os.environ["SPARK_MASTER"] = args.master

    from trike_spark.session import get_spark
    from trike_spark.streaming.pipeline import build_ingest_pipeline
    from trike_spark.streaming.sinks import (
        DistributedKinesisSink,
        FakeKinesisClient,
        KinesisSink,
    )
    from trike_spark.streaming.sources import fake_chunk_stream

    spark = get_spark("stream-bench")
    # one stateful task per shuffle partition each trigger: rows taken
    # under different counts are not comparable
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    put_sleep = args.put_latency_ms / 1e3

    def _with_latency(client):
        """Model the service round-trip the fake client elides: the real
        strict chain is SERIAL per put (SequenceNumberForOrdering means
        the next put can't start before the previous response), so at
        100+ keys the driver sink pays n_keys x RTT per micro-batch while
        the distributed sink pays ceil(keys/partitions) x RTT — the
        architectural crossover this flag makes measurable on a box with
        no real network."""
        if not put_sleep:
            return client
        inner = client.put_record

        class _Latent:
            def put_record(self, stream, partition_key, data, **kw):
                time.sleep(put_sleep)
                return inner(stream, partition_key, data, **kw)

        return _Latent()

    if args.sink == "driver":
        client = FakeKinesisClient()
        sink = KinesisSink(stream="console", client=_with_latency(client))
        # (arrival wall clock, raw JSON-array records) per micro-batch; the
        # decode-and-count runs AFTER the stream stops — parsing millions
        # of events with the driver's single-threaded json module inside
        # the foreachBatch callback would throttle the pipeline under test
        # and report the harness's speed, not the engine's. Holding the
        # raw strings costs offered_rate × duration × ~40 B (hundreds of
        # MB at the rates probed here), and every event still has to
        # decode for the run to count.
        batch_times: list[tuple[float, list[str]]] = []

        def timed_sink(df, batch_id):
            sink(df, batch_id)
            batch_times.append((time.time(), [c["data"] for c in client.calls]))
            client.calls.clear()

        def batch_counts():
            return [
                sum(len(json.loads(rec)) for rec in recs)
                for _, recs in batch_times
            ]

    else:
        # Executor-side records never reach the driver: count delivered
        # events with an accumulator fed by each partition's fake client,
        # decoding each record where it was written (parallel).
        # CAVEAT (at-least-once counting): accumulator updates from
        # retried or speculatively-executed tasks double-count, so
        # events_delivered / events_per_sec can over-report under task
        # failures. Acceptable for a healthy-run bench on local[*]
        # (no speculation, failures abort the run); when exactness
        # matters, count via a deterministic channel such as spool files
        # keyed by (batch, partition). The JSON output carries a
        # "counting" field declaring which regime produced the number.
        acc = spark.sparkContext.accumulator(0)

        def factory(_acc=acc):
            base = FakeKinesisClient()
            put = base.put_record

            class _Counting:
                def put_record(self, stream, partition_key, data, **kw):
                    _acc.add(len(json.loads(data)))
                    return put(stream, partition_key, data, **kw)

            return _with_latency(_Counting())

        sink = DistributedKinesisSink(stream="console", client_factory=factory)
        batch_times = []  # (arrival wall clock, cumulative delivered)

        def timed_sink(df, batch_id):
            sink(df, batch_id)
            batch_times.append((time.time(), acc.value))

        def batch_counts():
            totals = [n for _, n in batch_times]
            return [b - a for a, b in zip([0] + totals[:-1], totals)]

    chunks = fake_chunk_stream(
        spark,
        rows_per_second=args.rows_per_second,
        n_connections=args.connections,
        heartbeat_every=5,
    )
    events = build_ingest_pipeline(chunks, stale_timeout_ms=600_000)
    writer = (
        events.writeStream.outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="stream_bench_ckpt_"))
        .foreachBatch(timed_sink)
    )
    if args.trigger_ms:
        writer = writer.trigger(processingTime=f"{args.trigger_ms} milliseconds")
    q = writer.start()
    deadline = time.time() + args.duration
    try:
        while time.time() < deadline:
            if q.exception():
                raise RuntimeError(str(q.exception()))
            time.sleep(0.5)
    finally:
        # stop() cancels the in-flight micro-batch's job group; a task
        # killed mid state-store commit then surfaces as the query's
        # terminal exception (CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT),
        # which stop() re-raises. That is stop-time collateral, not a
        # pipeline failure — the loop above checked q.exception() 0.5 s
        # ago, and every measured batch is already in batch_times. Real
        # mid-run errors still fail through the loop's RuntimeError.
        try:
            q.stop()
        except Exception as e:  # noqa: BLE001 — shutdown collateral only
            print(f"note: stop-time exception ignored: {e}", file=sys.stderr)

    # steady state: drop the first batch (cold start), measure from its
    # arrival to the last batch's arrival
    if len(batch_times) < 3:
        raise SystemExit("too few micro-batches; raise --duration")
    t0, _ = batch_times[0]
    t1, _ = batch_times[-1]
    delivered = sum(batch_counts()[1:])
    span = t1 - t0
    # Inter-batch arrival gap ≈ micro-batch duration once the trigger is
    # saturated (default trigger: next batch starts when the previous
    # commits) — the proxy's freshness number: an event waits at most one
    # gap between hitting the source and leaving the sink.
    gaps = sorted(
        b[0] - a[0] for a, b in zip(batch_times[1:], batch_times[2:])
    ) or [0.0]
    # nearest-rank percentiles: ceil(q·n)-1, NOT int(q·n) (which selects
    # the maximum for any n ≤ 20 — p100 masquerading as p95)
    p50 = gaps[max(0, math.ceil(0.50 * len(gaps)) - 1)]
    p95 = gaps[max(0, math.ceil(0.95 * len(gaps)) - 1)]
    # Per-EVENT end-to-end latency (driver-sink mode only, where the raw
    # records reach the driver): each CloudEvent carries its ingest time
    # (the rate-source tick, stamped before framing), so put_wall − time
    # is the true source→sink wait — batch gap bounds it, this measures
    # it. Same clock in local mode; decoded post-stop like the counts.
    lat_fields: dict[str, float] = {}
    if args.sink == "driver":
        from datetime import datetime

        lats: list[float] = []
        for put_wall, recs in batch_times[1:]:
            for rec in recs:
                for ev in json.loads(rec):
                    t = datetime.fromisoformat(
                        ev["time"].replace("Z", "+00:00")
                    ).timestamp()
                    lats.append(put_wall - t)
        lats.sort()
        if lats:
            lat_fields = {
                "event_latency_p50_sec": round(
                    lats[max(0, math.ceil(0.50 * len(lats)) - 1)], 2
                ),
                "event_latency_p95_sec": round(
                    lats[max(0, math.ceil(0.95 * len(lats)) - 1)], 2
                ),
            }
    print(
        json.dumps(
            {
                "metric": "ingest_events_per_sec",
                "value": round(delivered / span, 1),
                "unit": "events/sec",
                "events_delivered": delivered,
                "span_sec": round(span, 2),
                "micro_batches": len(batch_times),
                "offered_rows_per_sec": args.rows_per_second,
                "connections": args.connections,
                "sink": args.sink,
                "put_latency_ms": args.put_latency_ms,
                "master": args.master or "local[default]",
                "shuffle_partitions": shuffle_partitions,
                "counting": (
                    "driver-decoded (exact)"
                    if args.sink == "driver"
                    else "accumulator (at-least-once: task retries/speculation "
                    "can over-count; exact on a healthy local run)"
                ),
                "trigger_ms": args.trigger_ms,
                "batch_gap_p50_sec": round(p50, 2),
                "batch_gap_p95_sec": round(p95, 2),
                **lat_fields,
            }
        )
    )


if __name__ == "__main__":
    main()
