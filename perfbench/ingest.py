"""``ingest`` workload: open-loop live traffic at one fixed rate.

``sources.fake_chunk_stream`` (8 connections, a heartbeat every 5th tick)
at ``RATE`` rows/s → ``pipeline.build_ingest_pipeline`` (default stale
timeout) → ``sinks.write_stream_to_kinesis`` with a ``KinesisSink`` on a
recording ``FakeKinesisClient``, default trigger.

An event's latency is its put wall-clock minus its CloudEvent ``time``,
which is the rate source's scheduled tick, so a stall is charged to every
event behind it. The rate source is deterministic; the seed does not
change its input.
"""

from __future__ import annotations

import sys
import time

from dataclasses import dataclass

from common import median, pct
from datagen import chunk_archive
from streams import (
    KERNEL_SAMPLE_CHUNKS,
    BatchRecorder,
    RecordingClient,
    decode,
    epoch_s,
    expected_id,
    kernel_us_per_event,
    layer_metrics,
    progress_by_batch,
)

RATE = 1000  # rows/s offered; well below what local[4] sustains
CONNECTIONS = 8
HEARTBEAT_EVERY = 5
# Warm-up is a fixed number of micro-batches so that set-up time does not
# jump with a variable warm-up: batch 0 is empty and pays the cold start,
# batch 1 carries the rows due during start-up. At this rate a trigger's
# time is almost all fixed cost, so the next batch is already at the steady
# gap; the ratio of the first timed gap to the median timed gap is reported
# with the result.
WARMUP_BATCHES = 2
# The timed part is a fixed number of micro-batches, so every latency
# figure rests on the same number of triggers however fast the host is.
NOMINAL_BATCH_S = 6.0  # sizes it: round(seconds / this) batches
MIN_TIMED = 4  # and never fewer than a lag trend needs
# An overloaded rate shows as micro-batches that never end: warm-up and
# timed batches must all end within this many seconds of the stream start.
DEADLINE_S = 120.0
# A backlog is building when the lag's trend rises, across the timed
# batches, by more than this share of the median lag. At a steady rate the
# lag is the rows that came due during one trigger; trigger-time noise moves
# its trend by up to ~0.2 on a 4-core host. Above capacity each trigger
# takes what came due during the last one, so it is longer than the last by
# at least the per-trigger fixed cost, and as long as batches end before the
# deadline that fixed cost is a large share of a trigger (here over a
# third): the lag then rises by more than a third per batch, 0.86 of the
# median lag over four batches.
GROWTH_LIMIT = 0.5
# Batch times come from the foreachBatch recorder, not from the waiting
# loop, so the loop polls the query rarely and takes little CPU from it.
POLL_S = 0.1


def timed_batches(seconds: float) -> int:
    return max(MIN_TIMED, round(seconds / NOMINAL_BATCH_S))


def _ticks(key: int, below: int) -> list[int]:
    """The non-heartbeat ticks of connection ``key`` under tick ``below``,
    in order: exactly the events the sink must deliver for that key."""
    return [v for v in range(key, below, CONNECTIONS) if v % HEARTBEAT_EVERY]


@dataclass
class Checked:
    checked: int
    failed: int
    origin_ms: float  # the rate source's tick-0 time, from the events
    duplicate_ids: int
    first_failure: str = ""


def verify(by_key: dict[str, list[tuple]], n_ticks: int, canned: list[str]) -> Checked:
    """Check every delivered event against the tick it came from.

    The source emitted ticks ``0 .. n_ticks - 1``; tick ``v`` goes to
    ``conn-{v % CONNECTIONS}``, is a heartbeat when ``v % HEARTBEAT_EVERY
    == 0`` and otherwise carries ``canned[v % len(canned)]``. So each key
    must deliver exactly its non-heartbeat ticks in order: the i-th event
    of a key is that key's i-th such tick (counts must match, so none is
    missing or repeated, and order holds across batches), its raw must be
    that tick's message, its id must equal the projection's formula, and
    its whole-second ``time`` must agree with a single source start time
    for all ticks. Ids are not unique here: the id hashes the time to the
    second and the payload, and the source repeats three messages."""
    ms_per_tick = 1000.0 / RATE
    lo, hi = float("-inf"), float("inf")
    checked = failed = 0
    first = ""
    seen: set[str] = set()
    dup = 0
    for k in range(CONNECTIONS):
        key = f"conn-{k}"
        events = by_key.get(key, [])
        ticks = _ticks(k, n_ticks)
        checked += max(len(events), len(ticks))
        bad = abs(len(events) - len(ticks))
        if bad and not first:
            first = f"{key}: {len(events)} events delivered, {len(ticks)} expected"
        for v, (_, _, ev) in zip(ticks, events):
            raw = ev["data"]["raw"]
            sec_ms = epoch_s(ev["time"]) * 1000
            lo = max(lo, sec_ms - v * ms_per_tick - 1)
            hi = min(hi, sec_ms + 1000 - v * ms_per_tick + 1)
            ok = raw == canned[v % len(canned)] and ev["id"] == expected_id(raw, ev["time"])
            if not ok:
                bad += 1
                if not first:
                    first = f"{key}: tick {v} delivered {ev!r}"
            dup += ev["id"] in seen
            seen.add(ev["id"])
        failed += bad
    if lo > hi:
        # event times do not fit one schedule: some event sits at the
        # wrong tick
        failed = checked
        first = first or "event times do not match the source schedule"
    return Checked(checked, failed, (lo + hi) / 2, dup, first)


def _lag_rows(progress, origin_ms: float) -> dict[int, float]:
    """Rows due by each trigger's end (by the source's schedule) minus rows
    processed so far."""
    lag: dict[int, float] = {}
    processed = 0
    for bid in sorted(progress):
        p = progress[bid]
        processed += p.numInputRows
        end_ms = epoch_s(p.timestamp) * 1000 + p.durationMs.get("triggerExecution", 0)
        lag[bid] = RATE * (end_ms - origin_ms) / 1000 - processed
    return lag


def lag_growth(ends: list[float], lags: list[float]) -> float:
    """Rise of the lag's trend from the first to the last timed batch, as a
    share of the median lag; ``inf`` when there are too few batches to fit
    a trend. The trend is the median of the pairwise slopes (Theil-Sen), so
    one slow trigger does not pass for a backlog, while a lag that keeps
    rising does."""
    if len(lags) < MIN_TIMED:
        return float("inf")
    slopes = [
        (lags[j] - lags[i]) / (ends[j] - ends[i])
        for i in range(len(lags))
        for j in range(i + 1, len(lags))
        if ends[j] > ends[i]
    ]
    return median(slopes) * (ends[-1] - ends[0]) / max(median(lags), 1.0)


def run(ctx) -> dict:
    from trike_spark.streaming.pipeline import build_ingest_pipeline
    from trike_spark.streaming.sinks import KinesisSink, write_stream_to_kinesis
    from trike_spark.streaming.sources import CANNED_MESSAGES, fake_chunk_stream

    spark = ctx.spark
    tr = ctx.tracer
    client = RecordingClient(tr)
    if ctx.corrupt:
        client.corrupt_put = 5
    client.delay_per_event_s = ctx.put_delay_ms / 1000
    recorder = BatchRecorder(KinesisSink(stream="console", client=client), client, tr)
    with tr.span("warmup"):
        t_warm = time.perf_counter()
        chunks = fake_chunk_stream(
            spark, rows_per_second=RATE, n_connections=CONNECTIONS, heartbeat_every=HEARTBEAT_EVERY
        )
        events = build_ingest_pipeline(chunks)
        query = write_stream_to_kinesis(events, recorder, ctx.path("checkpoint"))
        deadline = time.time() + DEADLINE_S
        while len(recorder.batches) < WARMUP_BATCHES and time.time() < deadline:
            ctx.check_stream(query)
            time.sleep(POLL_S)
        warmup_s = time.perf_counter() - t_warm
    warm_n = WARMUP_BATCHES
    n_timed = timed_batches(ctx.seconds)
    t0 = recorder.batches[warm_n - 1].end if len(recorder.batches) >= warm_n else time.time()
    ctx.mark_timed_start()
    while len(recorder.batches) < warm_n + n_timed and time.time() < deadline:
        ctx.check_stream(query)
        time.sleep(POLL_S)
    timed = recorder.batches[warm_n : warm_n + n_timed]
    if timed:
        ctx.await_progress(query, timed[-1].batch_id)
    client.release()
    ctx.stop_stream(query)
    t_end = timed[-1].end if timed else time.time()
    progress = progress_by_batch(query)
    timed_ids = {b.batch_id for b in timed}
    gaps = [b.end - a.end for a, b in zip(recorder.batches[warm_n - 1 :], timed)]
    settle = gaps[0] / median(gaps) if gaps else 0.0

    delivered = decode(client, recorder.batches)
    # every batch with a progress report ran to commit; they cover ticks
    # 0 .. n_ticks - 1
    done = [b for b in recorder.batches if b.batch_id in progress]
    n_ticks = sum(progress[b.batch_id].numInputRows for b in done)
    done_ids = {b.batch_id for b in done}
    by_key = {
        k: [(wall, bid, ev) for wall, bid, evs in puts if bid in done_ids for ev in evs]
        for k, puts in delivered.by_key.items()
    }
    check = verify(by_key, n_ticks, CANNED_MESSAGES)
    if check.first_failure:
        print(f"ingest: verification failed: {check.first_failure}", file=sys.stderr)
    # latency against each event's exact scheduled tick time (the
    # CloudEvent time carries it truncated to the second)
    ms_per_tick = 1000.0 / RATE
    lat = []
    for k, evs in by_key.items():
        kk = int(k.rsplit("-", 1)[1])
        for v, (wall, bid, _) in zip(_ticks(kk, n_ticks), evs):
            if bid in timed_ids:
                lat.append(wall - (check.origin_ms + v * ms_per_tick) / 1000)
    lag = _lag_rows(progress, check.origin_ms)
    ends = [b.end for b in timed if b.batch_id in lag]
    lags = [lag[b.batch_id] for b in timed if b.batch_id in lag]
    growth = lag_growth(ends, lags)
    # too few batches on time, or a rising lag: a backlog is building, and
    # the run's latency would measure how long it lasted, not the pipeline
    backlog = len(timed) < n_timed or growth > GROWTH_LIMIT
    if backlog:
        print(
            f"ingest: backlog: {len(timed)} of {n_timed} timed batches ended in time, "
            f"lag trend rose by {growth:.2f} of the median lag",
            file=sys.stderr,
        )
    failed = check.checked if backlog else check.failed + delivered.mismatched_keys
    throughput = len(lat) / (t_end - t0)
    layers = layer_metrics(progress, recorder.batches, timed_ids, client)
    layers["sources.lag_rows"] = median(lags) if lags else 0.0
    if tr.enabled:
        # the framing kernel on its own, on a seeded archive (Zipf keys,
        # heartbeats, frames split across chunks)
        layers["framing.kernel_us_per_event"] = kernel_us_per_event(chunk_archive(ctx.seed, KERNEL_SAMPLE_CHUNKS))
    layers["warmup_s"] = warmup_s
    p50, p99 = (pct(lat, 50), pct(lat, 99)) if lat else (0.0, 0.0)
    layers.update(
        {
            "ingest.event_latency_p50_s": p50,
            "ingest.event_latency_p99_s": p99,
            "ingest.delivered_events_per_s": throughput,
        }
    )
    return {
        "attempted": max(check.checked, 1),
        "failed": failed,
        "correct": failed == 0,
        "e2e": {"throughput_per_s": throughput, "latency_p50_s": p50},
        "layers": layers,
        "info": {
            "offered_rows_per_s": RATE,
            "expected_events_per_s": RATE * (HEARTBEAT_EVERY - 1) / HEARTBEAT_EVERY,
            "event_latency_p99_s": p99,
            "latency_samples": len(lat),
            "warmup_batches": warm_n,
            "warmup_settle_ratio": settle,
            "timed_batches": len(timed),
            "window_s": t_end - t0,
            "lag_rows": [round(x) for x in lags],
            "batch_s": [round(b.end - a.end, 3) for a, b in zip(recorder.batches, recorder.batches[1:])],
            "batch_rows": [progress[b.batch_id].numInputRows for b in done],
            "lag_growth": growth if len(lags) >= MIN_TIMED else None,
            "backlog_growing": backlog,
            "duplicate_ids": check.duplicate_ids,
        },
    }
