"""Ordered, keyed Kinesis sink — trike's K1/K2 (reference
lib/trike/kinesis_client.ex:13-15, proxy.ex:164-204,
lib/fakes/fake_kinesis_client.ex:9-12).

Design:
  * ``foreachBatch``: each micro-batch groups events per partition key into
    ONE JSON-array record (the reference's per-packet batching F4,
    proxy.ex:164-175 — micro-batch boundary replaces packet boundary).
  * Strict per-key ordering: records are put sequentially per key, passing
    ``SequenceNumberForOrdering`` = the sequence number returned by the
    previous put for that key (proxy.ex:177-204); the chain persists across
    micro-batches in a sequence ledger.
  * The client is injectable exactly like the reference's ``put_record_fn``
    (proxy.ex:23-24, :65): a ``KinesisSink`` built without a ``client``
    puts to the logging fake, as ``KINESIS_STREAM=console`` does in the
    reference (runtime.exs:11-15); production passes a boto3 client.
  * Delivery contract: at-least-once. A failed put raises → Spark retries
    the micro-batch (the reference crashes the connection process and lets
    upstream resend, proxy.ex:203). Deterministic CloudEvent ids make
    downstream dedup possible.

Scale: the sink runs no shuffle. It projects each event to its JSON in
place and collects one (key, seq, JSON) row per event of the micro-batch,
so the driver holds the same bytes the records carry plus a per-row
overhead (a Row, its key and seq), and at most twice those bytes while
the rows are sorted and the records joined. A backlog batch grows this with its events, so the
source's rate limit (or the trigger) bounds the driver's memory. The
sequence ledger lives on the sink object, so each key's chain persists
across micro-batches.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from itertools import groupby
from operator import itemgetter
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trike_spark.streaming.health import register_once

logger = logging.getLogger("trike_spark.kinesis")


class FakeKinesisClient:
    """Console fake: logs instead of calling AWS (fake_kinesis_client.ex:9-12).
    Keeps every call in ``calls`` so tests can assert on what was 'sent';
    each put's SequenceNumber is its index there."""

    def __init__(self) -> None:
        self.calls: list[dict[str, Any]] = []

    def put_record(
        self,
        stream: str,
        partition_key: str,
        data: str,
        sequence_number_for_ordering: str | None = None,
    ) -> dict[str, str]:
        rec = {
            "stream": stream,
            "partition_key": partition_key,
            "data": data,
            "sequence_number_for_ordering": sequence_number_for_ordering,
        }
        self.calls.append(rec)
        logger.info("put_record stream=%s partition_key=%s bytes=%d", stream, partition_key, len(data))
        return {"SequenceNumber": str(len(self.calls) - 1)}


def boto3_client_factory(region: str | None = None) -> Callable[[], Any]:
    """Production client factory (import-gated; boto3 isn't in this
    container)."""

    def make() -> Any:
        import boto3  # noqa: PLC0415

        kinesis = boto3.client("kinesis", region_name=region)

        class _Boto3Client:
            def put_record(self, stream, partition_key, data, sequence_number_for_ordering=None):
                kwargs = {"StreamName": stream, "PartitionKey": partition_key, "Data": data.encode()}
                if sequence_number_for_ordering is not None:
                    kwargs["SequenceNumberForOrdering"] = sequence_number_for_ordering
                return kinesis.put_record(**kwargs)

        return _Boto3Client()

    return make


# Public AWS PutRecord data limit. The reference never approaches it (it
# batches per TCP packet, proxy.ex:164-175); micro-batching CAN — one busy
# key's events for a whole micro-batch land in one record, and a backlog
# batch multiplies that. A >1 MiB put fails with ValidationException and
# the whole micro-batch retries forever: a correctness cliff, not a perf
# knob.
KINESIS_MAX_RECORD_BYTES = 1 << 20


@dataclass
class KinesisSink:
    """foreachBatch sink with per-key sequence-number chaining."""

    stream: str = "console"
    client: Any = None  # injectable, like the reference's put_record_fn
    # service record-size ceiling in UTF-8 bytes; __call__ cuts every record
    # to fit it (tests shrink it to force splits)
    max_record_bytes: int = KINESIS_MAX_RECORD_BYTES
    # sequence ledger: partition_key → last SequenceNumber (proxy.ex:203-204)
    _last_seq: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.client is None:
            self.client = FakeKinesisClient()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # F4 batch-encode: all events of one key in this micro-batch →
        # JSON-array record(s) in ARRIVAL order (sort key = the framing
        # operator's per-connection seq counter; sorting by the event would
        # order by content and shuffle events from different packets — K1's
        # contract is arrival order, proxy.ex:164-204). Each event is
        # encoded as the array encoder writes it: to_json of a one-element
        # array, brackets stripped, so strings and structs escape alike.
        rows = batch_df.select(
            "partitionkey",
            F.col("seq").cast("long").alias("seq"),
            F.to_json(F.array("event")).alias("json"),
        )
        events = sorted((r["partitionkey"], r["seq"], r["json"][1:-1]) for r in rows.collect())
        # Greedy cut: a key's events fill a record until the next one would
        # take it over max_record_bytes; later records go on the same chain.
        # Every record is cut before the first put, so an event no record
        # can hold fails the batch before anything is sent.
        records: list[tuple[str, str]] = []
        for key, group in groupby(events, key=itemgetter(0)):
            parts: list[str] = []
            size = 1  # "[" — each event then adds its bytes and a "," or "]"
            for _, _, ev in group:
                n = len(ev.encode()) + 1
                if 1 + n > self.max_record_bytes:
                    raise ValueError(
                        f"single event of key {key} needs a {1 + n}-byte record, over the "
                        f"{self.max_record_bytes}-byte chunk budget (the service record "
                        "limit would reject it)"
                    )
                if parts and size + n > self.max_record_bytes:
                    records.append((key, "[" + ",".join(parts) + "]"))
                    parts, size = [], 1
                parts.append(ev)
                size += n
            records.append((key, "[" + ",".join(parts) + "]"))
        for key, record in records:
            t0 = time.perf_counter()
            resp = self.client.put_record(
                self.stream,
                key,
                record,
                sequence_number_for_ordering=self._last_seq.get(key),
            )
            # observability contract O4 (proxy.ex:192-201)
            logger.info(
                "put_record_timing batch_id=%s partition_key=%s msec=%.1f result=ok",
                batch_id,
                key,
                (time.perf_counter() - t0) * 1e3,
            )
            self._last_seq[key] = resp["SequenceNumber"]


def write_stream_to_kinesis(events: DataFrame, sink: KinesisSink, checkpoint_dir: str):
    """events must carry columns (partitionkey, seq, event). The session
    logs one health line per micro-batch (``health.register_once``)."""
    register_once(events.sparkSession)
    return (
        events.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .start()
    )
