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

Scale: the per-batch group-and-encode is a distributed aggregation; only
its result reaches the driver. The put loop runs on the driver, so the
``.collect()`` it iterates is bounded by the live (key, chunk) rows of the
micro-batch, not by its events. The sequence ledger lives on the sink
object, so each key's chain persists across micro-batches.
"""

from __future__ import annotations

import json
import logging
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trike_spark.streaming.health import register_once

logger = logging.getLogger("trike_spark.kinesis")


class FakeKinesisClient:
    """Console fake: logs instead of calling AWS; returns sequence "0"
    (fake_kinesis_client.ex:9-12). Optionally spools records to a dir so
    tests can assert on what was 'sent'."""

    def __init__(self, spool_dir: str | None = None) -> None:
        self.spool_dir = spool_dir
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
        if self.spool_dir:
            os.makedirs(self.spool_dir, exist_ok=True)
            with open(os.path.join(self.spool_dir, "records.jsonl"), "a") as f:
                f.write(json.dumps(rec) + "\n")
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


def _arrival_ordered_record() -> F.Column:
    """collect_list(struct(seq, event)) → sort by seq → project event →
    to_json. The struct sort key puts ``seq`` FIRST so sort_array orders by
    arrival sequence; the transform strips it back off before encoding."""
    return F.to_json(
        F.transform(
            F.sort_array(F.collect_list(F.struct(F.col("seq").alias("s"), F.col("event").alias("e")))),
            lambda se: se["e"],
        )
    )


# Public AWS PutRecord data limit. The reference never approaches it (it
# batches per TCP packet, proxy.ex:164-175); micro-batching CAN — one busy
# key's events for a whole micro-batch land in one record, and a backlog
# batch multiplies that. A >1 MiB put fails with ValidationException and
# the whole micro-batch retries forever: a correctness cliff, not a perf
# knob.
KINESIS_MAX_RECORD_BYTES = 1 << 20


def _encoded_records(batch_df: DataFrame, max_bytes: int) -> DataFrame:
    """Per-key arrival-ordered JSON-array records, each GUARANTEED under
    ``max_bytes`` in UTF-8 BYTES (the unit the service limit and the
    transport's ``data.encode()`` use): events split into consecutive
    chunks by running encoded byte size before the group-encode.

    Bound argument: with budget b = max_bytes // 2, chunk i holds the
    events whose exclusive running size lies in [i·b, (i+1)·b); its total
    is < b + (size of its last event) ≤ 2b ≤ max_bytes, provided no single
    event exceeds b — which is asserted in-plan (raise_error), because an
    unsplittable >b event would exceed the service limit anyway and MUST
    fail loudly rather than wedge the retry loop. The running-size window
    is partitioned BY KEY (never global) and ordered by the framing seq,
    so chunk boundaries preserve arrival order; chunks put in ascending
    ``chunk`` order ride the same per-key sequence chain as whole records.

    Returns (partitionkey, chunk, record) — one row per put."""
    from pyspark.sql import Window

    budget = max(1, max_bytes // 2)
    w = Window.partitionBy("partitionkey").orderBy("seq")
    # per-event encoded size in BYTES (+1 array comma): the service limit
    # is bytes and the transport sends data.encode() (UTF-8), so the
    # measure must be octet_length, not length — a non-ASCII payload can
    # be 3-4x its character count. Production events are the CloudEvent
    # struct (octet_length of the exact to_json encoding); tests also
    # feed pre-encoded STRING events, which the array encoder emits as a
    # JSON string literal with quote/backslash/control escaping — measure
    # the ESCAPED form via to_json(struct(event)): that yields
    # {"event":X} where X is the same quoted escaped literal the record
    # will contain, so octet_length(...) = len(X)+10 ≥ len(X)+1 = the
    # true per-event cost. Deliberately conservative (9 bytes/event
    # over), never under.
    if dict(batch_df.dtypes)["event"] == "string":
        ev_len = F.octet_length(F.to_json(F.struct(F.col("event"))))
    else:
        ev_len = F.octet_length(F.to_json(F.col("event"))) + F.lit(1)
    guarded = F.when(
        ev_len > budget,
        F.raise_error(
            F.concat(
                F.lit(f"single event exceeds the {budget}-byte chunk budget "),
                F.lit("(service record limit would reject it): key="),
                F.col("partitionkey"),
            )
        ).cast("long"),
    ).otherwise(ev_len)
    cum_before = F.coalesce(
        F.sum("_evlen").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    return (
        batch_df.withColumn("_evlen", guarded)
        .withColumn("_chunk", F.floor(cum_before / F.lit(budget)))
        .groupBy(F.col("partitionkey"), F.col("_chunk").alias("chunk"))
        .agg(_arrival_ordered_record().alias("record"))
    )


@dataclass
class KinesisSink:
    """foreachBatch sink with per-key sequence-number chaining."""

    stream: str = "console"
    client: Any = None  # injectable, like the reference's put_record_fn
    # service record-size ceiling; each encoded record is guaranteed under
    # it by _encoded_records' chunking (tests shrink it to force splits)
    max_record_bytes: int = KINESIS_MAX_RECORD_BYTES
    # sequence ledger: partition_key → last SequenceNumber (proxy.ex:203-204)
    _last_seq: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.client is None:
            self.client = FakeKinesisClient()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # F4 batch-encode: all events of one key in this micro-batch →
        # JSON-array record(s) in ARRIVAL order (sort key = the framing
        # operator's per-connection seq counter; sorting the bare event
        # struct would order by its first FIELD, i.e. content, and shuffle
        # events from different packets alphabetically — K1's contract is
        # arrival order, proxy.ex:164-204). A key whose batch outgrows the
        # service record limit is split into consecutive chunks, put in
        # chunk order on the same sequence chain.
        records = (
            _encoded_records(batch_df, self.max_record_bytes)
            # one row per live (key, chunk) — bounded, not event-volume
            .collect()
        )
        for row in sorted(records, key=lambda r: (r["partitionkey"], r["chunk"])):
            key = row["partitionkey"]
            t0 = time.perf_counter()
            resp = self.client.put_record(
                self.stream,
                key,
                row["record"],
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


def write_stream_to_kinesis(
    events: DataFrame,
    sink: KinesisSink,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """events must carry columns (partitionkey, event struct). The
    session logs one health line per micro-batch (``health.register_once``)."""
    register_once(events.sparkSession)
    writer = (
        events.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
