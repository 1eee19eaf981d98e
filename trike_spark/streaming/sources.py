"""Streaming sources — trike's S1/S2/S3 re-expressed for Spark
(SURVEY.md §2.1).

  * Production ingest (S1/S2): a Kinesis/socket streaming source producing
    (conn_id, chunk, arrival_ts) rows. Spark has no TCP *server* source —
    per the survey's non-goals, the connection identity arrives as a
    column, not a process. ``socket_chunk_stream`` adapts the dev socket
    source; a Kinesis connector source plugs in the same shape.
  * Replay (S2, kinesis_source.ex:123-169): re-read archived events and
    re-emit, optionally duplicated ×scale — ``explode(array_repeat(...))``,
    with the poll cadence as the trigger interval.
  * Fake source (S3, fake_source.ex:60-97): rate-source joined to canned
    messages with heartbeat/garbage injection — deterministic, pure
    expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trike_spark.functions.cloud_event import EOT, HEARTBEAT

CANNED_MESSAGES = [  # shape of priv/ocs_data.csv lines (proxy_test fixtures)
    "4994,TSCH,02:00:06,R,RLD,W",
    "4995,TSCH,03:00:06,R,RLD,W",
    "4996,TSCH,04:00:06,B,RLD,E",
]


def socket_chunk_stream(spark: SparkSession, host: str = "localhost", port: int = 8001) -> DataFrame:
    """Dev socket source → CHUNK_SCHEMA-shaped stream (single logical
    connection; Kinesis source replaces this in production, with the
    shard sequence number as ``arrival_seq``).

    ``arrival_seq`` cannot come from ``monotonically_increasing_id()``
    (unsupported on streaming relations) and not from any per-partition
    counter either — the socket source round-robins buffered lines
    across partitions, so partition-local enumeration scrambles the
    arrival order (both caught by the live-socket e2e,
    tests/test_socket_source_e2e.py). The one arrival-order signal the
    source itself provides is ``includeTimestamp``: each line is stamped
    when it is READ off the socket, before the round-robin split, so
    ordering by it reconstructs arrival up to millisecond ties — the dev
    limitation of this adapter (two lines inside the same ms tie;
    production uses the Kinesis shard sequence number, which is exact).
    Ties no longer corrupt silently: framing raises on a duplicate
    (conn_id, arrival_seq) pair, so a same-ms tie fails the query loudly
    (tests/test_framing.py::test_duplicate_arrival_seq_fails_loudly).
    Consequence: two lines read inside one millisecond KILL a query fed
    by this adapter — deliberately, because the alternative is a
    possibly-corrupted frame. Sender-side pacing CANNOT prevent this:
    the stamp is applied when the line is read off the socket, so any
    receiver stall (GC, a loaded machine) lets the kernel buffer drain
    in one burst and two slowly-sent lines still tie. The only tie-free
    dev paths are ``fake_chunk_stream`` / ``spool_chunk_stream`` (dense
    integer seqs); production uses the Kinesis shard sequence number
    (exact). Treat this adapter's contract as "ordered or loudly dead":
    callers must be prepared to restart on the duplicate-arrival_seq
    failure (tests/test_socket_source_e2e.py ACK-paces sends on the
    query's cumulative input-row count and retries the documented
    loud failure a bounded number of times)."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .option("includeTimestamp", True)
        .load()
    )
    return raw.select(
        F.lit(f"{host}:{port}").alias("conn_id"),
        F.col("value").alias("chunk"),
        F.col("timestamp").alias("arrival_ts"),
        F.unix_millis(F.col("timestamp")).alias("arrival_seq"),
    )


def fake_chunk_stream(
    spark: SparkSession,
    rows_per_second: int = 1,
    n_connections: int = 4,
    heartbeat_every: int = 5,
    bad_every: int = 0,
) -> DataFrame:
    """S3 fake source: deterministic canned OCS messages + periodic
    heartbeats, EOT-terminated, spread over n_connections.

    ``bad_every > 0`` adds the reference's ``--bad`` corruption leg
    (fake_source.ex:60-97: every few ticks, 5 random bytes instead of a
    line): ticks where ``value % bad_every == bad_every - 1`` emit 5
    garbage bytes drawn deterministically from md5(value) — base64-coded
    because the chunk column is a UTF-8 string, which also guarantees the
    garbage contains no EOT and no comma (nothing downstream can mistake
    it for a frame boundary or an OCS field list). Heartbeat ticks win,
    like the reference's cond order. The proxy contract under corruption
    is PASSTHROUGH: framing must neither wedge nor drop the session
    (garbage re-arms the stale timer — proxy_test.exs stale-reset-on-
    garbage), and the un-parseable frame is still forwarded as a
    CloudEvent (trike never validates OCS content)."""
    msgs = F.array(*[F.lit(m) for m in CANNED_MESSAGES])
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    garbage = F.base64(
        F.unhex(F.substring(F.md5(F.col("value").cast("string")), 1, 10))
    )
    body = F.when(F.col("value") % heartbeat_every == 0, F.lit(HEARTBEAT))
    if bad_every > 0:
        body = body.when(F.col("value") % bad_every == bad_every - 1, garbage)
    body = body.otherwise(
        F.element_at(msgs, (F.col("value") % len(CANNED_MESSAGES)).cast("int") + 1)
    )
    return rate.select(
        F.concat(F.lit("conn-"), (F.col("value") % n_connections).cast("string")).alias("conn_id"),
        F.concat(body, F.lit(EOT)).alias("chunk"),
        F.col("timestamp").alias("arrival_ts"),
        F.col("value").alias("arrival_seq"),
    )


CLOUD_EVENT_JSON_SCHEMA = (
    "array<struct<data:struct<raw:string>,id:string,partitionkey:string,"
    "source:string,sourceip:string,specversion:string,time:string,type:string>>"
)


SPOOL_SCHEMA = "conn_id string, chunk string, arrival_seq bigint"


def spool_chunk_stream(
    spark: SparkSession,
    spool_dir: str,
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """Spool-directory file source: ingest chunk rows from JSON-lines
    files dropped into ``spool_dir`` — the batch-friendly sibling of the
    socket/Kinesis sources (the reference's file-based test source,
    fake_source.ex:17-36, reads its canned CSV the same drop-a-file way).

    Each line is one chunk row in the shared chunk shape: ``conn_id``,
    ``chunk``, and an EXACT ``arrival_seq`` written by whatever archived
    the traffic (the replay-archive contract — unlike the dev socket
    adapter's millisecond timestamps, file replays carry the original
    sequence numbers, so framing is tie-free). ``arrival_ts`` is stamped
    at read time (ingest clock, T2). Frames may span FILE boundaries:
    the stateful framing buffers per conn_id across micro-batches, so a
    partial frame at the end of one spool file completes when the next
    file arrives (asserted by tests/test_spool_source_e2e.py).

    Scale posture: the schema is explicit (no inference pass);
    ``maxFilesPerTrigger`` bounds micro-batch size for backfills (drop a
    day of archives in one go and the query drains at a controlled
    rate); files are line-splittable JSON so a huge spool file still
    parallelizes per block."""
    return (
        spark.readStream.schema(SPOOL_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(spool_dir)
        .select(
            "conn_id",
            "chunk",
            F.current_timestamp().alias("arrival_ts"),
            "arrival_seq",
        )
    )


def parse_kinesis_records(records: DataFrame, record_col: str = "record") -> DataFrame:
    """Kinesis-native ingest (the replay path, kinesis_source.ex:123-147):
    each Kinesis record is a JSON ARRAY of CloudEvents (our sink's F4
    encoding) — framing happened upstream, so ingest is just
    ``explode(from_json(...))``. Inverse of the sink's batch-encode;
    round-trip-tested against it."""
    from pyspark.sql import functions as F

    return (
        records.select(
            F.explode(F.from_json(F.col(record_col), CLOUD_EVENT_JSON_SCHEMA)).alias("event")
        )
        .select(
            F.col("event.partitionkey").alias("conn_id"),
            F.col("event.data.raw").alias("raw"),
            F.col("event.id").alias("id"),
            F.col("event.time").alias("time_iso"),
        )
    )


def boto3_consumer_factory(region: str | None = None):
    """Production consume-side client factory (S2, the replay poller):
    adapts a real boto3 Kinesis client to the stub-shaped consumer API
    (``kinesis_stub.read_shard_records`` drives either interchangeably) —
    the mirror of ``sinks.boto3_client_factory`` on the producer side.
    Import-gated like its sibling; integration-tested against moto's
    Kinesis in tests/test_kinesis_moto_integration.py."""

    def make():
        import boto3  # noqa: PLC0415

        k = boto3.client("kinesis", region_name=region)

        class _Boto3Consumer:
            def list_shards(self, stream: str) -> list[str]:
                resp = k.describe_stream(StreamName=stream)
                return [s["ShardId"] for s in resp["StreamDescription"]["Shards"]]

            def get_shard_iterator(
                self,
                stream: str,
                shard_id: str,
                iterator_type: str,
                starting_sequence_number: str | None = None,
            ) -> dict[str, str]:
                kwargs = {
                    "StreamName": stream,
                    "ShardId": shard_id,
                    "ShardIteratorType": iterator_type,
                }
                if starting_sequence_number is not None:
                    kwargs["StartingSequenceNumber"] = starting_sequence_number
                return k.get_shard_iterator(**kwargs)

            def get_records(self, shard_iterator: str, limit: int = 10_000):
                resp = k.get_records(
                    ShardIterator=shard_iterator, Limit=min(limit, 10_000)
                )
                return {
                    "Records": [
                        {
                            "SequenceNumber": r["SequenceNumber"],
                            "PartitionKey": r["PartitionKey"],
                            "Data": r["Data"].decode(),
                        }
                        for r in resp["Records"]
                    ],
                    "NextShardIterator": resp.get("NextShardIterator"),
                }

        return _Boto3Consumer()

    return make


def replay_scaled(records: DataFrame, raw_col: str = "raw", scale: int = 1) -> DataFrame:
    """S2 replay semantics: duplicate each message ×scale
    (kinesis_source.ex:129-147) — a narrow explode, no shuffle."""
    if scale <= 1:
        return records
    return records.withColumn(
        raw_col, F.explode(F.array_repeat(F.col(raw_col), scale))
    )
