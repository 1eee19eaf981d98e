"""End-to-end trike ingest pipeline (SURVEY.md §3.1), composed from the
same column expressions the oracle-checked batch queries prove:

    chunks (conn_id, chunk, arrival_ts, arrival_seq)
      → framed_stream            # F1 framing + T1 stale session (stateful)
      → heartbeat filter         # F2 — AFTER framing, so heartbeats still
                                 #   reset the stale timer (proxy.ex:104)
      → CloudEvent projection    # F3 (sha1 id, alphabetical JSON keys)
      → KinesisSink foreachBatch # F4 batch-encode + K1 ordered put

Works identically over a batch DataFrame (tests) and a streaming one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trike_spark.functions.cloud_event import HEARTBEAT, cloud_event_struct
from trike_spark.streaming.framing import DEFAULT_STALE_TIMEOUT_MS, framed_stream


def messages_to_cloud_events(framed: DataFrame, source: str = "trike-spark.local/trike") -> DataFrame:
    """framed (FRAMED_SCHEMA) → (partitionkey, seq, event struct) rows.

    Heartbeats are dropped HERE — after the stateful op has already seen
    them and re-armed the session timer (proxy_test.exs:128-145). Control
    rows (session_closed) are not forwarded to Kinesis either. ``seq`` (the
    framing operator's per-connection arrival counter) rides along so the
    sink can batch-encode in ARRIVAL order — K1's whole contract is
    in-order delivery, and content-sorting would shuffle events from
    different packets alphabetically.
    """
    return (
        framed.filter(F.col("kind") == "message")
        .filter(F.col("raw") != HEARTBEAT)  # F2, proxy.ex:242-244
        .select(
            F.col("conn_id").alias("partitionkey"),
            F.col("seq"),
            cloud_event_struct(
                raw=F.col("raw"),
                partition_key=F.col("conn_id"),
                time=F.col("time"),
                source_ip=F.lit(""),
                source=source,
            ).alias("event"),
        )
    )


def build_ingest_pipeline(
    chunks: DataFrame,
    stale_timeout_ms: int = DEFAULT_STALE_TIMEOUT_MS,
    source: str = "trike-spark.local/trike",
) -> DataFrame:
    """Full pipeline up to the sink: chunk stream → (partitionkey, seq, event)."""
    framed = framed_stream(chunks, stale_timeout_ms=stale_timeout_ms)
    return messages_to_cloud_events(framed, source=source)
