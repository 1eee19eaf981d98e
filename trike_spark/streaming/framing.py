"""Stateful EOT framing + stale-session timeout — trike's F1 + T1 in one
keyed stateful operator (reference lib/trike/proxy.ex:212-217 extract/2 and
:230-240 stale timer; tests proxy_test.exs:85-111, :128-134).

Spark mapping: ``applyInPandasWithState`` keyed by ``conn_id``:
  * state = carried byte buffer (exactly the reference's per-connection
    buffer; partial frames stitch across micro-batches like they stitch
    across TCP packets)
  * processing-time timeout = the stale timer; CRITICAL subtlety preserved:
    the timer resets on ANY inbound chunk — heartbeats and garbage included
    — because framing runs BEFORE the heartbeat filter (proxy.ex:104 vs
    :242-244, proxy_test.exs:128-145). On timeout we emit a
    ``session_closed`` control row (the analog of closing the socket).
  * when the timer fires: Spark checks timers only inside a micro-batch.
    ``session.get_spark`` turns no-data micro-batches off, so a due timer
    fires in the next batch that carries data on ANY key. Trike closes
    each socket on its own timer (proxy.ex:121-127); here, while every key
    is silent, no session closes until traffic resumes. Only state is
    held: ``pipeline.messages_to_cloud_events`` drops ``session_closed``
    rows before the sink, so no event is late or lost.

Scale: state partitions by conn_id across the cluster; each connection's
buffer is a few KiB (socket-buffer bounded upstream), so state size is
O(live connections), exactly like the reference's per-process heap usage.

CHECKPOINT MIGRATION NOTE (round 1 → round 2): ``_STATE_SCHEMA`` gained an
``nseq BIGINT`` field (per-connection monotonic frame counter) and
``FRAMED_SCHEMA`` gained the corresponding ``seq`` output column. A
streaming checkpoint written by the round-1 schema (``buffer STRING``
only) is NOT compatible: Spark's state store will fail or misdecode the
widened row on restart. Deploying this version over an existing pipeline
requires a fresh ``checkpointLocation`` (losing at-least-once dedup
history for in-flight keys) or an offline state rewrite. State-schema
changes are breaking by default — this note is the contract reminder.
"""

from __future__ import annotations

import warnings
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from trike_spark.functions.cloud_event import EOT

# pyspark's applyInPandasWithState serializer pads every output batch by
# concatenating all-NA rows, which pandas >= 2.1 answers with this warning
# several times per trigger. This import runs in the worker, and the worker
# never resets ``warnings.filters``.
warnings.filterwarnings(
    "ignore",
    message="The behavior of DataFrame concatenation with empty or all-NA entries is deprecated",
    category=FutureWarning,
    module="pyspark.sql.pandas.serializers",
)

DEFAULT_STALE_TIMEOUT_MS = 300_000  # config/config.exs:19

# input: one row per received chunk
CHUNK_SCHEMA = StructType(
    [
        StructField("conn_id", StringType(), False),
        StructField("chunk", StringType(), False),
        StructField("arrival_ts", TimestampType(), False),
        StructField("arrival_seq", LongType(), False),  # intra-key order
    ]
)

# output: framed messages + session-control rows. ``seq`` is the per-
# connection arrival order of the framed message (monotonic across
# micro-batches, carried in state) — the sink's ordered-delivery contract
# (K1, proxy.ex:164-204) sorts on it, NOT on message content.
FRAMED_SCHEMA = StructType(
    [
        StructField("conn_id", StringType(), False),
        StructField("raw", StringType(), True),
        StructField("time", TimestampType(), True),
        StructField("kind", StringType(), False),  # 'message' | 'session_closed'
        StructField("seq", LongType(), True),  # null on control rows
    ]
)

_STATE_SCHEMA = "buffer STRING, nseq BIGINT"


def extract(buffer: str) -> tuple[list[str], str]:
    """Split on EOT; final (possibly empty) segment is the carry-over —
    a faithful re-expression of extract/2 (proxy.ex:212-217)."""
    parts = buffer.split(EOT)
    return parts[:-1], parts[-1]


def sorted_key_batch(conn_id: str, pdfs: Iterable[pd.DataFrame]) -> pd.DataFrame:
    """Concatenate one key's Arrow chunks and sort by ``arrival_seq``.

    A key's micro-batch may arrive as SEVERAL Arrow chunks (anything past
    arrow.maxRecordsPerBatch) in no particular order, so the sort must run
    over the concatenation — per-chunk sorting would stitch later-chunk
    bytes ahead of earlier ones with no error raised. ``arrival_seq`` is
    also the ONLY intra-key order signal; a duplicate (conn_id,
    arrival_seq) pair means the source cannot tell two chunks apart (e.g.
    the dev socket source's same-millisecond tie) and the stitch order —
    hence the reassembled frame — would be arbitrary. Fail loudly instead
    of framing corrupted messages; the production Kinesis source's shard
    sequence numbers are unique by construction."""
    parts = [p for p in pdfs if not p.empty]
    batch = (
        pd.concat(parts, ignore_index=True).sort_values("arrival_seq", kind="stable")
        if parts
        else pd.DataFrame({"arrival_seq": [], "chunk": [], "arrival_ts": []})
    )
    if batch["arrival_seq"].duplicated().any():
        dup = int(batch["arrival_seq"][batch["arrival_seq"].duplicated()].iloc[0])
        raise ValueError(
            f"duplicate arrival_seq {dup} for conn_id {conn_id!r}: "
            "the source's order signal has ties (dev socket sources "
            "stamp at millisecond resolution) — frame reassembly would "
            "be order-ambiguous"
        )
    return batch


def frame_batch(
    conn_id: str, batch: pd.DataFrame, buffer: str, nseq: int
) -> tuple[pd.DataFrame | None, str, int]:
    """Vectorized framing of one key's sorted micro-batch — the kernel of
    the applyInPandasWithState operator. Equivalent to the per-chunk loop

        for chunk, ts: messages, buffer = extract(buffer + chunk); emit …

    Every EOT terminates exactly one message, and a message's timestamp is
    the arrival_ts of the PACKET whose chunk contains its terminating EOT
    (one shared timestamp per packet, proxy.ex:150). So: count EOTs per
    chunk (C-level), split the whole concatenation once (C-level), and
    repeat each packet's ts by its EOT count — identical output to the
    loop, without ~1 Python iteration per message (the framing kernel is
    the ingest path's hot loop; the loop form was the measured bottleneck
    at 100k+ events/s, docs/BENCH_NOTES.md).

    Returns ``(framed-rows DataFrame or None, new_buffer, new_nseq)``."""
    if not len(batch):
        return None, buffer, nseq
    n_eot = batch["chunk"].str.count(EOT).to_numpy()
    total = int(n_eot.sum())
    if not total:
        # no frame completed this batch — only the carry buffer grows
        return None, buffer + "".join(batch["chunk"]), nseq
    messages = (buffer + "".join(batch["chunk"])).split(EOT)
    out = pd.DataFrame(
        {
            "conn_id": conn_id,
            "raw": messages[:-1],
            "time": np.repeat(batch["arrival_ts"].to_numpy(), n_eot),
            "kind": "message",
            "seq": np.arange(nseq, nseq + total, dtype="int64"),
        }
    )
    return out, messages[-1], nseq + total


def frame_and_session(
    key: tuple[str],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    stale_timeout_ms: int | None = DEFAULT_STALE_TIMEOUT_MS,
) -> Iterator[pd.DataFrame]:
    """The per-key stateful function (Arrow-batched, called once per key per
    micro-batch, or on timeout with no input)."""
    conn_id = key[0]
    if state.hasTimedOut:
        # stale timer fired with no traffic → close session (proxy.ex:121-127)
        state.remove()
        yield pd.DataFrame(
            {
                "conn_id": [conn_id],
                "raw": [None],
                "time": [None],
                "kind": ["session_closed"],
                "seq": [None],
            }
        )
        return

    buffer, nseq = state.get if state.exists else ("", 0)
    batch = sorted_key_batch(conn_id, pdfs)
    out, buffer, nseq = frame_batch(conn_id, batch, buffer, nseq)
    state.update((buffer, nseq))
    # ANY traffic re-arms the stale timer, even if it framed no message
    if stale_timeout_ms is not None:
        state.setTimeoutDuration(stale_timeout_ms)
    if out is not None:
        yield out


def framed_stream(
    chunks: DataFrame, stale_timeout_ms: int | None = DEFAULT_STALE_TIMEOUT_MS
) -> DataFrame:
    """chunks (CHUNK_SCHEMA, batch or stream) → framed messages + control
    rows (FRAMED_SCHEMA).

    ``stale_timeout_ms=None`` disables the stale-session timer entirely —
    the bounded-replay/backfill configuration: with no timers pending,
    ``Trigger.AvailableNow`` drains the source and terminates (live timers
    would keep the query scheduling batches forever).
    """

    def fn(key, pdfs, state):  # bind the timeout
        yield from frame_and_session(key, pdfs, state, stale_timeout_ms)

    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if stale_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return (
        chunks.groupBy("conn_id")
        .applyInPandasWithState(
            fn,
            outputStructType=FRAMED_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout_conf,
        )
    )
