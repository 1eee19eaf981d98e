"""Framing semantics — the reference's extract/2 and buffering behavior
(proxy_test.exs:61-111) plus the stateful streaming operator end-to-end."""

from __future__ import annotations

import json
import time
from datetime import datetime

import pandas as pd
import pytest

from trike_spark.streaming.framing import (
    CHUNK_SCHEMA,
    EOT,
    extract,
    frame_and_session,
    framed_stream,
)

MSG1 = "4994,TSCH,02:00:06,R,RLD,W"
MSG2 = "4995,TSCH,03:00:06,R,RLD,W"


class TestExtract:
    def test_single_complete_frame(self):
        msgs, buf = extract(MSG1 + EOT)
        assert msgs == [MSG1] and buf == ""

    def test_multiple_messages_one_packet(self):
        # proxy_test.exs:73-83
        msgs, buf = extract(MSG1 + EOT + MSG2 + EOT)
        assert msgs == [MSG1, MSG2] and buf == ""

    def test_partial_frame_buffers(self):
        # proxy_test.exs:85-96
        msgs, buf = extract(MSG1)
        assert msgs == [] and buf == MSG1

    def test_stitch_across_packets(self):
        # proxy_test.exs:98-111
        half1, half2 = MSG1[:10], MSG1[10:]
        msgs, buf = extract(half1)
        assert msgs == []
        msgs, buf = extract(buf + half2 + EOT)
        assert msgs == [MSG1] and buf == ""


def _chunk_rows(*chunks: tuple[str, str]) -> list[tuple]:
    t = datetime(2021, 8, 13, 12, 0, 0)
    return [(conn, chunk, t, i) for i, (conn, chunk) in enumerate(chunks)]


def test_framed_stream_batchlike(spark, tmp_path):
    """Drive the real applyInPandasWithState operator through a streaming
    file source: partial frames stitch across rows, multi-message chunks
    split, per-key isolation holds."""
    src = tmp_path / "in"
    src.mkdir()
    rows = _chunk_rows(
        ("a", MSG1 + EOT + MSG2[:5]),  # one complete + one partial
        ("a", MSG2[5:] + EOT),  # completes the partial
        ("b", MSG1),  # never completed on b
    )
    with open(src / "chunks.json", "w") as f:
        for conn, chunk, ts, seq in rows:
            f.write(
                json.dumps(
                    {
                        "conn_id": conn,
                        "chunk": chunk,
                        "arrival_ts": ts.strftime("%Y-%m-%dT%H:%M:%S.000Z"),
                        "arrival_seq": seq,
                    }
                )
                + "\n"
            )
    chunks = (
        spark.readStream.schema(CHUNK_SCHEMA)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
        .json(str(src))
    )
    framed = framed_stream(chunks, stale_timeout_ms=60_000)
    q = (
        framed.writeStream.format("memory")
        .queryName("framed_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    # NB: processAllAvailable() can block forever with processing-time
    # timeouts (timer checks keep scheduling batches) — poll instead.
    try:
        deadline = time.time() + 90
        out: list = []
        while time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception()))
            out = spark.table("framed_out").collect()
            if sum(1 for r in out if r["kind"] == "message") >= 2:
                break
            time.sleep(1)
    finally:
        q.stop()
    msgs = sorted((r["conn_id"], r["raw"]) for r in out if r["kind"] == "message")
    assert msgs == [("a", MSG1), ("a", MSG2)]  # b's partial stays buffered


class _GroupState:
    """Just enough of pyspark's GroupState for frame_and_session."""

    hasTimedOut = False

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, v):
        self.value = v

    def setTimeoutDuration(self, ms):
        pass


def _chunks(*rows: tuple[str, int]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conn_id": "a",
            "chunk": [chunk for chunk, _ in rows],
            "arrival_ts": datetime(2021, 8, 13, 12, 0, 0),
            "arrival_seq": [seq for _, seq in rows],
        }
    )


def _framed(*pdfs: pd.DataFrame) -> list[str]:
    out = frame_and_session(("a",), iter(pdfs), _GroupState(), 60_000)
    return [raw for pdf in out for raw in pdf.loc[pdf["kind"] == "message", "raw"]]


def test_duplicate_arrival_seq_fails_loudly():
    """A duplicate (conn_id, arrival_seq) pair means the source's order
    signal has ties (the dev socket source stamps at millisecond
    resolution), so the stitch order — hence the reassembled frame — is
    arbitrary. Framing must refuse loudly rather than emit a possibly
    corrupted message."""
    with pytest.raises(ValueError, match="duplicate arrival_seq"):
        _framed(_chunks((MSG1[:10], 7), (MSG1[10:] + EOT, 7)))
    # unique seqs on the same payload still frame fine (control)
    assert _framed(_chunks((MSG1[:10], 7), (MSG1[10:] + EOT, 8))) == [MSG1]


def test_cross_chunk_order_restored_before_stitch():
    """Arrow may deliver one key's micro-batch as SEVERAL chunks in
    arbitrary order; framing must sort the CONCATENATION by arrival_seq (a
    per-chunk sort would stitch later bytes first and corrupt the frame
    silently). Deliver the later half of a split frame first."""
    second_half = _chunks((MSG1[10:] + EOT, 8))
    first_half = _chunks((MSG1[:10], 3))
    assert _framed(second_half, first_half) == [MSG1]
