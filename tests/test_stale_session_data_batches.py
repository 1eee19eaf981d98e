"""Stale-session timeout on a session with no-data micro-batches off, as
``session.get_spark`` builds it. A due stale timer fires in the next batch
that carries data on any key, and no batch runs without data. What is
given up: while every key is silent, no session closes."""

from __future__ import annotations

import time
from datetime import datetime

from test_checkpoint_recovery import MSG, TS_FMT, _write

from trike_spark.session import STREAMING_CONFS
from trike_spark.streaming.framing import CHUNK_SCHEMA, EOT, framed_stream

TIMEOUT_MS = 2000
NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def _has(rows, conn: str, kind: str) -> bool:
    return any(r["conn_id"] == conn and r["kind"] == kind for r in rows)


def test_stale_timer_fires_in_next_data_batch(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    batches: dict[int, list[dict]] = {}

    def record(df, batch_id):
        batches[batch_id] = [r.asDict() for r in df.collect()]

    _write(src, "c1.json", "conn-1", MSG + EOT, 0)
    chunks = spark.readStream.schema(CHUNK_SCHEMA).option("timestampFormat", TS_FMT).json(str(src))
    spark.conf.set(NO_DATA_BATCHES, "false")
    q = (
        framed_stream(chunks, stale_timeout_ms=TIMEOUT_MS)
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )

    def wait_for(pred, timeout=120):
        deadline = time.time() + timeout
        while time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception()))
            if found := pred():
                return found
            time.sleep(0.2)
        raise AssertionError(f"timed out; batches={batches}")

    try:
        (first,) = wait_for(lambda: [b for b, rows in batches.items() if _has(rows, "conn-1", "message")])
        # conn-1's timer is due TIMEOUT_MS after its batch's processing time
        started = wait_for(lambda: [p.timestamp for p in q.recentProgress if p.batchId == first])[0]
        due = datetime.fromisoformat(started).timestamp() + TIMEOUT_MS / 1000
        # past the due time, with every key silent, no batch runs, so the
        # session stays open
        wait_for(lambda: time.time() > due + 1.0)
        assert list(batches) == [first], batches
        assert not any(_has(rows, "conn-1", "session_closed") for rows in batches.values())

        _write(src, "c2.json", "conn-2", MSG + EOT, 1)
        (second,) = wait_for(lambda: [b for b, rows in batches.items() if _has(rows, "conn-2", "message")])
        # the first batch that carries conn-2's traffic closes conn-1
        assert _has(batches[second], "conn-1", "session_closed"), batches
        assert not _has(batches[second], "conn-2", "session_closed"), batches
        assert [b for b, rows in batches.items() if _has(rows, "conn-1", "session_closed")] == [second]
        progress = wait_for(lambda: [p for p in q.recentProgress if p.batchId == second] and q.recentProgress)
        assert all(p.numInputRows > 0 for p in progress), [(p.batchId, p.numInputRows) for p in progress]
    finally:
        q.stop()
        spark.conf.set(NO_DATA_BATCHES, STREAMING_CONFS[NO_DATA_BATCHES])
