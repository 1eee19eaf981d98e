"""Fault tolerance: the framing buffer survives a query restart via the
checkpointed state store. The reference LOSES per-connection buffers on a
process crash and relies on upstream resend (SURVEY.md §4.2, reference
kinesis_source.ex:162-167); the Spark engine strictly improves on this —
a partial frame buffered before the stop is stitched after recovery."""

from __future__ import annotations

import json
import time

from trike_spark.streaming.framing import CHUNK_SCHEMA, EOT, framed_stream

MSG = "4994,TSCH,02:00:06,R,RLD,W"
TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


def _write(src, name, conn, chunk, seq):
    with open(src / name, "w") as f:
        f.write(
            json.dumps(
                {
                    "conn_id": conn,
                    "chunk": chunk,
                    "arrival_ts": "2021-08-13T12:00:00.000Z",
                    "arrival_seq": seq,
                }
            )
            + "\n"
        )


def _start(spark, src, ckpt, out):
    # durable file sink: the memory sink refuses checkpoint recovery
    chunks = (
        spark.readStream.schema(CHUNK_SCHEMA).option("timestampFormat", TS_FMT).json(str(src))
    )
    framed = framed_stream(chunks, stale_timeout_ms=600_000)
    return (
        framed.writeStream.format("parquet")
        .option("path", str(out))
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .start()
    )


def _read(spark, out):
    try:
        return spark.read.parquet(str(out)).collect()
    except Exception:
        return []


def _poll(spark, q, out, pred, timeout=90):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if q.exception():
            raise AssertionError(str(q.exception()))
        rows = _read(spark, out)
        if pred(rows):
            return rows
        time.sleep(1)
    raise AssertionError(f"timeout; rows={_read(spark, out)}")


def test_partial_frame_survives_restart(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    ckpt = tmp_path / "ckpt"

    # phase 1: a complete message + a PARTIAL frame, then stop the query
    half1, half2 = MSG[:12], MSG[12:]
    _write(src, "c1.json", "conn-1", MSG + EOT + half1, 0)
    out = tmp_path / "out"
    q1 = _start(spark, src, ckpt, out)
    try:
        _poll(spark, q1, out, lambda rows: any(r["raw"] == MSG for r in rows))
    finally:
        q1.stop()

    # phase 2: the rest of the frame arrives AFTER restart; the buffered
    # half must come back from the checkpointed state store
    _write(src, "c2.json", "conn-1", half2 + EOT, 1)
    q2 = _start(spark, src, ckpt, out)
    try:
        rows = _poll(
            spark, q2, out,
            lambda rows: sum(1 for r in rows if r["raw"] == MSG) >= 2,
        )
        msgs = [r for r in rows if r["raw"] == MSG]
        # one from phase 1 (complete frame) + exactly one stitched after
        # recovery from the checkpointed buffer — no loss, no duplication
        assert len(msgs) == 2
    finally:
        q2.stop()


def _state_store_instances(q, timeout=30):
    """State-store instance counts over the query's progress reports; the
    report of a batch can trail its sink output, so wait for one."""
    deadline = time.time() + timeout
    while True:
        counts = [
            op.numStateStoreInstances
            for p in q.recentProgress
            for op in p.stateOperators
        ]
        if counts or time.time() > deadline:
            return counts
        time.sleep(0.5)


def test_checkpoint_keeps_partition_count_across_conf_change(spark, tmp_path):
    """A checkpoint created under 8 shuffle partitions restarts under a
    session set to 4 with its 8 state stores (Spark pins the count in the
    offset log), and the partial frame buffered in one of them stitches.
    So a new default partition count is safe to deploy over live
    checkpoints."""
    src = tmp_path / "in"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"
    half1, half2 = MSG[:12], MSG[12:]
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        _write(src, "c1.json", "conn-1", MSG + EOT + half1, 0)
        q1 = _start(spark, src, ckpt, out)
        try:
            _poll(spark, q1, out, lambda rows: any(r["raw"] == MSG for r in rows))
            assert set(_state_store_instances(q1)) == {8}
        finally:
            q1.stop()

        spark.conf.set("spark.sql.shuffle.partitions", "4")
        _write(src, "c2.json", "conn-1", half2 + EOT, 1)
        q2 = _start(spark, src, ckpt, out)
        try:
            rows = _poll(
                spark, q2, out,
                lambda rows: sum(1 for r in rows if r["raw"] == MSG) >= 2,
            )
            assert sum(1 for r in rows if r["raw"] == MSG) == 2
            assert set(_state_store_instances(q2)) == {8}
            assert q2.lastProgress.stateOperators[0].numStateStoreInstances == 8
        finally:
            q2.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
