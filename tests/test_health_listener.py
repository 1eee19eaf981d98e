"""Health listener emits the structured per-batch line (T3/O4 analog)."""

from __future__ import annotations

import logging
import time
from types import SimpleNamespace

from pyspark.sql import functions as F
from test_checkpoint_recovery import MSG, TS_FMT, _write

from trike_spark.streaming.framing import CHUNK_SCHEMA, EOT
from trike_spark.streaming.health import HealthListener
from trike_spark.streaming.pipeline import build_ingest_pipeline
from trike_spark.streaming.sinks import KinesisSink, write_stream_to_kinesis
from trike_spark.streaming.sources import fake_chunk_stream


def test_health_listener_logs_progress(spark, tmp_path, caplog):
    caplog.set_level(logging.INFO, logger="trike_spark.health")
    listener = HealthListener()
    spark.streams.addListener(listener)
    # a stateful query, so the state keys carry real values
    counts = fake_chunk_stream(spark, rows_per_second=10).groupBy("conn_id").count()
    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    q = (
        counts.writeStream.format("memory")
        .queryName("health_probe")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        # one batch, then idle: stop() must not kill a stateful batch
        # mid state-store commit
        .trigger(processingTime="1 hour")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if any("health batch_id=" in r.message for r in caplog.records):
                break
            time.sleep(1)
    finally:
        q.stop()
        spark.streams.removeListener(listener)
    msgs = [r.message for r in caplog.records]
    assert any(m.startswith("query_started") for m in msgs)
    health = [m for m in msgs if m.startswith("health batch_id=")]
    assert health, msgs
    assert "rows_per_sec=" in health[0] and "batch_duration_ms=" in health[0]
    assert f"state_store_instances={partitions} " in health[0], health[0]
    assert "state_commit_ms=" in health[0], health[0]
    # the one batch's input rows are exactly the rows the counts add up to
    counted = spark.table("health_probe").agg(F.sum("count")).first()[0] or 0
    assert f" input_rows={counted} " in health[0], (counted, health[0])


def test_health_line_sums_state_operator_times(caplog):
    caplog.set_level(logging.INFO, logger="trike_spark.health")
    op = dict(numRowsTotal=4, numStateStoreInstances=4, commitTimeMs=30)
    progress = SimpleNamespace(
        batchId=7,
        numInputRows=1000,
        processedRowsPerSecond=2000.0,
        durationMs={"triggerExecution": 500, "addBatch": 300, "queryPlanning": 20, "walCommit": 40},
        stateOperators=[
            SimpleNamespace(**op, allUpdatesTimeMs=120, allRemovalsTimeMs=40),
            SimpleNamespace(**op, allUpdatesTimeMs=80, allRemovalsTimeMs=5),
        ],
    )
    HealthListener().onQueryProgress(SimpleNamespace(progress=progress))
    (line,) = [r.message for r in caplog.records]
    assert line == (
        "health batch_id=7 input_rows=1000 rows_per_sec=2000.0 batch_duration_ms=500 "
        "add_batch_ms=300 query_planning_ms=20 wal_commit_ms=40 commit_offsets_ms=0 "
        "state_rows=8 state_store_instances=8 state_commit_ms=60 "
        "state_updates_ms=200 state_removals_ms=45"
    )


def test_kinesis_query_logs_one_health_line_per_batch(spark, tmp_path, caplog):
    """write_stream_to_kinesis registers the listener itself, once per
    session: two ingest queries in turn log exactly one line per batch."""
    caplog.set_level(logging.INFO, logger="trike_spark.health")
    src = tmp_path / "in"
    src.mkdir()
    chunks = spark.readStream.schema(CHUNK_SCHEMA).option("timestampFormat", TS_FMT).json(str(src))
    # no stale timer, so every batch carries data
    events = build_ingest_pipeline(chunks, stale_timeout_ms=None)
    sink = KinesisSink()
    batch_ids = []
    try:
        for n in range(2):
            q = write_stream_to_kinesis(events, sink, str(tmp_path / f"ckpt{n}"))
            try:
                for seq in range(2):
                    _write(src, f"c{n}{seq}.json", f"conn-{n}", MSG + EOT, seq)
                    q.processAllAvailable()
            finally:
                q.stop()
            batch_ids += [p.batchId for p in q.recentProgress]
        # the bus delivers a query's progress before its termination
        deadline = time.time() + 60
        while time.time() < deadline and not any(
            r.message.startswith(f"query_terminated id={q.id}") for r in caplog.records
        ):
            time.sleep(0.2)
    finally:
        listener = vars(spark).pop("_trike_health_listener", None)
        if listener is not None:
            spark.streams.removeListener(listener)
    assert listener is not None
    lines = [r.message for r in caplog.records if r.message.startswith("health batch_id=")]
    assert len(batch_ids) >= 3 and sink.client.calls
    assert [int(m.split()[1].split("=")[1]) for m in lines] == batch_ids, lines
    assert all(" add_batch_ms=" in m and " wal_commit_ms=" in m for m in lines)
