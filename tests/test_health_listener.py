"""Health listener emits the structured per-batch line (T3/O4 analog)."""

from __future__ import annotations

import logging
import time
from types import SimpleNamespace

from pyspark.sql import functions as F

from trike_spark.streaming.health import HealthListener
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
        durationMs={"triggerExecution": 500},
        stateOperators=[
            SimpleNamespace(**op, allUpdatesTimeMs=120, allRemovalsTimeMs=40),
            SimpleNamespace(**op, allUpdatesTimeMs=80, allRemovalsTimeMs=5),
        ],
    )
    HealthListener().onQueryProgress(SimpleNamespace(progress=progress))
    (line,) = [r.message for r in caplog.records]
    assert line == (
        "health batch_id=7 input_rows=1000 rows_per_sec=2000.0 batch_duration_ms=500 "
        "state_rows=8 state_store_instances=8 state_commit_ms=60 "
        "state_updates_ms=200 state_removals_ms=45"
    )
