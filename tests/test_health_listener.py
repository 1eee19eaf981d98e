"""Health listener emits the structured per-batch line (T3/O4 analog)."""

from __future__ import annotations

import logging
import time

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
