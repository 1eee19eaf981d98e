"""Streaming twin for the CDC upsert lakehouse face: a foreachBatch MERGE
into a keyed target consumes the SAME parquet fixture the batch face
reads and must end in the registered batch query's state.

The twin's target is a driver-side dict standing in for the bucketed
table a deployment would MERGE into; per-batch work is bounded by batch
size (the change set), never by target size — which is the property that
makes foreachBatch-upsert the standard streaming MERGE shape.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from trike_spark.queries.events import events_cdc_upsert

US = 1_000_000
T0 = 1_704_067_200 * US  # 2024-01-01 00:00:00 UTC
DAY = 86400 * US

EVENTS = [
    # (event_id, ts_us, user_id, event_type, value)
    # user 1: a post-cutoff purchase → CDC state purchase
    (1, T0 + 1 * DAY, 1, "signup", 1.0),
    (2, T0 + 2 * DAY, 1, "click", 2.0),
    (3, T0 + 20 * DAY, 1, "purchase", 9.9),
    # user 2: last event is a post-cutoff tombstone → CDC deletes the row
    (4, T0 + 1 * DAY, 2, "click", 1.0),
    (5, T0 + 3 * DAY, 2, "signup", 1.5),
    (6, T0 + 21 * DAY, 2, "error", 0.0),
    # user 3: no post-cutoff events → CDC keeps the pre-cutoff snapshot row
    (7, T0 + 4 * DAY, 3, "signup", 3.0),
    (8, T0 + 5 * DAY, 3, "click", 3.5),
    # user 4: appears only AFTER the cutoff → CDC insert (not-matched)
    (9, T0 + 22 * DAY, 4, "view", 0.5),
    # user 5: pre-cutoff latest is a tombstone → absent from the snapshot
    (10, T0 + 6 * DAY, 5, "error", 0.0),
]


def _events_fixture(tmp_path) -> str:
    d = tmp_path / "sf_fixture"
    d.mkdir()
    table = pa.table(
        {
            "event_id": pa.array([e[0] for e in EVENTS], pa.int64()),
            "ts": pa.array([e[1] for e in EVENTS], pa.timestamp("us")),
            "user_id": pa.array([e[2] for e in EVENTS], pa.int64()),
            "event_type": pa.array([e[3] for e in EVENTS], pa.string()),
            "value": pa.array([e[4] for e in EVENTS], pa.float64()),
            "props": pa.array(["{}"] * len(EVENTS), pa.string()),
        }
    )
    pq.write_table(table, str(d / "events.parquet"))
    return str(d)


def _read_events_stream(spark, sf_dir):
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    return spark.readStream.schema(schema).parquet(sf_dir)


def test_streaming_cdc_upsert_twin_matches_batch_face(spark, tmp_path):
    sf_dir = _events_fixture(tmp_path)
    batch = {tuple(r) for r in events_cdc_upsert(spark, sf_dir).collect()}
    assert batch, "fixture must produce a non-empty end state"

    target: dict[int, tuple] = {}

    def apply_batch(bdf, batch_id):
        # MERGE: dedup the change batch to latest-per-key, then upsert /
        # tombstone-delete into the keyed target. Work is O(|batch|).
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            bdf.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("user_id", "event_type", "value", "ts")
        )
        for r in latest.collect():
            if r.event_type == "error":
                target.pop(r.user_id, None)
            else:
                target[r.user_id] = (r.user_id, r.event_type, r.value, r.ts)

    stream = _read_events_stream(spark, sf_dir)
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt_cdc"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(90)
    finally:
        q.stop()
    assert set(target.values()) == batch

