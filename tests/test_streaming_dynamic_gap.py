"""Streaming twin of ``events_sessionization_dynamic_gap``: the SAME
dynamic-gap ``session_window`` expression over ``readStream``, asserted
equal to the batch face on a fixture engineered so the dynamic gap
actually changes the answer (a purchase's 30-min extension bridges a gap
a 10-min fixed timeout would split)."""

from __future__ import annotations

import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from trike_spark.queries.events import events_sessionization_dynamic_gap

US = 1_000_000
MIN = 60 * US
T0 = 1_700_000_000 * US

EVENTS = [
    # user 1: click, then purchase, then an event 20 min later — inside the
    # purchase's 30-min extension (one session) but outside a 10-min one.
    (1, T0, 1, "click", 1.0),
    (2, T0 + 5 * MIN, 1, "purchase", 9.9),
    (3, T0 + 25 * MIN, 1, "view", 0.0),
    # 40 min after the view (> every gap): a new session.
    (4, T0 + 65 * MIN, 1, "click", 1.0),
    # user 2: clicks exactly 10 min apart — boundary: ts == prev window
    # end still MERGES (session_window's inclusive boundary); one more
    # click 10 min + 1 µs later opens a NEW session.
    (5, T0, 2, "click", 1.0),
    (6, T0 + 10 * MIN, 2, "click", 2.0),
    (8, T0 + 20 * MIN + 1, 2, "click", 3.0),
    # user 3: a lone purchase
    (7, T0, 3, "purchase", 5.0),
]


def _fixture(tmp_path) -> str:
    d = tmp_path / "sf_dyn"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([e[0] for e in EVENTS], pa.int64()),
                "ts": pa.array([e[1] for e in EVENTS], pa.timestamp("us")),
                "user_id": pa.array([e[2] for e in EVENTS], pa.int64()),
                "event_type": pa.array([e[3] for e in EVENTS], pa.string()),
                "value": pa.array([e[4] for e in EVENTS], pa.float64()),
                "props": pa.array(["{}"] * len(EVENTS), pa.string()),
            }
        ),
        str(d / "events.parquet"),
    )
    return str(d)


def test_batch_face_dynamic_gap_semantics(spark, tmp_path):
    sf_dir = _fixture(tmp_path)
    rows = {
        (r.user_id, r.n_events): r
        for r in events_sessionization_dynamic_gap(spark, sf_dir).collect()
    }
    # user 1: purchase extension merges events 1-3; event 4 is separate
    assert (1, 3) in rows and (1, 1) in rows
    # user 2: the exactly-10-min pair merges (inclusive boundary); the
    # +1 µs click does not → sessions of 2 and 1 events
    assert (2, 2) in rows and (2, 1) in rows


def test_streaming_dynamic_gap_twin_matches_batch(spark, tmp_path):
    sf_dir = _fixture(tmp_path)
    batch = {
        tuple(r)
        for r in events_sessionization_dynamic_gap(spark, sf_dir).collect()
    }

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    stream = spark.readStream.schema(schema).parquet(sf_dir)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    from trike_spark.queries._util import dsum

    sessions = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("dyn_gap_twin")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_dyn"))
        .start()
    )
    try:
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception()))
            rows = spark.table("dyn_gap_twin").collect()
            if len(rows) >= len(batch) and not q.status["isDataAvailable"]:
                break
            time.sleep(1)
        assert {tuple(r) for r in rows} == batch
    finally:
        q.stop()


def test_append_mode_finalizes_sessions_after_watermark(spark, tmp_path, no_data_batches):
    """Production session semantics: in APPEND mode a session row may only
    emit once the watermark proves no more events can join it — held while
    open, emitted exactly once when closed, state purged. Complete mode
    (above) never exercises this path."""
    src = tmp_path / "dyn_src2"
    src.mkdir()

    def write(name, events):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([e[0] for e in events], pa.int64()),
                    "ts": pa.array([e[1] for e in events], pa.timestamp("us")),
                    "user_id": pa.array([e[2] for e in events], pa.int64()),
                    "event_type": pa.array([e[3] for e in events], pa.string()),
                    "value": pa.array([e[4] for e in events], pa.float64()),
                    "props": pa.array(["{}"] * len(events), pa.string()),
                }
            ),
            str(src / name),
        )

    write("b1.parquet", [(1, T0, 1, "click", 1.0), (2, T0 + 5 * MIN, 1, "view", 2.0)])

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    sessions = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("s"), "n_events")
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("dyn_gap_append")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_append"))
        .start()
    )
    try:
        # phase 1: session still open (watermark at T0+5min-5min) → no rows
        deadline = time.time() + 30
        while time.time() < deadline and q.status["isDataAvailable"]:
            time.sleep(1)
        assert spark.table("dyn_gap_append").collect() == []

        # phase 2: a far-future event closes user 1's session
        write("b2.parquet", [(9, T0 + 120 * MIN, 2, "click", 0.0)])
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception()))
            rows = spark.table("dyn_gap_append").collect()
            if rows:
                break
            time.sleep(1)
        finalized = [(r.user_id, r.n_events) for r in rows]
        assert finalized == [(1, 2)], rows  # exactly once, fully merged
    finally:
        q.stop()
