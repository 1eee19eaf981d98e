"""Watermark / late-data handling over a streamed ``events``-shaped source
(SURVEY.md §2.6 "Streaming": withWatermark + windowed agg; late rows beyond
the watermark are dropped)."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _write(src, name, rows, mtime=None):
    path = src / name
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    if mtime is not None:
        # FileStreamSource orders pending files by modification time; same-ms
        # mtimes (easy on a loaded machine) tie-break on listing order, which
        # is not guaranteed — pin strictly increasing mtimes so the three
        # micro-batches always run b1 → b2 → b3.
        os.utime(path, (mtime, mtime))


def test_late_event_dropped_beyond_watermark(spark, tmp_path, no_data_batches):
    """Deflaked (VERDICT r1 #3): all files are written BEFORE start with
    explicitly increasing mtimes; ``maxFilesPerTrigger=1`` then processes
    them as ordered micro-batches (FileStreamSource orders pending files by
    mod-time — same-ms ties broke the old version nondeterministically).
    With no processing-time timers in the plan, ``processAllAvailable()``
    terminates deterministically — no wall-clock poll deadline to lose under
    full-suite contention.

    Spark ≥3.4 two-watermark subtlety: stateful operators filter LATE rows
    with the PREVIOUS batch's watermark while EVICTING with the current one
    (StateStoreSave shows both values). A late row arriving exactly one
    batch after the advance is therefore still admitted — and instantly
    evicted+emitted in append mode. The spacer batch b2 lets the
    late-filter watermark catch up to 11:50 before the late row arrives."""
    base = time.time() - 60
    src = tmp_path / "in"
    src.mkdir()
    # batch 1: events at 10:00 and 12:00 → watermark advances to 12:00-10min
    _write(
        src,
        "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01T10:00:00.000Z", "user_id": 1, "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01T12:00:00.000Z", "user_id": 1, "event_type": "click", "value": 1.0},
        ],
        mtime=base,
    )
    # batch 2: spacer — advances the LATE-filter watermark to 11:50
    # (the eviction watermark got there after b1; the late filter lags one
    # batch by design)
    _write(
        src,
        "b2.json",
        [{"event_id": 3, "ts": "2024-01-01T12:30:00.000Z", "user_id": 1, "event_type": "click", "value": 1.0}],
        mtime=base + 2,
    )
    # batch 3: a late event at 09:30 (window 09:00) arrives with the late
    # filter at 11:50 → must be dropped, so window 09:00 never appears and
    # the sealed 10:00 window isn't resurrected
    _write(
        src,
        "b3.json",
        [{"event_id": 4, "ts": "2024-01-01T09:30:00.000Z", "user_id": 1, "event_type": "click", "value": 1.0}],
        mtime=base + 4,
    )
    # batch 4: push the watermark far forward so earlier windows seal
    _write(
        src,
        "b4.json",
        [{"event_id": 5, "ts": "2024-01-01T15:00:00.000Z", "user_id": 1, "event_type": "click", "value": 1.0}],
        mtime=base + 6,
    )
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_out")
        .outputMode("append")  # append emits only windows sealed by the watermark
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        if q.exception():
            raise AssertionError(str(q.exception()))
        rows = spark.table("wm_out").collect()
        starts = {r["window_start"].strftime("%H:%M"): r["n"] for r in rows}
        assert starts.get("10:00") == 1, starts
        assert starts.get("12:00") == 2, starts  # b1's 12:00 + b2's 12:30
        assert "09:00" not in starts, starts  # late event beyond watermark dropped
        dropped = sum(
            so.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for so in p["stateOperators"]
        )
        assert dropped == 1, dropped
    finally:
        q.stop()
