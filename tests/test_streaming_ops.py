"""Additional streaming-operator coverage: dropDuplicates within a
watermark, and a stream-stream time-bounded join (SURVEY.md §2.6
"Streaming")."""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SCHEMA = StructType(
    [
        StructField("k", LongType()),
        StructField("ts", TimestampType()),
        StructField("tag", StringType()),
    ]
)

TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


def _write(src, name, rows):
    with open(src / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _poll(spark, q, table, pred, timeout=90):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if q.exception():
            raise AssertionError(str(q.exception()))
        rows = spark.table(table).collect()
        if pred(rows):
            return rows
        time.sleep(1)
    raise AssertionError(f"timeout; rows={spark.table(table).collect()}")


def test_streaming_dropduplicates_within_watermark(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write(
        src,
        "b1.json",
        [
            {"k": 1, "ts": "2024-01-01T10:00:00.000Z", "tag": "first"},
            {"k": 1, "ts": "2024-01-01T10:00:30.000Z", "tag": "dup-same-batch"},
            {"k": 2, "ts": "2024-01-01T10:01:00.000Z", "tag": "other"},
        ],
    )
    stream = (
        spark.readStream.schema(SCHEMA).option("timestampFormat", TS_FMT).json(str(src))
    )
    dedup = stream.withWatermark("ts", "10 minutes").dropDuplicates(["k"])
    q = (
        dedup.writeStream.format("memory")
        .queryName("dd_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        rows = _poll(spark, q, "dd_out", lambda rows: len({r["k"] for r in rows}) >= 2)
        # later duplicate arrives in a second batch — still suppressed
        _write(src, "b2.json", [{"k": 1, "ts": "2024-01-01T10:02:00.000Z", "tag": "dup-later-batch"}])
        time.sleep(4)
        rows = spark.table("dd_out").collect()
        per_key = {}
        for r in rows:
            per_key.setdefault(r["k"], []).append(r["tag"])
        assert len(per_key[1]) == 1, per_key
        assert len(per_key[2]) == 1
    finally:
        q.stop()


def test_stream_stream_join_time_bounded(spark, tmp_path):
    left_src = tmp_path / "left"
    right_src = tmp_path / "right"
    left_src.mkdir()
    right_src.mkdir()
    _write(
        left_src,
        "l1.json",
        [
            {"k": 1, "ts": "2024-01-01T10:00:00.000Z", "tag": "click"},
            {"k": 2, "ts": "2024-01-01T10:00:00.000Z", "tag": "click"},
        ],
    )
    _write(
        right_src,
        "r1.json",
        [
            {"k": 1, "ts": "2024-01-01T10:03:00.000Z", "tag": "purchase-in-window"},
            {"k": 2, "ts": "2024-01-01T11:30:00.000Z", "tag": "purchase-too-late"},
        ],
    )
    left = (
        spark.readStream.schema(SCHEMA).option("timestampFormat", TS_FMT).json(str(left_src))
    ).withWatermark("ts", "1 hour").select(F.col("k"), F.col("ts").alias("l_ts"))
    right = (
        spark.readStream.schema(SCHEMA).option("timestampFormat", TS_FMT).json(str(right_src))
    ).withWatermark("ts", "1 hour").select(F.col("k").alias("rk"), F.col("ts").alias("r_ts"))
    # purchase must follow the click within 10 minutes
    joined = left.join(
        right,
        (F.col("k") == F.col("rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select("k", "l_ts", "r_ts")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        rows = _poll(spark, q, "ss_out", lambda rows: len(rows) >= 1)
        ks = {r["k"] for r in rows}
        assert ks == {1}, rows  # k=2's purchase fell outside the join window
    finally:
        q.stop()


def test_stream_stream_left_outer_join_emits_null_after_watermark(spark, tmp_path, no_data_batches):
    """LEFT OUTER stream-stream join: a left row with no match cannot be
    emitted when it arrives — the engine must hold it until the WATERMARK
    passes the end of its join window (only then is 'no match will ever
    come' provable). The test advances event time with a later batch and
    asserts the null-padded row appears only then."""
    left_src = tmp_path / "left"
    right_src = tmp_path / "right"
    left_src.mkdir()
    right_src.mkdir()
    _write(
        left_src,
        "l1.json",
        [
            {"k": 1, "ts": "2024-01-01T10:00:00.000Z", "tag": "click"},
            {"k": 2, "ts": "2024-01-01T10:00:00.000Z", "tag": "click-no-match"},
        ],
    )
    _write(
        right_src,
        "r1.json",
        [{"k": 1, "ts": "2024-01-01T10:03:00.000Z", "tag": "purchase"}],
    )
    left = (
        spark.readStream.schema(SCHEMA).option("timestampFormat", TS_FMT).json(str(left_src))
    ).withWatermark("ts", "10 minutes").select(F.col("k"), F.col("ts").alias("l_ts"))
    right = (
        spark.readStream.schema(SCHEMA).option("timestampFormat", TS_FMT).json(str(right_src))
    ).withWatermark("ts", "10 minutes").select(F.col("k").alias("rk"), F.col("ts").alias("r_ts"))
    joined = left.join(
        right,
        (F.col("k") == F.col("rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 10 MINUTES")),
        "leftOuter",
    ).select("k", "l_ts", "r_ts")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_outer")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_outer"))
        .start()
    )
    try:
        # phase 1: only the matched row can appear; k=2 must be withheld
        rows = _poll(spark, q, "ss_outer", lambda rs: len(rs) >= 1)
        assert {r["k"] for r in rows} == {1}, rows

        # phase 2: push the watermark far past k=2's join window on BOTH
        # streams (watermark = max event time - 10 min)
        _write(
            left_src,
            "l2.json",
            [{"k": 9, "ts": "2024-01-01T13:00:00.000Z", "tag": "late-tick"}],
        )
        _write(
            right_src,
            "r2.json",
            [{"k": 9, "ts": "2024-01-01T13:00:00.000Z", "tag": "late-tick"}],
        )
        rows = _poll(spark, q, "ss_outer", lambda rs: any(r["k"] == 2 for r in rs))
        k2 = [r for r in rows if r["k"] == 2]
        assert len(k2) == 1 and k2[0]["r_ts"] is None, rows
    finally:
        q.stop()
