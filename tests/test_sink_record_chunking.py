"""Record-size chunking in the Kinesis sink: the public PutRecord limit
is 1 MiB, which the reference never approaches (per-packet batching) but
a micro-batch CAN — so every encoded record must be provably under the
limit, records are filled greedily (each but a key's last could not take
its next event), chunks must preserve per-key arrival order across the
split, a record must be byte for byte Spark's JSON of its events, and an
unsplittable oversized event must fail loudly before any put, not wedge
the retry loop."""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from trike_spark.streaming.framing import FRAMED_SCHEMA
from trike_spark.streaming.pipeline import messages_to_cloud_events
from trike_spark.streaming.sinks import FakeKinesisClient, KinesisSink

T = datetime(2021, 8, 13, 12, 0, 0)


def _events(spark, n_per_key=30, keys=("conn-a", "conn-b")):
    rows = [
        (k, f"{4000 + i},TSCH,02:00:{i % 60:02d},R,RLD,W", T + timedelta(seconds=i), "message", i)
        for k in keys
        for i in range(n_per_key)
    ]
    return messages_to_cloud_events(spark.createDataFrame(rows, FRAMED_SCHEMA))


def test_small_batch_stays_one_record_per_key(spark):
    client = FakeKinesisClient()
    KinesisSink(stream="s", client=client)(_events(spark), 0)
    per_key = {}
    for c in client.calls:
        per_key.setdefault(c["partition_key"], []).append(c)
    assert set(per_key) == {"conn-a", "conn-b"}
    assert all(len(v) == 1 for v in per_key.values())


def test_chunked_records_bounded_and_order_preserving(spark):
    # force chunking with a tiny limit; compare against the unchunked run
    whole = FakeKinesisClient()
    KinesisSink(stream="s", client=whole)(_events(spark), 0)
    want = {
        c["partition_key"]: json.loads(c["data"]) for c in whole.calls
    }

    limit = 2000  # bytes; each CloudEvent encodes to ~400
    client = FakeKinesisClient()
    KinesisSink(stream="s", client=client, max_record_bytes=limit)(_events(spark), 0)
    got: dict[str, list] = {}
    for c in client.calls:  # call order == put order (chunk ascending)
        assert len(c["data"].encode()) <= limit, "record exceeds the service limit"
        got.setdefault(c["partition_key"], []).extend(json.loads(c["data"]))
    assert {k: len(v) for k, v in got.items()} == {k: len(v) for k, v in want.items()}
    # concatenating a key's chunks in put order reproduces the exact
    # arrival-ordered event sequence of the single-record encode
    assert got == want
    assert any(
        sum(1 for c in client.calls if c["partition_key"] == k) > 1 for k in got
    ), "limit was not small enough to force a split — test is vacuous"


def test_chunked_records_bounded_in_bytes_not_chars(spark):
    # r7 ADVICE: the limit is BYTES and the transport UTF-8-encodes, so a
    # non-ASCII payload (3 bytes/char here) must be sized by octet_length
    # — the old character-count measure passed chunks that exceeded the
    # byte limit by ~3x.
    rows = [
        ("conn-u", "4000," + "日本語テスト" * 10, T + timedelta(seconds=i), "message", i)
        for i in range(30)
    ]
    ev = messages_to_cloud_events(spark.createDataFrame(rows, FRAMED_SCHEMA))
    limit = 3000
    client = FakeKinesisClient()
    KinesisSink(stream="s", client=client, max_record_bytes=limit)(ev, 0)
    assert client.calls, "nothing reached the sink"
    stressed = False
    for c in client.calls:
        nbytes = len(c["data"].encode())
        assert nbytes <= limit, f"record is {nbytes} B > {limit} B service limit"
        stressed = stressed or nbytes > len(c["data"])
    assert stressed, "fixture never exercised multi-byte encoding — vacuous"
    # arrival order still survives the byte-measured split
    got = [e for c in client.calls for e in json.loads(c["data"])]
    assert len(got) == 30


def test_string_event_path_bounded_with_escapes_and_non_ascii(spark):
    # the pre-encoded STRING event path must measure the ESCAPED encoded
    # form: embedded quotes/backslashes/control chars inflate the JSON
    # literal, and non-ASCII inflates the UTF-8 bytes.
    payload = 'say "héllo"\\path\tπ' * 8
    df = spark.createDataFrame(
        [("conn-s", i, payload) for i in range(40)],
        "partitionkey string, seq long, event string",
    )
    limit = 2000
    client = FakeKinesisClient()
    KinesisSink(stream="s", client=client, max_record_bytes=limit)(df, 0)
    assert len(client.calls) > 1, "limit did not force a split — vacuous"
    for c in client.calls:
        nbytes = len(c["data"].encode())
        assert nbytes <= limit, f"record is {nbytes} B > {limit} B service limit"
    got = [e for c in client.calls for e in json.loads(c["data"])]
    assert got == [payload] * 40  # escaping round-trips, order preserved


def test_oversized_single_event_fails_loudly(spark):
    rows = [("conn-a", "x" * 4000, T, "message", 0)]
    ev = messages_to_cloud_events(spark.createDataFrame(rows, FRAMED_SCHEMA))
    with pytest.raises(Exception, match="chunk budget"):
        KinesisSink(stream="s", client=FakeKinesisClient(), max_record_bytes=2000)(ev, 0)


def _shuffled_events(spark, n_per_key=40, keys=("conn-a", "conn-b", "conn-c")):
    """Events whose payloads vary in length and carry escapes and non-ASCII,
    handed to the sink shuffled across partitions."""
    rows = [
        (k, f"{4000 + i},TSCH," + 'é"\\\t' * (i % 5) + "x" * (17 * i % 90), T + timedelta(seconds=i), "message", i)
        for k in keys
        for i in range(n_per_key)
    ]
    random.Random(11).shuffle(rows)
    return messages_to_cloud_events(spark.createDataFrame(rows, FRAMED_SCHEMA).repartition(4))


def _event_json(ev) -> dict[tuple[str, int], str]:
    rows = ev.select("partitionkey", "seq", F.to_json("event").alias("j")).collect()
    return {(r["partitionkey"], r["seq"]): r["j"] for r in rows}


def test_default_limit_record_is_spark_encoding_of_seq_ordered_events(spark):
    ev = _shuffled_events(spark)
    # Spark's own encoding of each key's events, ordered by seq
    by_seq = F.sort_array(F.collect_list(F.struct("seq", "event")))
    record = F.to_json(F.transform(by_seq, lambda x: x["event"]))
    want = {r["partitionkey"]: r["record"] for r in ev.groupBy("partitionkey").agg(record.alias("record")).collect()}
    client = FakeKinesisClient()
    KinesisSink(stream="s", client=client)(ev, 0)
    assert [c["partition_key"] for c in client.calls] == sorted(want)
    assert {c["partition_key"]: c["data"] for c in client.calls} == want


def test_small_limit_fills_every_record_but_a_keys_last(spark):
    ev = _shuffled_events(spark)
    enc = _event_json(ev)
    limit = 2000
    client = FakeKinesisClient()
    KinesisSink(stream="s", client=client, max_record_bytes=limit)(ev, 0)
    per_key: dict[str, list[str]] = {}
    for c in client.calls:
        per_key.setdefault(c["partition_key"], []).append(c["data"])
    for key, records in per_key.items():
        order = sorted(seq for k, seq in enc if k == key)
        assert len(records) > 1, "limit did not force a split — vacuous"
        taken = 0
        for record, nxt in zip(records, records[1:]):
            assert len(record.encode()) <= limit
            taken += len(json.loads(record))
            following = enc[(key, order[taken])]
            # the record could not have taken the key's next event
            assert len(record.encode()) + 1 + len(following.encode()) > limit, (key, taken)
        taken += len(json.loads(records[-1]))
        assert taken == len(order)


def test_oversized_event_fails_before_any_put(spark):
    rows = [("conn-a", f"{4000 + i},TSCH", T, "message", i) for i in range(5)] + [
        ("conn-b", "4000,TSCH", T, "message", 0),
        ("conn-b", "x" * 4000, T, "message", 1),
    ]
    ev = messages_to_cloud_events(spark.createDataFrame(rows, FRAMED_SCHEMA))
    client = FakeKinesisClient()
    with pytest.raises(Exception, match="chunk budget"):
        KinesisSink(stream="s", client=client, max_record_bytes=2000)(ev, 0)
    assert client.calls == []
