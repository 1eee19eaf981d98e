"""Per-session state that ``trike_spark.io.load_table`` keeps on the
SparkSession object: the parquet schema cache (a repeated load of a table
file skips Spark's schema inference job) and the once-per-session conf pin
of ``trike_spark.session.ensure_session_confs``."""

from __future__ import annotations

import datetime
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from test_events_ts_layouts import TS_MICROS, UTC, _write_events
from trike_spark.io import load_table
from trike_spark.session import ensure_session_confs

SF_DIR = "/root/testdata/sf0.001"
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, fn):
    """(number of Spark jobs ``fn`` started, its result), counted as the
    jobs of a job group private to this call."""
    sc = spark.sparkContext
    group = f"load-table-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _table_copy(tmp_path, name: str) -> str:
    """A private copy of one sf0.001 table, so no earlier load of the
    shared file in this session has cached its schema."""
    shutil.copyfile(os.path.join(SF_DIR, f"{name}.parquet"), tmp_path / f"{name}.parquet")
    return str(tmp_path)


def test_second_load_starts_no_job(spark, tmp_path):
    sf_dir = _table_copy(tmp_path, "orders")
    first, _ = _jobs(spark, lambda: load_table(spark, sf_dir, "orders"))
    second, df = _jobs(spark, lambda: load_table(spark, sf_dir, "orders"))
    assert first >= 1  # the first load infers the schema
    assert second == 0
    assert df.count() == spark.read.parquet(f"{sf_dir}/orders.parquet").count()


def test_rewritten_events_file_is_inferred_again(spark, tmp_path):
    """An events.parquet rewritten in place from the µs to the ns layout
    (new mtime and size) must not be read with the µs file's schema."""
    sf_dir = _write_events(tmp_path, "us")
    expected = {
        i + 1: datetime.datetime.fromtimestamp(t / 1e6, tz=UTC).replace(tzinfo=None)
        for i, t in enumerate(TS_MICROS)
    }

    def ts_rows():
        df = load_table(spark, sf_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        return {r.event_id: r.ts for r in df.select("event_id", "ts").collect()}

    assert ts_rows() == expected
    ns_file = os.path.join(_write_events(tmp_path, "ns"), "events.parquet")
    shutil.copyfile(ns_file, os.path.join(sf_dir, "events.parquet"))
    assert pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type == pa.timestamp("ns")
    assert ts_rows() == expected


def test_type_mapping_conf_change_infers_again(spark, tmp_path):
    sf_dir = _table_copy(tmp_path, "orders")
    load_table(spark, sf_dir, "orders")
    old = spark.conf.get(NANOS_AS_LONG)
    try:
        spark.conf.set(NANOS_AS_LONG, "false" if old == "true" else "true")
        flipped, _ = _jobs(spark, lambda: load_table(spark, sf_dir, "orders"))
    finally:
        spark.conf.set(NANOS_AS_LONG, old)
    assert flipped >= 1


def test_cached_loads_self_join(spark):
    """Each load is a new scan with its own attribute ids, so two loads of
    the same table join like two tables — also on a condition Spark's
    same-DataFrame equi-join rewrite does not cover."""
    a = load_table(spark, SF_DIR, "orders")
    b = load_table(spark, SF_DIR, "orders")
    keys = {r.o_orderkey for r in a.select("o_orderkey").collect()}
    assert a.join(b, a.o_orderkey == b.o_orderkey).count() == len(keys)
    successors = sum(1 for k in keys if k + 1 in keys)
    assert successors > 0
    assert a.join(b, a.o_orderkey + 1 == b.o_orderkey).count() == successors


def test_directory_table_is_not_cached(spark, tmp_path):
    pq.write_to_dataset(pq.read_table(os.path.join(SF_DIR, "nation.parquet")), str(tmp_path / "nation.parquet"))
    sf_dir = str(tmp_path)
    load_table(spark, sf_dir, "nation")
    again, df = _jobs(spark, lambda: load_table(spark, sf_dir, "nation"))
    assert again >= 1
    assert df.count() == 25


class _Conf:
    def __init__(self):
        self.pinned: dict[str, str] = {}

    def set(self, key: str, value: str) -> None:
        self.pinned[key] = value


class _Session:
    def __init__(self):
        self.conf = _Conf()


PINNED = {"spark.sql.session.timeZone": "UTC", NANOS_AS_LONG: "true"}


def test_session_with_a_reused_id_is_pinned():
    """A session created after an adapted one was collected may get the
    same ``id()``; it must still have its confs pinned, once."""
    first = _Session()
    ensure_session_confs(first)
    assert first.conf.pinned == PINNED
    stale_id = id(first)
    del first
    held = []  # keep non-matching sessions alive so each try is a new address
    for _ in range(1000):
        session = _Session()
        if id(session) == stale_id:
            break
        held.append(session)
    else:
        pytest.skip("the interpreter did not reuse the collected session's id")
    ensure_session_confs(session)
    assert session.conf.pinned == PINNED
    session.conf.pinned.clear()
    ensure_session_confs(session)
    assert session.conf.pinned == {}
