"""SparkSession factory with config-from-env precedence mirroring the
reference's compile-default → runtime-env layering (reference
config/config.exs:15-21, config/runtime.exs:51-65).

Scale posture: these defaults are tuned for the test harness (local[N],
single JVM) but every knob is env-overridable so the same code deploys to a
1000-executor cluster by changing config only, never code. AQE is on so
shuffle partition counts, skew joins, and broadcast decisions re-plan at
runtime from real statistics.

Shuffle partitions follow one rule: one partition per task slot of the
master the session is built on (``local[N]``/``local[N,F]`` → N,
``local[*]`` → the CPUs this process may run on). Any other master leaves
``spark.sql.shuffle.partitions`` to the deployment, and
``SPARK_SHUFFLE_PARTITIONS`` overrides the rule. The count matters most
inside a stream, where Spark turns AQE off: the framing operator keeps one
state store per shuffle partition, so every trigger runs (and commits)
that many stateful tasks. A running query keeps the count its checkpoint
was created with.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

_LOCAL = re.compile(r"local(?:\[\s*(\d+|\*)\s*(?:,\s*\d+\s*)?\])?")


def task_slots(master: str) -> int | None:
    """Tasks the master runs at once: ``local`` → 1, ``local[N]`` and
    ``local[N,F]`` → N, ``local[*]`` → the CPUs this process may run on.
    None for any other master, whose size only the deployment knows."""
    if m := _LOCAL.fullmatch(master):
        n = m.group(1) or "1"
        return len(os.sched_getaffinity(0)) if n == "*" else int(n)
    return None


@dataclass(frozen=True)
class EngineConfig:
    """Session configuration, env-overridable. Trike's other runtime
    settings live where they are used: the stale timeout and heartbeat are
    ``build_ingest_pipeline`` parameters, the stream name and client are
    ``KinesisSink`` fields."""

    master: str = field(
        default_factory=lambda: os.environ.get(
            "SPARK_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
        )
    )
    # None: one partition per task slot of ``master`` (see task_slots);
    # still None for a master whose slots are unknown
    shuffle_partitions: int | None = None

    def __post_init__(self) -> None:
        if self.shuffle_partitions is None:
            env = os.environ.get("SPARK_SHUFFLE_PARTITIONS")
            slots = int(env) if env else task_slots(self.master)
            object.__setattr__(self, "shuffle_partitions", slots)


def get_spark(app_name: str = "trike_spark", config: EngineConfig | None = None) -> SparkSession:
    """Build (or fetch) the SparkSession.

    Settings that matter at 100 TB:
      * One shuffle partition per task slot of ``cfg.master`` (left unset
        for a master whose slots are unknown; ``SPARK_SHUFFLE_PARTITIONS``
        overrides). AQE coalesces batch shuffles from there; streams run
        with AQE off, so their stateful and sink shuffles keep this count.
      * AQE + skew-join handling: runtime re-planning from observed stats.
      * autoBroadcastJoinThreshold stays default (10 MiB) — dimension tables
        (region/nation/supplier) broadcast automatically; we additionally
        hint ``broadcast()`` where we *know* the dim is small.
      * Arrow enabled for every pandas interchange (the two stateful ops).
      * UTC session timezone so results are oracle-comparable and
        cluster-location-independent.
    """
    cfg = config or EngineConfig()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.ui.showConsoleProgress", "false")
        # In local[] mode the driver JVM IS the executor: all task memory,
        # shuffle buffers, and broadcast blocks live in this one heap. 8g
        # across 32 task threads (~250 MB/thread) thrashes GC by the tail of
        # a long suite (measured: the last five bench queries inflate
        # 40-50% vs standalone at 8g, flat at 16g+). On a real cluster the
        # driver only coordinates, so this default is local-mode-specific
        # and env-overridable either way.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    if cfg.shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
    # RocksDB state store: bounds streaming state memory at scale (millions
    # of live sessions) — the reference's unbounded per-process heap buffer
    # is its acknowledged risk (SURVEY §4.2). Env-gated; HDFS-backed default
    # store is fine for tests.
    if os.environ.get("SPARK_STATE_STORE", "").lower() == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    # nanos-as-long for the events table's TIMESTAMP(NANOS) column — set at
    # build time here; ensure_session_confs covers foreign sessions.
    builder = builder.config("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Only set master when not already inside a cluster-provided session.
    if "SPARK_CONNECT_MODE_ENABLED" not in os.environ:
        builder = builder.master(cfg.master)
    return builder.getOrCreate()


def ensure_session_confs(spark: SparkSession) -> None:
    """Adapter for CALLER-PROVIDED sessions (the correctness driver builds
    its own plain SparkSession): idempotently pin the two runtime-settable
    confs query results depend on — UTC session timezone (timestamps
    compare against a naive-UTC oracle) and nanos-as-long parquet reads
    (the events table stores TIMESTAMP(NANOS), which Spark can't represent
    natively). Sessions built by :func:`get_spark` already have both.

    Runs once per session object: repeated ``load_table`` calls must not
    keep mutating shared session state as a read side effect (a conf flip
    mid-flight by a concurrent caller would otherwise be silently undone).
    The mark lives on the session object itself, like ``trike_spark.io``'s
    schema cache, so a new session never inherits it (an ``id()`` of a
    collected session can be reused by the next one).
    Contract for callers who manage their own session: either route reads
    through ``trike_spark.io`` (which calls this) or set these two confs
    themselves.
    """
    if vars(spark).get("_trike_confs_pinned"):
        return
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark._trike_confs_pinned = True
