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


# why each is set: see get_spark
STREAMING_CONFS = {
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    ),
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
}
LOCAL_DRIVER_JAVA_OPTIONS = "-Xss16m"


@dataclass(frozen=True)
class EngineConfig:
    """Session configuration, env-overridable. Trike's other runtime
    settings live where they are used: the stale timeout is a
    ``build_ingest_pipeline`` parameter, the heartbeat packet is
    ``functions.cloud_event.HEARTBEAT``, the stream name and client are
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

    Streaming settings (they act on streaming queries only):
      * ``checkpointFileManagerClass`` = Spark's FileSystem-based manager.
        The default FileContext manager renames through Hadoop's
        ``FileContext``, which without libhadoop forks a ``readlink`` for
        the source and the target of every checkpoint file and of its
        ``.crc``: about 100 forks per ingest trigger, 20 of them per
        state-store commit. The FileSystem manager renames with
        ``File.renameTo`` (one atomic POSIX rename on local disk) and keeps
        both checksum layers, Hadoop's ``.crc`` files and Spark's
        ``checkpoint.fileChecksum`` files. On a store other than local
        disk: HDFS ``FileSystem.rename`` refuses an existing target where
        ``FileContext`` overwrites it. The manager checks the target
        itself: where the caller forbids an overwrite it raises
        ``FileAlreadyExistsException``, and where the caller allows one, a
        rename refused onto an existing file leaves that file in place
        (written by an earlier attempt at the same version).
      * ``noDataMicroBatches.enabled=false``. Under the framing operator's
        processing-time timeout Spark would otherwise run a 0-row batch
        (one stateful task and one state-store commit per shuffle
        partition) whenever a trigger ends before the source has new data,
        only to look for expired timers. With it off, a stale timer fires
        in the next batch that carries data on any key; when every key is
        silent, no session closes until traffic resumes (see
        ``framing.framed_stream``). No stream built on this session needs a
        no-data batch: the ingest path has no watermark to flush.
      * ``-Xss16m`` on the driver JVM for ``local`` masters, where the
        driver is also the executor. At ``query.stop()`` Spark matches a
        backtracking regex over the interrupted batch's error text
        (``StreamExecution.isInterruptionException``) on the stream
        thread, which overflows the default thread stack. It goes into
        ``spark.driver.defaultJavaOptions``, which the launcher puts before
        ``spark.driver.extraJavaOptions``, so a caller's own
        ``--driver-java-options`` (which replace ``extraJavaOptions``) are
        kept, and a caller's own ``-Xss`` wins. Like every JVM option it
        acts only when this call launches the JVM.
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
        .config("spark.ui.enabled", "false")
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
    for key, value in STREAMING_CONFS.items():
        builder = builder.config(key, value)
    if task_slots(cfg.master) is not None:
        builder = builder.config("spark.driver.defaultJavaOptions", LOCAL_DRIVER_JAVA_OPTIONS)
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
