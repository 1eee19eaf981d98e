"""Tracked materialization: ``localCheckpoint(eager=True)`` sites register
their DataFrames here so long-lived sessions can release the cached blocks.

Why: query-construction functions checkpoint intermediates that several
plan branches share (Spark does not common-subexpression-eliminate across
join/union branches). Those blocks live in executor memory/disk until the
underlying RDD is unpersisted — and ``DataFrame.unpersist()`` does NOT do
that for a localCheckpoint (it only uncaches cache-manager entries), so a
session running many queries (bench, the correctness driver) accumulates
orphans (round-2 advice). ``checkpoint`` records the RDD ids the eager
checkpoint created and :func:`release_checkpoints` unpersists exactly
those via the SparkContext's persistent-RDD registry.

Contract: call :func:`release_checkpoints` only after downstream results
are materialized (collected / written) — a localCheckpoint's lineage is
truncated, so a released DataFrame cannot recompute.

Reliable-checkpoint mode (cluster deployments): localCheckpoint blocks die
with their executor, so on a real multi-executor cluster an executor loss
mid-CC-loop would kill the job (lineage is truncated — nothing to recompute
from). Setting ``SPARK_CHECKPOINT_DIR`` flips every :func:`checkpoint` site
to ``sparkContext.setCheckpointDir`` + ``Dataset.checkpoint(eager=True)``:
generations are written to fault-tolerant storage (HDFS/S3) and survive any
executor loss. Same call sites, config-only switch — the deploy-time knob
docs/SCALE.md prescribes. In this mode :func:`release`/:func:`release_checkpoints`
are no-ops (reliable checkpoints don't occupy the block-manager registry;
files are reclaimed by ``spark.cleaner.referenceTracking.cleanCheckpoints``
or checkpoint-dir lifecycle policy).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# (session, rdd_id) pairs created by checkpoint() and not yet released.
_TRACKED: list[tuple[SparkSession, int]] = []

# Logger of the WARN Spark emits when a locally checkpointed RDD is unpersisted.
_LINEAGE_LOGGER = "org.apache.spark.rdd.MapPartitionsRDD"


def _persistent_ids(spark: SparkSession) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager checkpoint: reliable (``SPARK_CHECKPOINT_DIR`` set) or local.
    Local checkpoints track the created RDD cache for later release."""
    spark = df.sparkSession
    ckpt_dir = os.environ.get("SPARK_CHECKPOINT_DIR")
    if ckpt_dir:
        # marked on the context itself: an id() of a stopped one can be reused
        sc = spark.sparkContext
        if getattr(sc, "_trike_ckpt_dir", None) != ckpt_dir:
            sc.setCheckpointDir(ckpt_dir)
            sc._trike_ckpt_dir = ckpt_dir
        out = df.checkpoint(eager=True)
        # Reliable checkpoints live as files, not block-manager entries —
        # nothing to track; release(out) is a clean no-op.
        out._trike_ckpt_rids = set()
        return out
    before = _persistent_ids(spark)
    out = df.localCheckpoint(eager=True)
    new_ids = _persistent_ids(spark) - before
    for rid in new_ids:
        _TRACKED.append((spark, rid))
    out._trike_ckpt_rids = new_ids  # for targeted release(df)
    return out


def _lineage_logger(spark: SparkSession):
    """(logger, ERROR) handles for :data:`_LINEAGE_LOGGER`, resolved once per
    SparkContext: each step of a py4j package path is a JVM round trip, and
    resolving them on every release cost ~6 ms per call."""
    sc = spark.sparkContext
    handles = getattr(sc, "_trike_lineage_logger", None)
    if handles is None:
        log4j = sc._jvm.org.apache.logging.log4j
        handles = (log4j.LogManager.getLogger(_LINEAGE_LOGGER), log4j.Level.ERROR)
        sc._trike_lineage_logger = handles
    return handles


def _unpersist(spark: SparkSession, rids) -> int:
    """Unpersist whichever of ``rids`` are still cached; returns how many
    were. Spark logs a WARN for each locally checkpointed RDD unpersisted
    ("its lineage has been truncated") — expected at every release here —
    so that one logger is raised to ERROR for the calls, then restored.
    ``setLevel`` on the logger itself touches no log4j configuration, and
    the next configuration change resets it anyway."""
    logger, error = _lineage_logger(spark)
    level = logger.getLevel()
    logger.setLevel(error)
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        released = 0
        for rid in rids:
            jrdd = jmap.get(rid)
            if jrdd is not None:
                jrdd.unpersist()
                released += 1
        return released
    finally:
        logger.setLevel(level)


def release(df: DataFrame) -> None:
    """Unpersist one checkpointed DataFrame's blocks NOW (iterative
    operators free each superseded generation mid-loop — note that plain
    ``DataFrame.unpersist()`` would silently do nothing here)."""
    rids = getattr(df, "_trike_ckpt_rids", None)
    if not rids:
        return
    spark = df.sparkSession
    _unpersist(spark, rids)
    _TRACKED[:] = [(s, r) for (s, r) in _TRACKED if r not in rids or s is not spark]


def release_checkpoints() -> int:
    """Unpersist every tracked checkpoint RDD still cached; returns the
    count released. Ids already unpersisted elsewhere (the CC loop frees
    superseded generations itself) are skipped silently."""
    released = 0
    while _TRACKED:
        spark, rid = _TRACKED.pop()
        try:
            released += _unpersist(spark, (rid,))
        except Exception:  # session already stopped — nothing to free
            pass
    return released
