"""Checkpoints under Spark's FileSystem-based checkpoint file manager, which
``session.get_spark`` selects: a checkpoint written under the default
FileContext manager restarts under it with its framing state intact, and
the RocksDB state store, which uploads through the same manager, runs
under it."""

from __future__ import annotations

import test_rocksdb_state
from test_checkpoint_recovery import MSG, _poll, _start, _write

from trike_spark.session import STREAMING_CONFS
from trike_spark.streaming.framing import EOT

MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"


def _manager_name(spark, ckpt) -> str:
    """The class of the manager a query started now would use for ``ckpt``."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(ckpt)), spark._jsparkSession.sessionState().newHadoopConf()
    )
    return manager.getClass().getSimpleName()


def test_filecontext_checkpoint_restarts_under_filesystem_manager(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"

    try:
        # phase 1, Spark's default FileContext manager: a complete message
        # and a PARTIAL frame
        spark.conf.set(MANAGER, FILE_CONTEXT)
        assert _manager_name(spark, ckpt) == "FileContextBasedCheckpointFileManager"
        half1, half2 = MSG[:12], MSG[12:]
        _write(src, "c1.json", "conn-1", MSG + EOT + half1, 0)
        q1 = _start(spark, src, ckpt, out)
        try:
            _poll(spark, q1, out, lambda rows: any(r["raw"] == MSG for r in rows))
        finally:
            q1.stop()

        # phase 2, FileSystem manager: the rest of the frame arrives after
        # the restart and stitches onto the half read back from the
        # checkpoint
        spark.conf.set(MANAGER, STREAMING_CONFS[MANAGER])
        assert _manager_name(spark, ckpt) == "FileSystemBasedCheckpointFileManager"
        _write(src, "c2.json", "conn-1", half2 + EOT, 1)
        q2 = _start(spark, src, ckpt, out)
        try:
            rows = _poll(spark, q2, out, lambda rows: sum(r["raw"] == MSG for r in rows) >= 2)
            # phase 1's frame plus exactly one stitched frame, and nothing
            # else: no event lost, none repeated
            assert sorted((r["conn_id"], r["kind"], r["raw"], r["seq"]) for r in rows) == [
                ("conn-1", "message", MSG, 0),
                ("conn-1", "message", MSG, 1),
            ]
            assert spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true"
        finally:
            q2.stop()
    finally:
        spark.conf.set(MANAGER, STREAMING_CONFS[MANAGER])


def test_rocksdb_state_under_filesystem_manager(spark, tmp_path):
    spark.conf.set(MANAGER, STREAMING_CONFS[MANAGER])
    try:
        test_rocksdb_state.test_framing_on_rocksdb_provider(spark, tmp_path)
    finally:
        spark.conf.set(MANAGER, STREAMING_CONFS[MANAGER])
