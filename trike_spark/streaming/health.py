"""Health observability — trike's T3 HealthChecker re-expressed as a
StreamingQueryListener (reference lib/trike/health_checker.ex:43-75; log
contract O4).

The reference logs, every 60 s, listener counters and per-connection
mailbox depth (its backpressure metric). The Spark analogues are query
progress (rows/s, batch duration) and state-store size (live sessions).
``write_stream_to_kinesis`` registers one listener per session
(:func:`register_once`), so every ingest query logs its batches.
"""

from __future__ import annotations

import logging

from pyspark.sql.streaming import StreamingQueryListener

logger = logging.getLogger("trike_spark.health")

# durationMs phases of a micro-batch, in the health line's order
_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets")


class HealthListener(StreamingQueryListener):
    """Logs one structured line per micro-batch — same role as
    health_checker.ex's periodic :check_health scan."""

    def onQueryStarted(self, event) -> None:
        logger.info("query_started id=%s name=%s", event.id, event.name)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        durations = p.durationMs or {}
        # keys mirror the reference's got_data/connection scan lines (O4);
        # state_store_instances is the shuffle partition count the query's
        # checkpoint pinned, and each instance commits every batch.
        # state_updates_ms/state_removals_ms sum the stateful tasks' Python
        # runner time on new data and on timed-out keys; input_rows=0 marks a
        # timeout sweep batch. The phases are the trigger's engine steps
        # (0 when a batch skipped one)
        logger.info(
            "health batch_id=%s input_rows=%d rows_per_sec=%.1f batch_duration_ms=%s "
            "add_batch_ms=%d query_planning_ms=%d wal_commit_ms=%d commit_offsets_ms=%d "
            "state_rows=%d state_store_instances=%d state_commit_ms=%d "
            "state_updates_ms=%d state_removals_ms=%d",
            p.batchId,
            p.numInputRows,
            p.processedRowsPerSecond or 0.0,
            durations.get("triggerExecution"),
            *(durations.get(phase, 0) for phase in _PHASES),
            sum(s.numRowsTotal for s in ops),
            sum(s.numStateStoreInstances for s in ops),
            sum(s.commitTimeMs for s in ops),
            sum(s.allUpdatesTimeMs for s in ops),
            sum(s.allRemovalsTimeMs for s in ops),
        )

    def onQueryTerminated(self, event) -> None:
        logger.info("query_terminated id=%s exception=%s", event.id, event.exception)

    def onQueryIdle(self, event) -> None:
        logger.debug("query_idle id=%s", event.id)


def register_once(spark) -> None:
    """Add a :class:`HealthListener` to ``spark`` unless one was added here
    before. The listener is kept on the session object (like
    ``session.ensure_session_confs``' mark), so a caller can remove it and a
    new session never inherits the mark."""
    if vars(spark).get("_trike_health_listener") is None:
        listener = HealthListener()
        spark.streams.addListener(listener)
        spark._trike_health_listener = listener
