"""Health observability — trike's T3 HealthChecker re-expressed as a
StreamingQueryListener (reference lib/trike/health_checker.ex:43-75; log
contract O4).

The reference logs, every 60 s, listener counters and per-connection
mailbox depth (its backpressure metric). The Spark analogues are query
progress (rows/s, batch duration) and state-store size (live sessions).
"""

from __future__ import annotations

import logging

from pyspark.sql.streaming import StreamingQueryListener

logger = logging.getLogger("trike_spark.health")


class HealthListener(StreamingQueryListener):
    """Logs one structured line per micro-batch — same role as
    health_checker.ex's periodic :check_health scan."""

    def onQueryStarted(self, event) -> None:
        logger.info("query_started id=%s name=%s", event.id, event.name)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        # keys mirror the reference's got_data/connection scan lines (O4);
        # state_store_instances is the shuffle partition count the query's
        # checkpoint pinned, and each instance commits every batch.
        # state_updates_ms/state_removals_ms sum the stateful tasks' Python
        # runner time on new data and on timed-out keys; input_rows=0 marks a
        # timeout sweep batch
        logger.info(
            "health batch_id=%s input_rows=%d rows_per_sec=%.1f batch_duration_ms=%s "
            "state_rows=%d state_store_instances=%d state_commit_ms=%d "
            "state_updates_ms=%d state_removals_ms=%d",
            p.batchId,
            p.numInputRows,
            p.processedRowsPerSecond or 0.0,
            p.durationMs.get("triggerExecution") if p.durationMs else None,
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
