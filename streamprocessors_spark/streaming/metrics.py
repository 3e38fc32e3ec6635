"""A6: the processing-latency profile, Spark-native.

The reference's PROFILE_DISTR_THR blocks compute a rolling mean of the
per-packet fan-out latency over 10,000-packet windows and log it
(mpeg2ts/src/mpeg2_sp.c:63,1385-1389,1409-1418). Structured Streaming
already measures the analogous quantities per micro-batch — batch
duration, rows, rows/s — and delivers them through
``StreamingQueryProgress``; this module materializes that stream of
events into rows and the reference-shaped rolling summary, servable
through the S7 stats route (``latency_stats.json``). Each row also keeps
the batch's full ``durationMs`` phase map (latestOffset, getBatch,
queryPlanning, addBatch, walCommit, ...) and its state-operator metrics
summed over the batch's stateful operators (rows, memory, commit time,
shuffle partitions), so the route says where time and state go.

Listener callbacks run on Spark's listener bus thread — they must never
touch DataFrames or block; the collector only appends plain dicts under
a lock.
"""

from __future__ import annotations

import json
import threading
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.listener import (
    QueryProgressEvent,
    QueryStartedEvent,
    QueryTerminatedEvent,
    StreamingQueryListener,
    QueryIdleEvent,
)

PROGRESS_SCHEMA = (
    "query_id STRING, run_id STRING, batch_id BIGINT, "
    "input_rows BIGINT, rows_per_sec DOUBLE, "
    "add_batch_ms BIGINT, trigger_ms BIGINT, "
    "duration_ms MAP<STRING, BIGINT>, state_rows_total BIGINT, "
    "state_memory_bytes BIGINT, state_commit_ms BIGINT, "
    "state_shuffle_partitions BIGINT"
)

#: StateOperatorProgress fields summed per batch, in row order
_STATE_FIELDS = (
    "numRowsTotal", "memoryUsedBytes", "commitTimeMs", "numShufflePartitions"
)


class ProgressCollector(StreamingQueryListener):
    """Collects StreamingQueryProgress events into plain rows."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.rows: list[tuple[Any, ...]] = []

    # -- listener callbacks (bus thread: no Spark calls, no blocking) ----

    def onQueryStarted(self, event: QueryStartedEvent) -> None:
        pass

    def onQueryProgress(self, event: QueryProgressEvent) -> None:
        p = event.progress
        dur = p.durationMs or {}
        ops = p.stateOperators or []
        row = (
            str(p.id),
            str(p.runId),
            int(p.batchId),
            int(p.numInputRows),
            float(p.processedRowsPerSecond or 0.0),
            int(dur.get("addBatch", 0)),
            int(dur.get("triggerExecution", 0)),
            {str(k): int(v) for k, v in dur.items()},
        ) + tuple(
            sum(int(getattr(op, f) or 0) for op in ops) for f in _STATE_FIELDS
        )
        with self._lock:
            self.rows.append(row)

    def onQueryIdle(self, event: QueryIdleEvent) -> None:
        pass

    def onQueryTerminated(self, event: QueryTerminatedEvent) -> None:
        pass

    # -- consumption -----------------------------------------------------

    def snapshot(self) -> list[tuple[Any, ...]]:
        with self._lock:
            return list(self.rows)

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.snapshot(), PROGRESS_SCHEMA)

    def latency_stats_json(self) -> str:
        """The reference-shaped rolling profile: batch count, row volume,
        mean/max batch latency, mean throughput — as the ``data`` payload
        for the S7 ``latency_stats.json`` route.

        Also ``phase_ms_total`` (each ``durationMs`` phase summed over all
        batches), ``state_commit_ms_total`` (state-store commit time
        summed over all batches) and the state gauges ``state_rows_total``,
        ``state_memory_bytes`` and ``state_shuffle_partitions``: each
        query's latest batch, summed over queries."""
        rows = self.snapshot()
        phases: dict[str, int] = {}
        latest: dict[str, tuple[Any, ...]] = {}
        for r in rows:
            for k, v in r[7].items():
                phases[k] = phases.get(k, 0) + v
            latest[r[0]] = r
        state = {
            "phase_ms_total": phases,
            "state_rows_total": sum(r[8] for r in latest.values()),
            "state_memory_bytes": sum(r[9] for r in latest.values()),
            "state_commit_ms_total": sum(r[10] for r in rows),
            "state_shuffle_partitions": sum(r[11] for r in latest.values()),
        }
        if not rows:
            return json.dumps(
                {"n_batches": 0, "total_rows": 0, "avg_trigger_ms": None,
                 "max_trigger_ms": None, "avg_rows_per_sec": None, **state}
            )
        triggers = [r[6] for r in rows]
        return json.dumps(
            {
                "n_batches": len(rows),
                "total_rows": sum(r[3] for r in rows),
                "avg_trigger_ms": round(sum(triggers) / len(triggers), 3),
                "max_trigger_ms": max(triggers),
                "avg_rows_per_sec": round(
                    sum(r[4] for r in rows) / len(rows), 3
                ),
                **state,
            }
        )
