"""Streaming observability: a StreamingQueryListener that records
per-micro-batch progress (rows, throughput, state size, durations).

The reference stack watches its pipeline from the outside (Kafka UI +
Mongo Express containers in docker-compose.yml); Spark exposes richer
engine-side signals — input rows per trigger, processedRowsPerSecond,
stateOperators numRowsTotal/numRowsUpdated/memoryUsedBytes, the state
checkpoint's commitTimeMs and late rows numRowsDroppedByWatermark,
per-phase durationMs —
through the listener API. ``ProgressRecorder`` turns those into plain
dicts (in memory, optionally appended to a JSONL file) so tests,
dashboards, or alert rules can consume them without scraping logs.

State-rows growth is THE 100 TB health metric for stateful queries: a
watermark that never advances shows up here as numRowsTotal climbing
monotonically.
"""

from __future__ import annotations

import json

from pyspark.sql.streaming import StreamingQueryListener


class ProgressRecorder(StreamingQueryListener):
    """Collects one dict per micro-batch progress event.

    Listener callbacks run on the driver's listener-bus thread —
    keep them allocation-light (dict building only, optional file
    append) so they never back-pressure the bus.
    """

    def __init__(self, jsonl_path: str | None = None):
        self.progress: list[dict] = []
        self.terminated: list[dict] = []
        self._path = jsonl_path

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        rec = {
            "query_id": str(p.id),
            "name": p.name,
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "num_input_rows": p.numInputRows,
            "input_rows_per_sec": p.inputRowsPerSecond,
            "processed_rows_per_sec": p.processedRowsPerSecond,
            "duration_ms": dict(p.durationMs or {}),
            "state_rows_total": sum(s.numRowsTotal for s in ops),
            "state_rows_updated": sum(s.numRowsUpdated for s in ops),
            "state_memory_bytes": sum(s.memoryUsedBytes for s in ops),
            "state_commit_ms": sum(s.commitTimeMs for s in ops),
            "rows_dropped_by_watermark": sum(
                s.numRowsDroppedByWatermark for s in ops
            ),
        }
        self.progress.append(rec)
        if self._path:
            with open(self._path, "a") as fh:
                fh.write(json.dumps(rec, default=str) + "\n")

    def onQueryTerminated(self, event) -> None:
        self.terminated.append(
            {"query_id": str(event.id), "exception": event.exception}
        )

    def onQueryIdle(self, event) -> None:
        pass


def attach_recorder(spark, jsonl_path: str | None = None) -> ProgressRecorder:
    """Register a ProgressRecorder on the session's listener bus.
    Detach with ``spark.streams.removeListener(recorder)`` when done
    (tests must, or recorders leak across cases)."""
    rec = ProgressRecorder(jsonl_path)
    spark.streams.addListener(rec)
    return rec
