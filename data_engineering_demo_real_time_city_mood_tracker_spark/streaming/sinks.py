"""Streaming sinks.

``document_sink`` is the reference's foreachBatch→Mongo pattern
(jobs/spark_mood_tracker.py:115-126) with the client injected, so it
is testable without a Mongo server and swappable for any document
store. The real-Mongo factory is import-gated.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def document_sink(
    writer_factory: Callable[[], Callable[[list[dict]], None]],
    drop_nulls: bool = True,
    batch_size: int = 500,
    commit_log_dir: str | None = None,
):
    """Build a foreachBatch function that streams each micro-batch into
    a document store EXECUTOR-SIDE.

    ``writer_factory`` is pickled to the executors and called once per
    partition; it returns an ``insert_many(records)`` callable (one
    client per partition — the Mongo-recommended pattern). If the
    returned writer has a ``.close()``, it is closed when the partition
    finishes. Rows are converted to dicts in ``batch_size`` chunks so a
    partition never materializes fully in Python memory. Each partition
    is a Python task, whose fixed cost ``session.py`` cuts (no zip re-read).

    The reference funnels every batch through driver-side ``toPandas``
    (jobs/spark_mood_tracker.py:115-126); at production stream rates
    that is a driver-OOM. ``foreachPartition`` keeps the same injected,
    serverless-testable shape while records never touch the driver.

    ``commit_log_dir`` upgrades delivery from at-least-once to
    effectively-once for non-transactional stores: foreachBatch can
    re-run a batch after a failure/restart with the SAME batch_id, so
    the sink records each completed batch_id as a marker file and
    SKIPS batch_ids already present — the standard idempotent-
    foreachBatch pattern. (The marker is written AFTER the batch
    succeeds: a crash mid-batch re-runs it, so the per-record writer
    should still upsert by key when true exactly-once is required.)

    LIFETIME WARNING: batch ids are scoped to the query's CHECKPOINT.
    The commit log must be created and deleted together with the
    checkpointLocation — a commit log that survives a cleared/new
    checkpoint would see the restarted batch ids (0, 1, ...) as
    already delivered and silently drop fresh data.
    """

    def write_batch(df: DataFrame, batch_id: int) -> None:
        import os

        from data_engineering_demo_real_time_city_mood_tracker_spark.session import ensure_shipped

        marker = (
            os.path.join(commit_log_dir, f"batch-{batch_id}.committed")
            if commit_log_dir
            else None
        )
        if marker is not None:
            os.makedirs(commit_log_dir, exist_ok=True)
            if os.path.exists(marker):
                return  # replayed batch: already fully delivered

        ensure_shipped(df.sparkSession)
        batch = df.na.drop() if drop_nulls else df

        def write_partition(rows) -> None:
            writer = writer_factory()
            try:
                chunk: list[dict] = []
                for row in rows:
                    chunk.append(row.asDict())
                    if len(chunk) >= batch_size:
                        writer(chunk)
                        chunk = []
                if chunk:
                    writer(chunk)
            finally:
                close = getattr(writer, "close", None)
                if close is not None:
                    close()

        batch.foreachPartition(write_partition)
        if marker is not None:
            with open(marker, "w") as fh:
                fh.write("")

    return write_batch


class _JsonlWriter:
    """Per-partition JSON-lines writer: each partition appends to its
    own uniquely-named file (no cross-partition write contention)."""

    def __init__(self, out_dir: str):
        import os
        import uuid

        self._fh = open(
            os.path.join(out_dir, f"part-{uuid.uuid4().hex}.jsonl"), "a"
        )

    def __call__(self, records: list[dict]) -> None:
        import json

        for rec in records:
            self._fh.write(json.dumps(rec, default=str, sort_keys=True) + "\n")
        self._fh.flush()

    def close(self) -> None:
        self._fh.close()


def jsonl_writer_factory(
    out_dir: str,
) -> Callable[[], Callable[[list[dict]], None]]:
    """Local-filesystem ``writer_factory`` for :func:`document_sink`:
    documents land as JSON-lines files, one file per partition. The
    no-server document sink — used for local runs and as the recording
    sink in tests (executor-side writes are observable as files where
    a driver-side list would never see them)."""
    return lambda: _JsonlWriter(out_dir)


class _MongoWriter:
    """Per-partition Mongo writer: one client for the whole partition."""

    def __init__(self, uri: str, database: str, collection: str):
        from pymongo import MongoClient

        self._client = MongoClient(uri)
        self._coll = self._client[database][collection]

    def __call__(self, records: list[dict]) -> None:
        self._coll.insert_many(records)

    def close(self) -> None:
        self._client.close()


def mongo_writer_factory(
    uri: str = "mongodb://mongo:27017/",
    database: str = "city_mood",
    collection: str = "mood_events",
) -> Callable[[], Callable[[list[dict]], None]]:
    """Mongo ``writer_factory`` for :func:`document_sink` (gated:
    pymongo not in this container). The factory itself only captures
    strings, so it pickles to executors; the client is built lazily on
    the executor, once per partition."""
    try:
        import pymongo  # noqa: F401
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError("pymongo not available in this environment") from exc

    return lambda: _MongoWriter(uri, database, collection)


def start_parquet_sink(df: DataFrame, path: str, checkpoint: str, **trigger):
    """Distributed file sink — the scale path for analytic outputs."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(**trigger)
        .start()
    )


def commit_snapshot_batch(batch, batch_id: int, base: str) -> bool:
    """Commit one micro-batch as an APPEND snapshot, idempotently: if
    the CURRENT manifest already carries this ``batch_id`` the batch
    is a replay (crash landed between the snapshot commit and the
    checkpoint advance — foreachBatch re-delivers only the last
    uncommitted batch, so checking the head of the lineage suffices)
    and nothing is written. Returns True when a commit happened."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import read_json_meta
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.snapshots import (
        _manifest_path,
        current_version,
        write_snapshot,
    )

    spark = batch.sparkSession
    cur = current_version(spark, base)
    if cur is not None:
        man = read_json_meta(spark, _manifest_path(base, cur))
        if man is not None and man.get("batch_id") == batch_id:
            return False  # replayed micro-batch — already committed
    write_snapshot(batch, base, mode="append", extra_meta={"batch_id": batch_id})
    return True


def snapshot_sink_stream(stream_df, base: str, checkpoint: str, **trigger):
    """foreachBatch sink that commits every micro-batch as an APPEND
    snapshot (sources/snapshots.py) via ``commit_snapshot_batch`` —
    exactly-once by idempotent replay. Readers get atomic visibility
    (a half-written micro-batch is never referenced by any manifest)
    and free time travel over the ingest history — each micro-batch
    IS a version. Returns the StreamingQuery."""
    return (
        stream_df.writeStream.foreachBatch(
            lambda batch, bid: commit_snapshot_batch(batch, bid, base)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(**trigger)
        .start()
    )
