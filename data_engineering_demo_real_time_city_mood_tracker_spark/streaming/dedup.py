"""Streaming deduplication: crawl ingestion against the persistent
dedup index.

The reference stack tolerates duplicate events end-to-end (Mongo
upserts hide them, cf. reference mongo_to_storage.py's re-ingest
path). Exact re-deliveries of one event key are the engine's own
operator, ``withWatermark(...).dropDuplicatesWithinWatermark(keys)``:
state holds one entry per key only until the watermark passes the
event's time. This module covers what that operator cannot: near
duplicates of documents already in the standing corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def dedup_ingest_stream(
    stream_df: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    commit_log_dir: str | None = None,
    **trigger,
):
    """Streaming crawl ingestion with incremental dedup — the composed
    production shape of the persistent dedup index (operators/
    dedup.py:build_dedup_index): each micro-batch is

      1. in-batch exact-deduped (keep lowest id per fingerprint),
      2. probed against the standing index (exact + minhash-LSH near
         matches at ``threshold``); any match drops the doc,
      3. survivors are appended to the index AND written to
         ``out_path`` as parquet,

    so the standing corpus is never re-hashed and every emitted doc is
    novel w.r.t. everything ingested before it. Delivery is
    at-least-once on replays; pass ``commit_log_dir`` to skip
    already-committed batch ids after a checkpoint restart (same
    contract as sinks.document_sink — create/clear the log together
    with the checkpoint).

    Returns the StreamingQuery.
    """
    import os

    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import dedup as D

    def ingest_batch(batch: DataFrame, batch_id: int) -> None:
        marker = (
            os.path.join(commit_log_dir, f"batch-{batch_id}.committed")
            if commit_log_dir
            else None
        )
        if marker and os.path.exists(marker):
            return
        spark = batch.sparkSession
        keep = D.exact_dedup(batch, text_col, id_col).select(
            F.col("keep_id").alias(id_col)
        )
        unique = batch.join(keep, id_col, "left_semi")
        matches, cached = D._query_dedup_index_with_cleanup(
            spark, index_path, unique, text_col, id_col, threshold=threshold
        )
        survivors = unique.join(
            matches.select(F.col("doc_id").alias(id_col)).distinct(),
            id_col,
            "left_anti",
        ).persist()
        try:
            survivors.write.mode("append").parquet(out_path)
            D.append_dedup_index(survivors, text_col, id_col, index_path)
        finally:
            # release the probe's persisted frames too — one leaked
            # cache entry per micro-batch is unbounded on a long stream
            survivors.unpersist()
            for df in cached:
                df.unpersist()
        if marker:
            os.makedirs(commit_log_dir, exist_ok=True)
            with open(marker, "w") as fh:
                fh.write("")

    return (
        stream_df.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
