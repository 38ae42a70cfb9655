"""Stream-stream joins with watermarked time-range conditions.

The reference joins its three streams only AFTER per-minute
aggregation (spark_mood_tracker.py's two left joins on event_time).
The per-event form — every traffic event enriched with the weather
readings in force at that moment — needs a genuine stream-stream
interval join. Spark refuses stream-stream joins without an equality
predicate (state would be all-pairs), so the range is banded into
tolerance-width time buckets: readings are exploded to the two buckets
they can serve, the join is an equi-join on the bucket, and the exact
(event_time - tolerance, event_time] bound is a residual filter.

State stays bounded two ways: the bucket key shards the exchange, and
the watermark + time-range condition lets Spark evict rows once no
future match is possible — per-partition state ∝ rate × (watermark +
tolerance), not stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_with_latest(
    events: DataFrame,
    readings: DataFrame,
    tolerance_sec: int = 300,
    watermark: str = "2 minutes",
    time_col: str = "event_time",
    how: str = "inner",
) -> DataFrame:
    """Interval join: event ⋈ every reading in
    (event_time - tolerance_sec, event_time].  Works identically on
    batch frames (watermarks are no-ops there) so tests can assert
    stream == batch on a replayed source.

    A reading at time r serves events in [r, r + tolerance), which
    spans exactly two tolerance-width buckets — the explode factor is
    a constant 2, independent of rates. When a natural key exists
    (city/region), add it to the join for finer state sharding.

    ``how="left_outer"`` keeps events with NO reading in the window:
    the event side is never exploded (one state row per event), so
    outer semantics are exact; Spark emits the null-enriched row once
    the watermark guarantees no future reading can match. Outer
    stream-stream joins REQUIRE the watermark + time-range condition —
    that is what bounds the state that decides "no match ever".
    """
    spark_how = {"inner": "inner", "left_outer": "leftOuter"}[how]
    bucket = lambda c: F.floor(F.unix_timestamp(c) / F.lit(tolerance_sec))  # noqa: E731
    ev = events.withWatermark(time_col, watermark) if events.isStreaming else events
    ev = ev.withColumn("t_bucket", bucket(F.col(time_col)))

    rd = readings.select(
        F.col(time_col).alias("reading_time"),
        *[c for c in readings.columns if c != time_col],
    )
    rd = rd.withWatermark("reading_time", watermark) if readings.isStreaming else rd
    rd = rd.select(
        "*", F.explode(F.array(F.lit(0), F.lit(1))).alias("_boff")
    ).withColumn("r_bucket", bucket(F.col("reading_time")) + F.col("_boff"))

    cond = (
        (F.col("t_bucket") == F.col("r_bucket"))
        & (F.col("reading_time") <= F.col(time_col))
        & (
            F.col("reading_time")
            > F.col(time_col) - F.expr(f"INTERVAL {tolerance_sec} SECONDS")
        )
    )
    return ev.join(rd, cond, spark_how).drop("t_bucket", "r_bucket", "_boff")


def enrich_with_static(
    stream: DataFrame,
    dim: DataFrame,
    on: list[str] | str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join — the streaming twin of every
    consumer's dimension lookup (the reference does this per event in
    Python; here the static side is a broadcast hash table evaluated
    inside each micro-batch, no state, no shuffle of the stream).

    The static side is re-resolved per micro-batch, so a dim table
    refreshed in place (e.g. a parquet dir overwritten by a slow-moving
    upsert job) is picked up without restarting the query. At 100 TB
    the stream side never exchanges: broadcast keeps the join map-side.
    """
    return stream.join(F.broadcast(dim), on, how)


def join_windowed_aggs(
    left: DataFrame,
    right: DataFrame,
    left_agg,
    right_agg,
    time_col: str = "event_time",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    how: str = "full_outer",
) -> DataFrame:
    """Windowed-aggregate stream-stream join — the streaming twin of
    the batch ``full_outer_minutes`` query (and of the reference's
    minute-agg left joins, jobs/spark_mood_tracker.py:64-79, upgraded
    to any join type including FULL OUTER).

    Each side is aggregated per event-time window first, then the two
    window-keyed aggregates are joined on window equality. This is the
    chained-stateful-operator pattern (windowed agg → window join)
    Spark supports natively from 3.5: the window struct carries the
    event-time semantics, so outer rows flush exactly when the
    watermark passes the window end — no banding/explode needed (state
    is one row per window per side, not per event, so an outer join
    here is exact on BOTH sides, unlike per-event interval joins where
    the exploded side would double-emit).

    At scale: the join keys on the window struct — state and shuffle
    are proportional to #windows × key-cardinality, independent of
    event rate. Works identically on batch frames (watermarks no-op)
    so tests assert stream == batch.
    """
    spark_how = {
        "inner": "inner",
        "left_outer": "leftOuter",
        "full_outer": "fullOuter",
    }[how]

    def win_agg(df: DataFrame, agg) -> DataFrame:
        d = df.withWatermark(time_col, watermark) if df.isStreaming else df
        return d.groupBy(F.window(time_col, window)).agg(agg)

    la = win_agg(left, left_agg)
    ra = win_agg(right, right_agg)
    out_cols = [c for c in la.columns + ra.columns if c != "window"]
    return (
        la.join(ra, ["window"], spark_how)
        .select(F.col("window.start").alias("minute"), *out_cols)
    )
