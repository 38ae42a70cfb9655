"""Structured Streaming mood pipeline — the reference's
jobs/spark_mood_tracker.py re-architected Spark-first.

The reference runs three separate per-minute aggregations and then two
stream-stream left joins (spark_mood_tracker.py:64-79). Joining two
streaming *aggregations* needs chained stateful operators and doubles
the state. Here the three streams are unioned into ONE typed frame
(weather/news rows replicated across the known intersection set, a
small bounded factor) and aggregated once with conditional aggregates:

    union → withWatermark → groupBy(window 1min, intersection) → CASE aggs

One stateful operator, one shuffle, state bounded by watermark ×
|intersections|. The same function works on batch frames (watermark is
skipped), which is how stream/batch parity is tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.functions.scoring import davg, mood_label
from data_engineering_demo_real_time_city_mood_tracker_spark.functions.vectors import array_sql, str_sql


def unified_events(
    traffic: DataFrame,
    weather: DataFrame,
    news: DataFrame,
    intersections: list[str],
) -> DataFrame:
    """Union the three typed streams into one frame; weather/news rows
    fan out over the intersection list so a single grouped aggregation
    can produce the per-(minute, intersection) joined view. The list is
    one parsed array literal: one py4j call, not one per intersection.
    """
    fanout = F.explode(F.expr(array_sql(intersections, elem=str_sql)))
    t = traffic.select(
        "event_time",
        F.col("intersection"),
        F.lit("traffic").alias("kind"),
        F.col("speed"),
        F.lit(None).cast("double").alias("temp"),
        F.lit(None).cast("string").alias("weather"),
        F.lit(None).cast("string").alias("sentiment"),
    )
    w = weather.select(
        "event_time",
        fanout.alias("intersection"),
        F.lit("weather").alias("kind"),
        F.lit(None).cast("double").alias("speed"),
        F.col("temp"),
        F.col("weather"),
        F.lit(None).cast("string").alias("sentiment"),
    )
    n = news.select(
        "event_time",
        fanout.alias("intersection"),
        F.lit("news").alias("kind"),
        F.lit(None).cast("double").alias("speed"),
        F.lit(None).cast("double").alias("temp"),
        F.lit(None).cast("string").alias("weather"),
        F.col("sentiment"),
    )
    return t.unionByName(w).unionByName(n)


def mood_stream(
    traffic: DataFrame,
    weather: DataFrame,
    news: DataFrame,
    intersections: list[str],
    watermark: str = "2 minutes",
) -> DataFrame:
    """Per-minute mood per intersection; works on streaming or batch
    inputs. ``min``-deterministic where the reference used first().
    """
    return mood_from_unified(
        unified_events(traffic, weather, news, intersections), watermark
    )


def mood_from_unified(u: DataFrame, watermark: str = "2 minutes") -> DataFrame:
    """Mood aggregation over an already-unified typed frame (see
    unified_events for the shape). Single stateful operator.
    """
    if u.isStreaming:
        u = u.withWatermark("event_time", watermark)
    is_t = F.col("kind") == "traffic"
    is_w = F.col("kind") == "weather"
    is_n = F.col("kind") == "news"
    agg = (
        u.groupBy(F.window("event_time", "1 minute").alias("w"), "intersection")
        .agg(
            F.count(F.when(is_t, 1)).alias("n_traffic"),
            davg(F.when(is_t, F.col("speed"))).alias("avg_speed"),
            davg(F.when(is_w, F.col("temp"))).alias("avg_temp"),
            F.min(F.when(is_w, F.col("weather"))).alias("weather"),
            F.min(F.when(is_n, F.col("sentiment"))).alias("sentiment"),
        )
        .filter(F.col("n_traffic") > 0)  # left-join semantics: traffic drives
    )
    return agg.select(
        F.col("w.start").alias("event_time"),
        "intersection",
        "avg_speed",
        "avg_temp",
        "weather",
        "sentiment",
        mood_label(F.col("avg_speed"), F.col("weather"), F.col("sentiment")).alias(
            "mood"
        ),
    )
