"""Event-stream schemas, schema-for-schema with the reference producers.

Reference: /root/reference/jobs/spark_mood_tracker.py:11-26 (traffic /
weather / news StructTypes), producers traffic_producer.py:17-24,
weather_producer.py:50-55, news_producer.py:23-30.
"""

from __future__ import annotations

from pyspark.sql.types import DoubleType, StringType, StructType, TimestampType

TRAFFIC_SCHEMA = (
    StructType()
    .add("intersection", StringType())
    .add("vehicle_id", StringType())
    .add("speed", DoubleType())
    .add("timestamp", TimestampType())
)

WEATHER_SCHEMA = (
    StructType()
    .add("timestamp", TimestampType())
    .add("temp", DoubleType())
    .add("windspeed", DoubleType())
    .add("weather", StringType())
)

NEWS_SCHEMA = (
    StructType()
    .add("timestamp", TimestampType())
    .add("headline", StringType())
    .add("sentiment", StringType())
)

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
