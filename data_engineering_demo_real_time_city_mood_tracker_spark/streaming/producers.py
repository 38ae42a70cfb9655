"""Synthetic event producers — schema-for-schema with the reference's
three Kafka producers (traffic_producer.py, weather_producer.py:50-70,
news_producer.py), re-expressed as distributed, deterministic Spark
frames instead of a single-process 1 Hz Python loop.

Two surfaces per stream:
- ``*_events(src)``: pure Column projection over any (id, ts) frame —
  composes with ``spark.range`` for batch/backfill volumes (billions of
  rows generated in parallel, no driver loop) and with the ``rate``
  stream source for live load generation.
- ``to_kafka_json``: the producer's serializer (`json.dumps` →
  ``to_json(struct(...))``) plus the (gated — no broker in the test
  container) Kafka sink wiring.

Determinism: every "random.choice"/"random.uniform" in the reference
becomes an md5-hash pick keyed on the row id — identical output for a
given id across runs, partitionings, and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.functions.scoring import WEATHER_CODES

# ref traffic_producer.py:14 — main streets in Yerevan
INTERSECTIONS = ["north_avenue", "mashtots", "komitas", "tumanyan"]

# ref news_producer.py:13-21
SAMPLE_NEWS = [
    ("Massive protest in city center causes traffic delays.", "negative"),
    ("Sunny day brings more people outside.", "positive"),
    ("Police report a smooth commute this morning.", "positive"),
    ("Heavy rain expected later today.", "neutral"),
    ("Accident reported near Tumanyan intersection.", "negative"),
    ("Public transport strike continues for 3rd day.", "negative"),
    ("Festival on Mashtots draws large crowds.", "positive"),
]


def _hash_long(col, salt: str):
    """uniform 32-bit value from md5(salt:id) — the deterministic stand-in
    for random.*; conv handles the hex→long decode JVM-side."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")


def _pick(col, choices: list[str], salt: str):
    return F.element_at(
        F.array(*[F.lit(c) for c in choices]),
        (_hash_long(col, salt) % len(choices) + 1).cast("int"),
    )


def traffic_events(src: DataFrame, id_col: str = "id", ts_col: str = "ts") -> DataFrame:
    """{intersection, vehicle_id, speed, timestamp} — ref
    traffic_producer.py:17-24 (speed uniform [10, 90) @ 2dp, vehicle id
    veh-1000..9999, minute-floored timestamp)."""
    rid = F.col(id_col)
    return src.select(
        _pick(rid, INTERSECTIONS, "int").alias("intersection"),
        F.concat(F.lit("veh-"), (_hash_long(rid, "veh") % 9000 + 1000).cast("string")).alias("vehicle_id"),
        ((_hash_long(rid, "speed") % 8000).cast("double") / 100.0 + 10.0).alias("speed"),
        F.date_format(F.date_trunc("minute", F.col(ts_col)), "yyyy-MM-dd HH:mm:ss").alias("timestamp"),
    )


def weather_events(src: DataFrame, id_col: str = "id", ts_col: str = "ts") -> DataFrame:
    """{timestamp, temp, windspeed, weather} — ref
    weather_producer.py:50-70 (22-code map; temp/windspeed plausible
    open-meteo ranges, deterministic)."""
    rid = F.col(id_col)
    return src.select(
        F.date_format(F.date_trunc("minute", F.col(ts_col)), "yyyy-MM-dd HH:mm:ss").alias("timestamp"),
        ((_hash_long(rid, "temp") % 400).cast("double") / 10.0 - 5.0).alias("temp"),
        ((_hash_long(rid, "wind") % 300).cast("double") / 10.0).alias("windspeed"),
        _pick(rid, WEATHER_CODES, "wx").alias("weather"),
    )


def news_events(src: DataFrame, id_col: str = "id", ts_col: str = "ts") -> DataFrame:
    """{timestamp, headline, sentiment} — ref news_producer.py:24-32;
    headline and sentiment stay consistent (the reference has a bug
    where headline is an unrelated random dict — we keep the pair
    coherent, which is also what its consumer assumes)."""
    rid = F.col(id_col)
    idx = (_hash_long(rid, "news") % len(SAMPLE_NEWS) + 1).cast("int")
    return src.select(
        F.date_format(F.date_trunc("minute", F.col(ts_col)), "yyyy-MM-dd HH:mm:ss").alias("timestamp"),
        F.element_at(F.array(*[F.lit(h) for h, _ in SAMPLE_NEWS]), idx).alias("headline"),
        F.element_at(F.array(*[F.lit(s) for _, s in SAMPLE_NEWS]), idx).alias("sentiment"),
    )


def batch_source(spark: SparkSession, n: int, start_ts: str, interval_sec: int = 1) -> DataFrame:
    """(id, ts) driver frame: n rows spaced interval_sec apart —
    distributed via spark.range (no driver loop; ~n/parallelism rows
    per task at any n)."""
    return spark.range(n).select(
        "id",
        (F.to_timestamp(F.lit(start_ts)) + F.make_dt_interval(secs=F.col("id") * interval_sec)).alias("ts"),
    )


def rate_source(spark: SparkSession, rows_per_second: int = 1) -> DataFrame:
    """(id, ts) streaming frame from the rate source — the live
    load-generation twin of batch_source (same downstream projections)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(F.col("value").alias("id"), F.col("timestamp").alias("ts"))
    )


def to_kafka_json(df: DataFrame, topic: str, bootstrap_servers: str):
    """json.dumps → Kafka, as a distributed sink (ref producers'
    KafkaProducer serializer). Gated: needs a broker + kafka package on
    the cluster; returns the started query (stream) or writes (batch)."""
    payload = df.select(
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value")
    )
    writer = payload.writeStream if df.isStreaming else payload.write
    return (
        writer.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
    )
