"""Rule-engine scoring as pure Column expressions.

The reference implements these as row-at-a-time Python UDFs
(/root/reference/jobs/spark_mood_tracker.py:93-111 ``label_mood``,
/root/reference/jobs/spark_traffic_consumer.py:27-32 traffic scoring).
Here they are ``F.when`` chains: Catalyst folds them into whole-stage
codegen, so at 100 TB the scoring costs nothing beyond the scan —
there is no Python round-trip per row.

The exact averages below (``dsum``/``davg``) sum in DECIMAL, so the
result does not depend on partition order: a batch run, a streaming
run and the DuckDB oracle (``davg_sql``) agree bit for bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Weather code taxonomy — order matches the reference producer's map
# (weather_producer.py:17-40); the weather producers and the registry's
# weather decode pick codes by index into it.
WEATHER_CODES = [
    "clear",
    "mainly_clear",
    "partly_cloudy",
    "overcast",
    "fog",
    "depositing_rime_fog",
    "drizzle_light",
    "drizzle_moderate",
    "drizzle_dense",
    "rain_slight",
    "rain_moderate",
    "rain_heavy",
    "snow_slight",
    "snow_moderate",
    "snow_heavy",
    "rain_showers_slight",
    "rain_showers_moderate",
    "rain_showers_heavy",
    "snow_showers_slight",
    "snow_showers_heavy",
    "thunderstorm",
    "thunderstorm_with_hail",
]

# Mood rule weather classes — spark_mood_tracker.py:81-90.
RELAXING_WEATHER = ["clear", "mainly_clear", "partly_cloudy"]
STRESSFUL_WEATHER = [
    "overcast",
    "fog",
    "depositing_rime_fog",
    "drizzle_light",
    "drizzle_moderate",
    "drizzle_dense",
    "rain_slight",
    "rain_moderate",
    "rain_heavy",
    "rain_showers_slight",
    "rain_showers_moderate",
    "rain_showers_heavy",
    "snow_slight",
    "snow_moderate",
    "snow_heavy",
    "snow_showers_slight",
    "snow_showers_heavy",
    "thunderstorm",
    "thunderstorm_with_hail",
]


def dsum(c: Column, scale: int = 2) -> Column:
    """exact decimal sum → double (partition-order independent)."""
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def davg(c: Column, scale: int = 6) -> Column:
    """exact-sum / count average — bitwise equal across engines."""
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double") / F.count(c)


def davg_sql(x: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({x} AS DECIMAL(18,{scale}))) AS DOUBLE)/COUNT({x})"


def traffic_condition(speed: Column) -> Column:
    """speed<30 → heavy, <60 → moderate, else light (traffic consumer)."""
    return (
        F.when(speed < 30, F.lit("heavy"))
        .when(speed < 60, F.lit("moderate"))
        .otherwise(F.lit("light"))
    )


def mood_label(avg_speed: Column, weather: Column, sentiment: Column) -> Column:
    """Mood rule engine, order-faithful to ``label_mood``.

    Null speed/weather → unknown; negative sentiment → tense;
    fast+relaxing → relaxed; slow+stressful → stressed;
    slow+relaxing → slowed_but_chill; fast+stressful → fast_but_gloomy;
    else normal.
    """
    relaxing = weather.isin(RELAXING_WEATHER)
    stressful = weather.isin(STRESSFUL_WEATHER)
    return (
        F.when(avg_speed.isNull() | weather.isNull(), F.lit("unknown"))
        .when(sentiment == "negative", F.lit("tense"))
        .when((avg_speed > 60) & relaxing, F.lit("relaxed"))
        .when((avg_speed < 30) & stressful, F.lit("stressed"))
        .when((avg_speed < 30) & relaxing, F.lit("slowed_but_chill"))
        .when((avg_speed > 60) & stressful, F.lit("fast_but_gloomy"))
        .otherwise(F.lit("normal"))
    )


def mood_label_sql(avg_speed: str, weather: str, sentiment: str) -> str:
    """ANSI-SQL rendering of the same rule engine (for oracles/tests)."""
    relaxing = ", ".join(f"'{w}'" for w in RELAXING_WEATHER)
    stressful = ", ".join(f"'{w}'" for w in STRESSFUL_WEATHER)
    return f"""CASE
        WHEN {avg_speed} IS NULL OR {weather} IS NULL THEN 'unknown'
        WHEN {sentiment} = 'negative' THEN 'tense'
        WHEN {avg_speed} > 60 AND {weather} IN ({relaxing}) THEN 'relaxed'
        WHEN {avg_speed} < 30 AND {weather} IN ({stressful}) THEN 'stressed'
        WHEN {avg_speed} < 30 AND {weather} IN ({relaxing}) THEN 'slowed_but_chill'
        WHEN {avg_speed} > 60 AND {weather} IN ({stressful}) THEN 'fast_but_gloomy'
        ELSE 'normal'
    END"""


def traffic_condition_sql(speed: str) -> str:
    return (
        f"CASE WHEN {speed} < 30 THEN 'heavy' "
        f"WHEN {speed} < 60 THEN 'moderate' ELSE 'light' END"
    )


def valid_mood_record() -> Column:
    """The mood export's validity predicate (ref load_to_postgres):
    non-null event_time, intersection and weather, avg_speed > 0."""
    return (
        F.col("event_time").isNotNull()
        & F.col("intersection").isNotNull()
        & F.col("weather").isNotNull()
        & (F.col("avg_speed") > 0)
    )
