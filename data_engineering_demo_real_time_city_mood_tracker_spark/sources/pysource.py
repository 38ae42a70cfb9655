"""City-mood event streams as a REGISTERED Spark data source — the
Spark 4 Python Data Source API surface (`spark.dataSource.register` →
``spark.read.format("citymood")`` / ``spark.readStream.format(
"citymood")``), wrapping the same deterministic generation as the
Column-expression producer twins (streaming/producers.py; ref
traffic_producer.py / weather_producer.py / news_producer.py).

Why both surfaces exist: the Column twins compose into existing plans
(backfill via spark.range, load-gen via the rate source), while this
DataSource gives the reference's users the ergonomic they actually
had — "point a reader at the feed" — with no plan assembly. Batch
reads partition the id range evenly (no driver loop, any volume);
the stream reader is a SimpleDataSourceStreamReader whose offset IS
the row id, so replays regenerate byte-identical rows (deterministic
md5 generation — exactly-once without a write-ahead log).

Determinism contract: every value is a pure function of the row id,
replicated here with hashlib.md5 EXACTLY as the Column twins compute
it JVM-side (same salt strings, same hex-prefix decode, same integer
ranges, same IEEE double arithmetic) — asserted bitwise by
tests/test_pysource.py.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from data_engineering_demo_real_time_city_mood_tracker_spark.functions.scoring import WEATHER_CODES
from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.producers import INTERSECTIONS, SAMPLE_NEWS

SCHEMAS = {
    "traffic": (
        "intersection string, vehicle_id string, speed double, "
        "timestamp string"
    ),
    "weather": "timestamp string, temp double, windspeed double, weather string",
    "news": "timestamp string, headline string, sentiment string",
}


def _hash_long(salt: str, i: int) -> int:
    """python twin of producers._hash_long: first 8 hex chars of
    md5('salt:id') as an integer — identical value by construction."""
    return int(hashlib.md5(f"{salt}:{i}".encode()).hexdigest()[:8], 16)


def _pick(choices, salt: str, i: int) -> str:
    return choices[_hash_long(salt, i) % len(choices)]


def _ts(start: datetime, i: int, interval_sec: int) -> str:
    t = (start + timedelta(seconds=i * interval_sec)).replace(
        second=0, microsecond=0
    )
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _gen(kind: str, lo: int, hi: int, start: datetime, interval_sec: int):
    """rows [lo, hi) of the ``kind`` feed — each a pure function of the
    row id (the md5 determinism contract)."""
    if kind == "traffic":
        for i in range(lo, hi):
            yield (
                _pick(INTERSECTIONS, "int", i),
                f"veh-{_hash_long('veh', i) % 9000 + 1000}",
                (_hash_long("speed", i) % 8000) / 100.0 + 10.0,
                _ts(start, i, interval_sec),
            )
    elif kind == "weather":
        codes = WEATHER_CODES
        for i in range(lo, hi):
            yield (
                _ts(start, i, interval_sec),
                (_hash_long("temp", i) % 400) / 10.0 - 5.0,
                (_hash_long("wind", i) % 300) / 10.0,
                _pick(codes, "wx", i),
            )
    elif kind == "news":
        for i in range(lo, hi):
            idx = _hash_long("news", i) % len(SAMPLE_NEWS)
            yield (_ts(start, i, interval_sec), *SAMPLE_NEWS[idx])
    else:  # pragma: no cover - guarded in schema()
        raise ValueError(f"unknown kind {kind!r}")


class _Range(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo, self.hi = lo, hi


def _opts(options) -> tuple[str, datetime, int]:
    kind = options.get("kind", "traffic")
    if kind not in SCHEMAS:
        raise ValueError(f"kind must be one of {sorted(SCHEMAS)}, got {kind!r}")
    start = datetime.fromisoformat(
        options.get("start_ts", "2024-01-01 00:00:00")
    )
    return kind, start, int(options.get("interval_sec", "1"))


class CityMoodBatchReader(DataSourceReader):
    def __init__(self, options):
        self.kind, self.start, self.interval = _opts(options)
        self.n = int(options.get("n", "1000"))
        self.n_partitions = int(options.get("partitions", "8"))

    def partitions(self):
        per = max(1, -(-self.n // self.n_partitions))  # ceil
        return [
            _Range(lo, min(lo + per, self.n))
            for lo in range(0, self.n, per)
        ]

    def read(self, partition: _Range):
        yield from _gen(
            self.kind, partition.lo, partition.hi, self.start, self.interval
        )


class CityMoodStreamReader(SimpleDataSourceStreamReader):
    """offset == next row id. Replays (readBetweenOffsets) regenerate
    the same rows from the same ids — determinism IS the recovery
    story, no cache or WAL needed."""

    def __init__(self, options):
        self.kind, self.start, self.interval = _opts(options)
        self.rows_per_batch = int(options.get("rows_per_batch", "100"))
        # optional bound: a finite feed lets processAllAvailable /
        # availableNow triggers terminate (unbounded by default, like
        # the reference's 1 Hz forever-loops)
        self.max_rows = int(options.get("max_rows", "-1"))

    def initialOffset(self):
        return {"offset": 0}

    def read(self, start):
        lo = start["offset"]
        hi = lo + self.rows_per_batch
        if self.max_rows >= 0:
            hi = min(hi, self.max_rows)
        if hi <= lo:
            return iter(()), {"offset": lo}
        # a plain iterator (not a generator): the simple-reader wrapper
        # consumes it into a picklable prefetch cache, and generators
        # can't be pickled when the cache entry is shipped
        return (
            iter(list(_gen(self.kind, lo, hi, self.start, self.interval))),
            {"offset": hi},
        )

    def readBetweenOffsets(self, start, end):
        return iter(
            list(
                _gen(
                    self.kind, start["offset"], end["offset"],
                    self.start, self.interval,
                )
            )
        )

    def commit(self, end):
        pass  # nothing to clean up: regeneration replaces retention


class CityMoodDataSource(DataSource):
    """``spark.read.format("citymood")`` options:

    - kind: traffic | weather | news (default traffic)
    - n: batch row count (default 1000); partitions: split count (8)
    - start_ts / interval_sec: event-time spacing (1 Hz from
      2024-01-01, the reference producers' cadence)
    - rows_per_batch: micro-batch size for the stream reader (100)
    """

    @classmethod
    def name(cls) -> str:
        return "citymood"

    def schema(self) -> str:
        kind = self.options.get("kind", "traffic")
        if kind not in SCHEMAS:
            raise ValueError(
                f"kind must be one of {sorted(SCHEMAS)}, got {kind!r}"
            )
        return SCHEMAS[kind]

    def reader(self, schema) -> DataSourceReader:
        return CityMoodBatchReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return CityMoodStreamReader(self.options)


def register(spark) -> None:
    """idempotent ``spark.dataSource.register`` hook."""
    spark.dataSource.register(CityMoodDataSource)
