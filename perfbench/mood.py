"""Stream-replay workloads: generated topics through the program's
streaming entry points into the document sink.

    text file source (maxFilesPerTrigger=1) → streaming.sources.parse_*
      → streaming.mood_pipeline.mood_stream → writeStream.foreachBatch(
        streaming.sinks.document_sink(jsonl_writer_factory(out), commit_log_dir=…))

The replay is a closed-loop drain: every topic file exists before the
query starts and the query runs with ``availableNow``, so it reads one
file per topic per trigger until the topics are exhausted and then
stops on its own.
"""

from __future__ import annotations

import glob
import json
import os
import time

from batch import canon
from gen import LATE_SHARE, RELAXING, STRESSFUL, WATERMARK_S, Shape, write_topics

PKG = "data_engineering_demo_real_time_city_mood_tracker_spark"


def _pipeline():
    """The program's streaming modules, imported after the session env is set."""
    import importlib

    return (
        importlib.import_module(f"{PKG}.streaming.sources"),
        importlib.import_module(f"{PKG}.streaming.mood_pipeline"),
        importlib.import_module(f"{PKG}.streaming.sinks"),
    )


class MoodReplay:
    """One stream workload. ``prepare`` writes the topics once per run;
    each ``setup``/``run`` pair replays them into a fresh sink."""

    kind = "stream"
    min_passes = 1

    def __init__(self, name: str, shape: Shape, seed: int, work: str):
        self.name = name
        self.shape = shape
        self.seed = seed
        self.work = work
        self.topics = os.path.join(work, "topics")
        self.info: dict = {}
        self.query = None
        self.out = ""
        self.drained: list[str] = []  # sink directories of completed replays
        self.progress: list[dict] = []
        self.wrap_sink = None  # set by the traced run to wrap the batch function

    def sizes(self) -> dict:
        return {
            "keys": self.shape.keys,
            "minutes": self.shape.minutes,
            "traffic_per_minute": self.shape.traffic_per_minute,
            "zipf_s": self.shape.zipf_s,
            "late_share": LATE_SHARE,
            **{f"{t}_events": n for t, n in self.info.get("events", {}).items()},
        }

    def prepare(self) -> None:
        self.info = write_topics(self.topics, self.shape, self.seed)

    def setup(self, spark, rep: int) -> None:
        """Start the query and return when its first trigger has committed."""
        sources, mood_pipeline, sinks = _pipeline()
        rep_dir = os.path.join(self.work, f"rep{rep}")
        self.out = os.path.join(rep_dir, "docs")
        os.makedirs(self.out)

        def topic(name):
            return (
                spark.readStream.format("text")
                .option("maxFilesPerTrigger", 1)
                .load(os.path.join(self.topics, name))
            )

        moods = mood_pipeline.mood_stream(
            sources.parse_traffic(topic("traffic")),
            sources.parse_weather(topic("weather")),
            sources.parse_news(topic("news")),
            self.shape.intersections(),
        )
        write_batch = sinks.document_sink(
            sinks.jsonl_writer_factory(self.out),
            commit_log_dir=os.path.join(rep_dir, "commits"),
        )
        if self.wrap_sink is not None:
            write_batch = self.wrap_sink(write_batch, os.path.join(rep_dir, "commits"))
        self.query = (
            moods.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", os.path.join(rep_dir, "checkpoint"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        while not self.query.recentProgress:
            if not self.query.isActive:
                self.query.awaitTermination()  # raises the query's error
                raise RuntimeError("stream stopped before its first trigger")
            time.sleep(0.002)

    def run(self, spark) -> None:
        """Drain the remaining topic files."""
        self.query.awaitTermination()
        self.progress = [json.loads(p.json) for p in self.query.recentProgress]
        self.query = None
        self.drained.append(self.out)

    def discard(self) -> None:
        """Stop a query that was only started to time its set-up."""
        if self.query is not None:
            self.query.stop()
            self.query = None

    def triggers(self) -> list[dict]:
        """Progress of the measured triggers: those with input, after the first."""
        return [p for p in self.progress if p["numInputRows"] > 0 and p["batchId"] > 0]

    def events(self) -> int:
        return sum(p["numInputRows"] for p in self.triggers())

    @staticmethod
    def documents(out: str) -> list[dict]:
        docs = []
        for path in sorted(glob.glob(os.path.join(out, "*.jsonl"))):
            with open(path) as fh:
                docs.extend(json.loads(line) for line in fh if line.strip())
        return docs

    def check(self) -> tuple[int, int, list[str]]:
        """Compare every completed replay's documents with the DuckDB evaluation."""
        expected = expected_documents(self.topics, self.info["newest"])
        attempted, failed, bad = 0, 0, []
        for out in self.drained:
            a, f, b = compare_documents(self.documents(out), expected)
            attempted, failed, bad = attempted + a, failed + f, bad + b
        return attempted, failed, bad


def _davg(x: str) -> str:
    # exact decimal sum over count: the pipeline's average, bitwise
    return f"CAST(SUM(CAST({x} AS DECIMAL(18,6))) AS DOUBLE)/COUNT({x})"


def _in(xs: list[str]) -> str:
    return ", ".join(f"'{x}'" for x in xs)


def expected_documents(topics: str, newest: str) -> dict:
    """The documents the replay must deliver, by (event_time, intersection).

    Evaluated in DuckDB straight from the topic files: per-minute traffic
    averages per intersection, left-joined with that minute's weather and
    news (weather/news apply to every intersection), the reference mood
    rule, only windows that end at or before the final watermark (newest
    event time minus 2 minutes), and no document with a null field (the
    sink drops those).
    """
    import duckdb

    def src(t, cols):
        return f"read_json('{os.path.join(topics, t)}/*.json', format='newline_delimited', columns={cols})"

    sql = f"""
    WITH t AS (SELECT intersection, speed, CAST("timestamp" AS TIMESTAMP) AS ts
               FROM {src('traffic', "{intersection: 'VARCHAR', vehicle_id: 'VARCHAR', speed: 'DOUBLE', timestamp: 'VARCHAR'}")}),
         w AS (SELECT temp, weather, CAST("timestamp" AS TIMESTAMP) AS ts
               FROM {src('weather', "{timestamp: 'VARCHAR', temp: 'DOUBLE', windspeed: 'DOUBLE', weather: 'VARCHAR'}")}),
         n AS (SELECT sentiment, CAST("timestamp" AS TIMESTAMP) AS ts
               FROM {src('news', "{timestamp: 'VARCHAR', headline: 'VARCHAR', sentiment: 'VARCHAR'}")}),
         tm AS (SELECT date_trunc('minute', ts) AS m, intersection, {_davg('speed')} AS avg_speed
                FROM t GROUP BY 1, 2),
         wm AS (SELECT date_trunc('minute', ts) AS m, {_davg('temp')} AS avg_temp, MIN(weather) AS weather
                FROM w GROUP BY 1),
         nm AS (SELECT date_trunc('minute', ts) AS m, MIN(sentiment) AS sentiment FROM n GROUP BY 1),
         j AS (SELECT tm.m, intersection, avg_speed, avg_temp, weather, sentiment
               FROM tm LEFT JOIN wm ON tm.m = wm.m LEFT JOIN nm ON tm.m = nm.m
               WHERE tm.m + INTERVAL 1 MINUTE <= TIMESTAMP '{newest}' - INTERVAL {WATERMARK_S} SECOND)
    SELECT strftime(m, '%Y-%m-%d %H:%M:%S') AS event_time, intersection, avg_speed, avg_temp,
           weather, sentiment,
           CASE WHEN avg_speed IS NULL OR weather IS NULL THEN 'unknown'
                WHEN sentiment = 'negative' THEN 'tense'
                WHEN avg_speed > 60 AND weather IN ({_in(RELAXING)}) THEN 'relaxed'
                WHEN avg_speed < 30 AND weather IN ({_in(STRESSFUL)}) THEN 'stressed'
                WHEN avg_speed < 30 AND weather IN ({_in(RELAXING)}) THEN 'slowed_but_chill'
                WHEN avg_speed > 60 AND weather IN ({_in(STRESSFUL)}) THEN 'fast_but_gloomy'
                ELSE 'normal' END AS mood
    FROM j
    WHERE avg_temp IS NOT NULL AND weather IS NOT NULL AND sentiment IS NOT NULL
    """
    con = duckdb.connect()
    try:
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = [dict(zip(cols, r)) for r in res.fetchall()]
    finally:
        con.close()
    return {(r["event_time"], r["intersection"]): r for r in rows}


def compare_documents(docs: list[dict], expected: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, examples). Every expected document is an
    operation; a missing, wrong, duplicated or unexpected document fails."""
    seen: dict = {}
    bad: set = set()
    for d in docs:
        key = (d.get("event_time"), d.get("intersection"))
        if key in seen:
            bad.add(key)
        seen[key] = d
    for key, want in expected.items():
        got = seen.get(key)
        if got is None or {k: canon(got.get(k)) for k in want} != {k: canon(v) for k, v in want.items()}:
            bad.add(key)
    bad.update(k for k in seen if k not in expected)
    attempted = len(expected) + sum(1 for k in seen if k not in expected)
    return attempted, len(bad), [f"{t} {i}" for t, i in sorted(bad, key=str)[:5]]
