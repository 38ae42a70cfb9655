"""Structured Streaming tests: stream/batch parity for the mood
pipeline (file source, availableNow trigger, memory sink), watermarked
append mode, JSON stream parsing, and the foreachBatch document sink.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import uuid

import pytest
from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.functions.scoring import WEATHER_CODES
from data_engineering_demo_real_time_city_mood_tracker_spark.session import scoped_conf
from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table
from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.mood_pipeline import (
    mood_from_unified,
    mood_stream,
    unified_events,
)
from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.sinks import (
    document_sink,
    jsonl_writer_factory,
)
from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.sources import parse_news, parse_traffic, parse_weather

INTERSECTIONS = ["int_0", "int_1", "int_2", "int_3"]


def _typed_frames(spark, sf_dir):
    """events table → the three reference-shaped typed frames."""
    ev = load_table(spark, sf_dir, "events")
    traffic = ev.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("event_time"),
        F.concat(F.lit("int_"), (F.col("user_id") % 4).cast("string")).alias(
            "intersection"
        ),
        F.col("value").alias("speed"),
    )
    k = F.get_json_object("props", "$.k").cast("int")
    weather = ev.filter(F.col("event_type") == "view").select(
        F.col("ts").alias("event_time"),
        F.col("value").alias("temp"),
        F.element_at(F.array(*[F.lit(c) for c in WEATHER_CODES]), (k % 22) + 1).alias(
            "weather"
        ),
    )
    news = ev.filter(F.col("event_type") == "error").select(
        F.col("ts").alias("event_time"),
        F.when(F.col("value") < 150, "negative")
        .when(F.col("value") < 300, "neutral")
        .otherwise("positive")
        .alias("sentiment"),
    )
    return traffic, weather, news


def _write_sorted_chunks(df, path, n_chunks):
    """Write a frame as time-ordered parquet chunk files so the file
    stream replays it roughly in event-time order."""
    df.orderBy("event_time").coalesce(1).write.mode("overwrite").parquet(path)
    return path


def test_stream_matches_batch(spark, sf_dir, tmp_path):
    traffic, weather, news = _typed_frames(spark, sf_dir)
    expected = {
        tuple(str(v) for v in row)
        for row in mood_stream(traffic, weather, news, INTERSECTIONS).collect()
    }
    assert expected, "batch mood result should be non-empty"

    dirs = {}
    for name, df in [("traffic", traffic), ("weather", weather), ("news", news)]:
        d = str(tmp_path / name)
        _write_sorted_chunks(df, d, 3)
        dirs[name] = (d, df.schema)

    streams = {
        name: spark.readStream.schema(schema).parquet(d)
        for name, (d, schema) in dirs.items()
    }
    out = mood_stream(
        streams["traffic"], streams["weather"], streams["news"], INTERSECTIONS
    )
    qname = f"mood_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        tuple(str(v) for v in row) for row in spark.table(qname).collect()
    }
    assert got == expected


def test_unified_events_fans_out_names_that_need_sql_escapes(spark):
    """The intersection list is one SQL array literal: quotes,
    backslashes, commas and non-ASCII names come through unchanged."""
    names = ["a'b", "c\\d", "e,f", "ümlaut"]
    ts = datetime.datetime(2025, 1, 1, 10, 0, 0)
    traffic = spark.createDataFrame([], "event_time timestamp, intersection string, speed double")
    weather = spark.createDataFrame([(ts, 20.0, "clear")], "event_time timestamp, temp double, weather string")
    news = spark.createDataFrame([(ts, "neutral")], "event_time timestamp, sentiment string")
    got = unified_events(traffic, weather, news, names).select("kind", "intersection").collect()
    for kind in ("weather", "news"):
        assert sorted(r.intersection for r in got if r.kind == kind) == sorted(names)


def test_stream_append_mode_with_watermark(spark, sf_dir, tmp_path):
    """append mode emits only watermark-closed windows: with a single
    globally time-ordered source (no late data), the emitted set is a
    non-empty subset of the batch result."""
    traffic, weather, news = _typed_frames(spark, sf_dir)
    unified = unified_events(traffic, weather, news, INTERSECTIONS)
    batch_rows = {
        tuple(str(v) for v in row) for row in mood_from_unified(unified).collect()
    }

    d = str(tmp_path / "unified")
    unified.orderBy("event_time").repartitionByRange(4, "event_time").write.mode(
        "overwrite"
    ).parquet(d)
    stream = (
        spark.readStream.schema(unified.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    out = mood_from_unified(stream)
    qname = f"moodapp_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {tuple(str(v) for v in row) for row in spark.table(qname).collect()}
    assert got, "append mode should emit some closed windows"
    assert got <= batch_rows


def test_watermark_emission_boundary(spark, tmp_path):
    """append mode emits exactly the windows the watermark has passed:
    with events at minutes 0..14 and a 2-minute watermark, windows
    0..11 are emitted (end <= final watermark 10:12) and the still-open
    windows 12..14 are withheld in state.

    (Note: Spark's watermark guarantees on-time data is kept; dropping
    of *late* data is best-effort, so that is deliberately not asserted
    here.)
    """
    import datetime as dt
    import time as _time

    base = dt.datetime(2025, 1, 1, 10, 0, 0)
    ddl = (
        "event_time timestamp, intersection string, kind string, "
        "speed double, temp double, weather string, sentiment string"
    )
    chunk_a = [
        (base + dt.timedelta(minutes=m), "int_0", "traffic", 50.0, None, None, None)
        for m in range(10)
    ]
    chunk_b = [
        (base + dt.timedelta(minutes=m), "int_0", "traffic", 50.0, None, None, None)
        for m in range(10, 15)
    ]

    d = str(tmp_path / "boundary")
    schema = None
    for chunk in [chunk_a, chunk_b]:
        df = spark.createDataFrame(chunk, ddl)
        schema = df.schema
        df.coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.1)  # distinct mtimes → two ordered micro-batches
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
    )
    out = mood_from_unified(stream, watermark="2 minutes")
    qname = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r.event_time for r in spark.table(qname).collect()}
    expected = {base + dt.timedelta(minutes=m) for m in range(12)}
    assert got == expected


def test_parse_streams_from_json(spark):
    """from_json parsing matches the reference producer payloads
    (traffic_producer.py:17-24 etc.)."""
    payloads = [
        json.dumps(
            {
                "intersection": "mashtots",
                "vehicle_id": "veh-1234",
                "speed": 42.5,
                "timestamp": "2025-01-01 10:00:00",
            }
        ),
        json.dumps({"intersection": "komitas", "vehicle_id": "veh-9", "speed": 80.0,
                    "timestamp": "2025-01-01 10:01:00"}),
    ]
    df = spark.createDataFrame([(p,) for p in payloads], ["value"])
    out = parse_traffic(df).collect()
    assert {r.intersection for r in out} == {"mashtots", "komitas"}
    assert all(r.event_time is not None for r in out)

    wp = json.dumps(
        {"timestamp": "2025-01-01 10:00:00", "temp": -3.5, "windspeed": 12.0,
         "weather": "snow_slight"}
    )
    w = parse_weather(spark.createDataFrame([(wp,)], ["value"])).collect()[0]
    assert w.weather == "snow_slight" and w.temp == -3.5

    np_ = json.dumps(
        {"timestamp": "2025-01-01 10:00:00", "headline": "Accident near Tumanyan",
         "sentiment": "negative"}
    )
    n = parse_news(spark.createDataFrame([(np_,)], ["value"])).collect()[0]
    assert n.sentiment == "negative"

    corrupt = parse_traffic(spark.createDataFrame([("{not json",)], ["value"])).collect()
    assert corrupt[0].intersection is None  # PERMISSIVE → null row, no crash


def test_stateful_sessionization_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionizer == batch session_stats for
    every session the stream closes; the per-user open tail session
    stays in state (never emitted without a later event)."""
    import time as _time

    from pyspark.sql import Window

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.sessions import session_stats
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.stateful import sessionize_stream

    GAP = 14400.0
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")

    batch = session_stats(ev, "user_id", "ts", "event_id", gap_sec=int(GAP))
    w = Window.partitionBy("user_id")
    closed_expected = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in batch.withColumn("last_end", F.max("session_end").over(w))
        .filter(F.col("session_end") != F.col("last_end"))
        .collect()
    }
    assert closed_expected, "need at least one closed session in testdata"

    # replay in two event-time-ordered micro-batches (mtime ordering)
    d = str(tmp_path / "sessions")
    cut = ev.select(F.percentile(F.col("ts").cast("double"), 0.5)).first()[0]
    first = ev.filter(F.col("ts").cast("double") <= cut)
    second = ev.filter(F.col("ts").cast("double") > cut)
    first.coalesce(1).write.mode("append").parquet(d)
    _time.sleep(1.1)
    second.coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(d)
    )
    out = sessionize_stream(stream, "user_id", "ts", gap_sec=GAP)
    qname = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in spark.table(qname).collect()
    }
    assert got == closed_expected


def test_builtin_session_window_stream_subset_of_batch(spark, sf_dir, tmp_path):
    """F.session_window streaming agg (append + watermark): emitted
    closed sessions must agree with the batch session_window result."""
    import time as _time

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    gap = "4 hours"

    def sessions(df):
        base = df.withWatermark("ts", "1 minute") if df.isStreaming else df
        return base.groupBy(
            F.session_window("ts", gap).alias("w"), "user_id"
        ).agg(F.count(F.lit(1)).alias("n_events")).select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )

    batch_rows = {
        (r.user_id, str(r.session_start), r.n_events)
        for r in sessions(ev).collect()
    }

    d = str(tmp_path / "sw")
    cut = ev.select(F.percentile(F.col("ts").cast("double"), 0.5)).first()[0]
    ev.filter(F.col("ts").cast("double") <= cut).coalesce(1).write.mode("append").parquet(d)
    _time.sleep(1.1)
    ev.filter(F.col("ts").cast("double") > cut).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(d)
    )
    qname = f"sw_{uuid.uuid4().hex[:8]}"
    q = (
        sessions(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.user_id, str(r.session_start), r.n_events)
        for r in spark.table(qname).collect()
    }
    assert got, "expected some closed session windows"
    assert got <= batch_rows


def _read_recorded(out_dir):
    import json
    import pathlib

    recs = []
    for p in pathlib.Path(out_dir).glob("part-*.jsonl"):
        recs.extend(json.loads(line) for line in p.read_text().splitlines())
    return recs


def test_document_sink_foreachbatch(spark, tmp_path):
    """foreachBatch document sink: the injected per-partition writer
    receives the null-dropped records executor-side (reference
    write_to_mongo semantics, minus the driver collect)."""
    import datetime as dt

    ddl = (
        "event_time timestamp, intersection string, avg_speed double, "
        "avg_temp double, weather string, sentiment string, mood string"
    )
    base = dt.datetime(2025, 1, 1, 10, 0, 0)
    rows = [
        (base, "int_0", 70.0, 20.0, "clear", "positive", "relaxed"),
        (base, "int_1", 20.0, 5.0, "fog", "neutral", "stressed"),
        (base, "int_2", 50.0, None, None, None, "unknown"),  # dropped by na.drop
    ]
    df = spark.createDataFrame(rows, ddl)
    out = tmp_path / "sink"
    out.mkdir()
    sink = document_sink(jsonl_writer_factory(str(out)))
    sink(df, batch_id=0)
    captured = _read_recorded(out)
    assert len(captured) == 2
    assert all(v is not None for rec in captured for v in rec.values())
    assert set(captured[0]) == {
        "event_time", "intersection", "avg_speed", "avg_temp", "weather",
        "sentiment", "mood",
    }


def test_document_sink_parity_with_collect(spark, sf_dir, tmp_path):
    """Executor-side sink parity: foreachPartition emits exactly the
    records a driver-side collect would, across many partitions and
    chunk boundaries (batch_size smaller than partitions)."""
    import json

    df = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .repartition(8)
    )
    out = tmp_path / "sink"
    out.mkdir()
    sink = document_sink(
        jsonl_writer_factory(str(out)), drop_nulls=False, batch_size=100
    )
    sink(df, batch_id=0)
    got = sorted(
        json.dumps(r, sort_keys=True) for r in _read_recorded(str(out))
    )
    expected = sorted(
        json.dumps(
            {k: (str(v) if not isinstance(v, (int, float)) or isinstance(v, bool) else v)
             for k, v in row.asDict().items()},
            default=str, sort_keys=True,
        )
        for row in df.collect()
    )
    assert len(got) == len(expected)
    assert got == expected


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """watermarked stream-stream interval join emits exactly the pairs
    the batch interval join produces on the same input."""
    import datetime as dt
    import time as _time

    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.joins import enrich_with_latest

    base = dt.datetime(2025, 1, 1, 10, 0, 0)
    traffic_rows = [
        (base + dt.timedelta(minutes=m), f"veh_{m}", 30.0 + m) for m in range(0, 30)
    ]
    weather_rows = [
        (base + dt.timedelta(minutes=m), 5.0 + m, "clear" if m % 2 else "fog")
        for m in range(0, 30, 7)
    ]
    traffic = spark.createDataFrame(
        traffic_rows, "event_time timestamp, vehicle_id string, speed double"
    )
    weather = spark.createDataFrame(
        weather_rows, "event_time timestamp, temp double, weather string"
    )
    expected = {
        (r.vehicle_id, str(r.reading_time))
        for r in enrich_with_latest(traffic, weather).collect()
    }
    assert expected, "batch interval join should match some pairs"

    dirs = {}
    for name, df in [("traffic", traffic), ("weather", weather)]:
        d = str(tmp_path / name)
        df.coalesce(1).write.mode("overwrite").parquet(d)
        dirs[name] = (d, df.schema)
        _time.sleep(0.1)
    t_stream = spark.readStream.schema(dirs["traffic"][1]).parquet(dirs["traffic"][0])
    w_stream = spark.readStream.schema(dirs["weather"][1]).parquet(dirs["weather"][0])
    out = enrich_with_latest(t_stream, w_stream)
    qname = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.vehicle_id, str(r.reading_time)) for r in spark.table(qname).collect()
    }
    assert got == expected


def test_stream_static_enrichment_parity(spark, sf_dir, tmp_path):
    """stream-static broadcast join: per-batch dim lookup must produce
    exactly the batch join's rows on a replayed source."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.joins import enrich_with_static

    traffic, _, _ = _typed_frames(spark, sf_dir)
    zones = spark.createDataFrame(
        [("int_0", "north"), ("int_1", "south"), ("int_2", "east"), ("int_3", "west")],
        "intersection string, zone string",
    )
    agg = lambda df: (  # noqa: E731
        enrich_with_static(df, zones, "intersection")
        .groupBy("zone")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("speed").alias("speed_sum"))
    )
    expected = {tuple(str(v) for v in r) for r in agg(traffic).collect()}

    d = str(tmp_path / "traffic_static")
    traffic.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(traffic.schema).parquet(d)
    qname = f"enrich_{uuid.uuid4().hex[:8]}"
    q = (
        agg(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {tuple(str(v) for v in r) for r in spark.table(qname).collect()}
    assert got == expected


def test_producers_roundtrip_into_consumers(spark):
    """producer frames serialize to JSON that the reference-shaped
    consumer parsers decode losslessly (schema-for-schema parity), and
    the deterministic generators are stable across runs."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming import producers as P
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.sources import parse_news, parse_traffic, parse_weather

    src = P.batch_source(spark, 200, "2024-05-01 00:00:00", interval_sec=1)
    for make, parse, cols in [
        (P.traffic_events, parse_traffic, {"intersection", "vehicle_id", "speed", "event_time"}),
        (P.weather_events, parse_weather, {"temp", "windspeed", "weather", "event_time"}),
        (P.news_events, parse_news, {"headline", "sentiment", "event_time"}),
    ]:
        ev = make(src)
        r1 = sorted(str(r) for r in ev.collect())
        r2 = sorted(str(r) for r in make(src).collect())
        assert r1 == r2, "producer must be deterministic"
        as_json = ev.select(
            F.to_json(F.struct(*[F.col(c) for c in ev.columns])).alias("value")
        )
        parsed = parse(as_json)
        assert set(parsed.columns) == cols
        assert parsed.count() == 200
        assert parsed.filter(F.col("event_time").isNull()).count() == 0

    # value domains match the reference producers
    t = P.traffic_events(src)
    agg = t.agg(F.min("speed"), F.max("speed")).first()
    assert 10.0 <= agg[0] and agg[1] < 90.0
    assert {r.intersection for r in t.select("intersection").distinct().collect()} <= set(P.INTERSECTIONS)


def test_rate_source_wiring(spark):
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming import producers as P

    stream = P.rate_source(spark, rows_per_second=5)
    assert stream.isStreaming
    ev = P.traffic_events(stream)
    assert set(ev.columns) == {"intersection", "vehicle_id", "speed", "timestamp"}


def test_end_to_end_mood_demo(spark, tmp_path):
    """the composed application (producers → JSON topics → consumer
    parsers → mood pipeline → parquet + document sinks) runs end to
    end: both sinks see consistent rows, output is non-empty, and the
    batch evaluation of the same pipeline agrees (streaming==batch
    parity at app level)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming import producers as P
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.app import run_mood_demo

    out = run_mood_demo(spark, str(tmp_path / "demo"), n_events=600)
    assert out["n_mood_rows"] > 0

    pq = {
        (str(r.event_time), r.intersection, str(r.avg_speed), r.mood)
        for r in spark.read.parquet(out["parquet_path"]).collect()
    }
    docs = {
        (r["event_time"], r["intersection"], str(r["avg_speed"]), r["mood"])
        for r in _read_recorded(out["docs_path"])
    }
    assert len(pq) == out["n_mood_rows"]
    # document sink drops null-bearing rows (reference semantics);
    # every doc record must match a parquet row
    assert docs and docs <= pq

    src = P.batch_source(spark, 600, "2025-01-01 10:00:00")
    batch = {
        (str(r.event_time), r.intersection, str(r.avg_speed), r.mood)
        for r in mood_stream(
            P.traffic_events(src).withColumn(
                "event_time", F.to_timestamp("timestamp")
            ),
            P.weather_events(src).withColumn(
                "event_time", F.to_timestamp("timestamp")
            ),
            P.news_events(src).withColumn(
                "event_time", F.to_timestamp("timestamp")
            ),
            P.INTERSECTIONS,
        ).collect()
    }
    # append mode withholds windows the final watermark has not passed
    # (the trailing ~watermark of event time), so the app's output is
    # a strict-or-equal subset of the batch run covering most windows
    assert pq <= batch, "streaming app rows must agree with the batch run"
    assert len(pq) >= len(batch) - len(P.INTERSECTIONS) * 3, (
        f"only {len(pq)}/{len(batch)} windows emitted"
    )


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """restarting a streaming query from its checkpoint resumes where
    it left off: new input files are processed exactly once and
    nothing already written is duplicated (file source offsets + sink
    commit log)."""
    import datetime as dt

    ddl = "event_time timestamp, user_id long, value double"
    base = dt.datetime(2025, 1, 1, 10, 0, 0)

    def mk_rows(lo, hi):
        return [
            (base + dt.timedelta(seconds=i), i % 3, float(i)) for i in range(lo, hi)
        ]

    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    chk_dir = str(tmp_path / "chk")
    spark.createDataFrame(mk_rows(0, 50), ddl).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)

    def run_once():
        stream = spark.readStream.schema(ddl).parquet(src_dir)
        agg = stream.withWatermark("event_time", "0 seconds").select(
            "event_time", "user_id", "value"
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", chk_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    first = spark.read.parquet(out_dir).count()
    assert first == 50

    # second batch of input lands AFTER the first run committed
    spark.createDataFrame(mk_rows(50, 80), ddl).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    run_once()
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 80, "restart must process only the new files"
    assert len({(str(r.event_time), r.user_id, r.value) for r in rows}) == 80, (
        "no row may be duplicated across restarts"
    )

    # idempotent restart with no new input writes nothing
    run_once()
    assert spark.read.parquet(out_dir).count() == 80


def _checkpoint_names(chk_dir):
    """Relative paths of every file under a checkpoint, UUIDs normalised."""
    uid = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
    return sorted(
        uid.sub("<uuid>", os.path.relpath(os.path.join(d, f), chk_dir))
        for d, _dirs, files in os.walk(chk_dir)
        for f in files
    )


def test_checkpoint_managers_write_the_same_files(spark, sf_dir, tmp_path):
    """The session's FileSystem checkpoint manager leaves exactly the
    files Spark's default FileContext manager does (logs, state deltas,
    checksums, Hadoop's .crc files) over a multi-trigger mood replay,
    and the replay emits the same rows."""
    traffic, weather, news = _typed_frames(spark, sf_dir)
    dirs = {}
    for name, df in [("traffic", traffic), ("weather", weather), ("news", news)]:
        d = str(tmp_path / name)
        df.repartitionByRange(3, "event_time").write.parquet(d)
        dirs[name] = (d, df.schema)

    def replay(tag):
        streams = {
            name: spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
            for name, (d, schema) in dirs.items()
        }
        out = mood_stream(streams["traffic"], streams["weather"], streams["news"], INTERSECTIONS)
        qname = f"ckpt_{tag}_{uuid.uuid4().hex[:8]}"
        chk = str(tmp_path / f"chk_{tag}")
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        assert q.lastProgress["batchId"] >= 2, "expected one trigger per input file"
        return _checkpoint_names(chk), sorted(str(r) for r in spark.table(qname).collect())

    names, rows = replay("filesystem")
    file_context = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
    with scoped_conf(spark, {"spark.sql.streaming.checkpointFileManagerClass": file_context}):
        ref_names, ref_rows = replay("filecontext")
    assert any(n.startswith("state/") and n.endswith(".delta") for n in names)
    assert any(n.endswith(".crc") for n in names)
    assert names == ref_names
    assert rows and rows == ref_rows


def test_progress_recorder_captures_metrics(spark, sf_dir, tmp_path):
    """the listener records per-batch input rows, throughput, and
    state-operator size for a stateful query — the engine-side
    observability the reference delegated to external UIs."""
    import time as _time

    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.monitor import attach_recorder

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").alias("event_time"), "user_id", "value"
    )
    d = str(tmp_path / "mon_src")
    ev.coalesce(2).write.mode("overwrite").parquet(d)

    jsonl = str(tmp_path / "progress.jsonl")
    rec = attach_recorder(spark, jsonl)
    try:
        stream = spark.readStream.schema(ev.schema).parquet(d)
        agg = (
            stream.withWatermark("event_time", "1 minute")
            .groupBy(F.window("event_time", "1 minute"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        qname = f"mon_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        # listener bus is async — give it a beat to drain
        for _ in range(50):
            if any(p["num_input_rows"] > 0 for p in rec.progress):
                break
            _time.sleep(0.2)
    finally:
        spark.streams.removeListener(rec)

    fed = [p for p in rec.progress if p["num_input_rows"] > 0]
    assert fed, "expected at least one progress event with input rows"
    assert sum(p["num_input_rows"] for p in fed) == ev.count()
    assert any(p["state_rows_total"] > 0 for p in fed), (
        "stateful agg must report state rows"
    )
    assert any(p["state_memory_bytes"] > 0 for p in fed)
    # one in-watermark pass over the table: no row is late
    assert all(p["rows_dropped_by_watermark"] == 0 for p in rec.progress)
    assert all("triggerExecution" in p["duration_ms"] for p in fed)
    assert all(
        isinstance(p["state_commit_ms"], int) and p["state_commit_ms"] >= 0 for p in fed
    )
    with open(jsonl) as fh:
        lines = [json.loads(line) for line in fh]
    assert len(lines) == len(rec.progress)


@pytest.mark.slow  # excluded from the driver-window gate (pytest.ini); run via -m slow
def test_stream_stream_left_outer_interval_join(spark, tmp_path):
    """left-outer stream-stream interval join: events with a reading
    in-window enrich exactly as the inner join; events with none emit
    once with nulls after the watermark proves no match can arrive —
    and every event appears exactly once."""
    import datetime as dt

    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.joins import enrich_with_latest

    base = dt.datetime(2025, 1, 1, 10, 0, 0)
    # readings at minutes 0/25/28 → events in 10:05..10:24 have nothing
    # in their 5-min window, and — crucially — sit BELOW the final
    # global watermark (min over both sources ≈ 10:27), so their null
    # rows are allowed to flush. (A fixture whose readings stop early
    # would pin the global watermark and withhold every null forever.)
    traffic_rows = [
        (base + dt.timedelta(minutes=m), f"veh_{m}", 30.0 + m) for m in range(0, 30)
    ]
    weather_rows = [
        (base + dt.timedelta(minutes=m), 5.0 + m, "clear") for m in (0, 25, 28)
    ]
    traffic = spark.createDataFrame(
        traffic_rows, "event_time timestamp, vehicle_id string, speed double"
    )
    weather = spark.createDataFrame(
        weather_rows, "event_time timestamp, temp double, weather string"
    )
    batch = enrich_with_latest(traffic, weather, how="left_outer").collect()
    matched_b = {(r.vehicle_id, str(r.reading_time)) for r in batch if r.reading_time}
    unmatched_b = {r.vehicle_id for r in batch if r.reading_time is None}
    assert matched_b and unmatched_b, "fixture must produce both kinds"

    import time as _time

    # outer-join nulls flush only when a LATER micro-batch advances the
    # watermark past the event, so replay traffic as time-ordered
    # chunks (one file per trigger) instead of a single batch
    t_dir = str(tmp_path / "traffic")
    for lo, hi in [(0, 10), (10, 20), (20, 30)]:
        spark.createDataFrame(
            traffic_rows[lo:hi],
            "event_time timestamp, vehicle_id string, speed double",
        ).coalesce(1).write.mode("append").parquet(t_dir)
        _time.sleep(1.1)
    w_dir = str(tmp_path / "weather")
    weather.coalesce(1).write.mode("overwrite").parquet(w_dir)
    t_stream = (
        spark.readStream.schema(traffic.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(t_dir)
    )
    w_stream = spark.readStream.schema(weather.schema).parquet(w_dir)
    out = enrich_with_latest(t_stream, w_stream, how="left_outer")
    qname = f"ssoj_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.table(qname).collect()
    matched_s = {(r.vehicle_id, str(r.reading_time)) for r in rows if r.reading_time}
    unmatched_s = {r.vehicle_id for r in rows if r.reading_time is None}
    assert matched_s == matched_b, "matched pairs must equal the batch join"
    # null-enriched rows emit only once the watermark passes; all that
    # emit must be true batch non-matches, and the early ones must emit
    assert unmatched_s <= unmatched_b
    assert unmatched_s, "some null-enriched events must be emitted"
    per_vehicle = {}
    for r in rows:
        per_vehicle[r.vehicle_id] = per_vehicle.get(r.vehicle_id, 0) + 1
    dup_unmatched = [v for v in unmatched_s if per_vehicle[v] != 1]
    assert not dup_unmatched, f"unmatched events must emit exactly once: {dup_unmatched}"


def test_document_sink_idempotent_batch_replay(spark, sf_dir, tmp_path):
    """with a commit log, replaying a batch_id foreachBatch already
    delivered is a no-op (restart semantics for non-transactional
    document stores); a NEW batch_id still writes."""
    df = load_table(spark, sf_dir, "events").select("event_id", "value").limit(20)
    out = tmp_path / "docs"
    out.mkdir()
    sink = document_sink(
        jsonl_writer_factory(str(out)),
        drop_nulls=False,
        commit_log_dir=str(tmp_path / "commits"),
    )
    sink(df, batch_id=7)
    n1 = len(_read_recorded(str(out)))
    assert n1 == 20
    sink(df, batch_id=7)  # replay after simulated restart
    assert len(_read_recorded(str(out))) == n1, "replayed batch must be skipped"
    sink(df, batch_id=8)
    assert len(_read_recorded(str(out))) == 2 * n1


def test_dedup_ingest_stream_skips_committed_batch_replay(spark, tmp_path):
    """with a commit log, a batch Spark replays after a restart (its
    output landed but Spark's own commit did not) is a no-op: the
    output parquet and the dedup index gain no rows. Without the log
    the replay re-appends its survivors, since the probe ignores a
    doc's match with its own index rows."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import dedup as D
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.dedup import dedup_ingest_stream

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    index = str(tmp_path / "index")
    D.build_dedup_index(corpus, "text", "doc_id", index, k=3, bands=4, rows_per_band=2)
    batch = spark.createDataFrame(
        [(100, "a fresh document with words of its own"),
         (101, "another novel text that matches nothing here")],
        "doc_id long, text string",
    )
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    batch.coalesce(1).write.parquet(src)
    ckpt = tmp_path / "ckpt"

    def run():
        stream = spark.readStream.schema(batch.schema).parquet(src)
        q = dedup_ingest_stream(
            stream, "text", "doc_id", index, out, str(ckpt),
            commit_log_dir=str(tmp_path / "commits"),
        )
        q.awaitTermination(120)
        return (
            spark.read.parquet(out).count(),
            *(spark.read.parquet(f"{index}/{t}").count()
              for t in ("fingerprints", "postings", "shingles")),
        )

    first = run()
    assert first[:2] == (2, 3), first
    # crash between the sink's delivery and Spark's commit: batch 0
    # is replayed under the same id on restart
    for f in ("0", ".0.crc"):
        (ckpt / "commits" / f).unlink(missing_ok=True)
    assert run() == first, "replayed batch must be skipped"
    assert (ckpt / "commits" / "0").exists(), "restart must have replayed batch 0"


@pytest.mark.slow  # excluded from the driver-window gate (pytest.ini); run via -m slow
def test_windowed_full_outer_join_matches_batch(spark, tmp_path):
    """full-outer windowed-agg stream-stream join (chained stateful
    operators): per-minute traffic/weather aggregates full-outer
    joined on the window; emitted rows must equal the batch join for
    every flushed window, including one-sided (null) rows."""
    import datetime as dt
    import time as _time

    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.joins import join_windowed_aggs

    base = dt.datetime(2025, 1, 1, 10, 0, 0)
    # traffic covers minutes 0..29; weather only 0..9 and 25..27 →
    # minutes 10..24 are traffic-only (null temp), and weather minute
    # 28-29 absent entirely. Late tail rows keep the watermark moving.
    traffic_rows = [
        (base + dt.timedelta(minutes=m, seconds=s), 30.0 + m)
        for m in range(0, 30)
        for s in (0, 30)
    ]
    weather_rows = [
        (base + dt.timedelta(minutes=m, seconds=15), 5.0 + m)
        for m in list(range(0, 10)) + [25, 26, 27]
    ]
    traffic = spark.createDataFrame(traffic_rows, "event_time timestamp, speed double")
    weather = spark.createDataFrame(weather_rows, "event_time timestamp, temp double")

    largs = dict(
        left_agg=F.avg("speed").alias("avg_speed"),
        right_agg=F.avg("temp").alias("avg_temp"),
    )
    batch = join_windowed_aggs(traffic, weather, **largs).collect()
    batch_by_min = {str(r.minute): (r.avg_speed, r.avg_temp) for r in batch}
    assert any(r.avg_temp is None for r in batch), "fixture needs traffic-only minutes"

    t_dir, w_dir = str(tmp_path / "t"), str(tmp_path / "w")
    for lo, hi in [(0, 20), (20, 40), (40, 60)]:
        spark.createDataFrame(
            traffic_rows[lo:hi], "event_time timestamp, speed double"
        ).coalesce(1).write.mode("append").parquet(t_dir)
        _time.sleep(1.1)
    weather.coalesce(1).write.mode("overwrite").parquet(w_dir)

    t_stream = (
        spark.readStream.schema(traffic.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(t_dir)
    )
    w_stream = spark.readStream.schema(weather.schema).parquet(w_dir)
    out = join_windowed_aggs(t_stream, w_stream, **largs)
    qname = f"fowj_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.table(qname).collect()
    assert rows, "watermark must flush at least the early windows"
    seen = set()
    for r in rows:
        key = str(r.minute)
        assert key not in seen, f"window {key} emitted twice"
        seen.add(key)
        assert key in batch_by_min, f"window {key} not in batch result"
        assert (r.avg_speed, r.avg_temp) == batch_by_min[key]
    # at least one emitted row must be a one-sided (outer) row
    assert any(r.avg_temp is None for r in rows), "outer rows must flush"


def test_cms_sketch_streaming_merges_to_batch(spark, sf_dir, tmp_path):
    """count-min sketch cells built as an update-mode streaming agg
    (state IS the sketch) must equal the batch-built sketch after all
    micro-batches merge — the mergeability property that makes CMS
    usable as a streaming operator."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.sketches import cms_build

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key")
    )
    batch_cells = {
        (r.i, r.b): r.n for r in cms_build(ev, F.col("key")).collect()
    }

    src = str(tmp_path / "ev")
    # three files → three micro-batches with maxFilesPerTrigger=1
    for i, part in enumerate(ev.randomSplit([1.0, 1.0, 1.0], seed=7)):
        part.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("key string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    cells = cms_build(stream, F.col("key"))
    qname = f"cms_{uuid.uuid4().hex[:8]}"
    q = (
        cells.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    stream_cells = {(r.i, r.b): r.n for r in spark.table(qname).collect()}
    assert stream_cells == batch_cells


@pytest.mark.slow  # excluded from the driver-window gate (pytest.ini); run via -m slow
def test_streaming_dedup_ingest_with_persistent_index(spark, tmp_path):
    """dedup_ingest_stream end-to-end: in-batch exact dups collapse,
    docs matching the standing index (exact or near) are dropped,
    survivors land in the output AND the index — so a second run sees
    the first run's survivors as duplicates."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import dedup as D
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.dedup import dedup_ingest_stream

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    corpus = spark.createDataFrame(
        [(i, " ".join(words[(i + j) % len(words)] for j in range(12)))
         for i in range(20)],
        "doc_id long, text string",
    )
    index = str(tmp_path / "index")
    D.build_dedup_index(corpus, "text", "doc_id", index, k=3, bands=4, rows_per_band=2)

    corpus_rows = {r.doc_id: r.text for r in corpus.collect()}
    batch1 = spark.createDataFrame(
        [
            (100, corpus_rows[3]),                      # exact dup of corpus
            (101, corpus_rows[5] + " extra trailing"),  # near dup of corpus
            (102, "completely novel text that matches nothing else here"),
            (103, "completely novel text that matches nothing else here"),  # in-batch dup of 102
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    batch1.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(batch1.schema).parquet(src)
    q = dedup_ingest_stream(
        stream, "text", "doc_id", index, out, str(tmp_path / "ckpt1"),
        threshold=0.2,
    )
    q.awaitTermination(120)
    got1 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got1 == {102}, f"run 1 survivors: {got1}"

    # run 2: a copy of run 1's survivor must now be caught by the index
    batch2 = spark.createDataFrame(
        [
            (200, "completely novel text that matches nothing else here"),  # dup of 102 via index
            (201, "another genuinely fresh document with its own words"),
        ],
        "doc_id long, text string",
    )
    src2 = str(tmp_path / "src2")
    batch2.coalesce(1).write.mode("append").parquet(src2)
    stream2 = spark.readStream.schema(batch2.schema).parquet(src2)
    q2 = dedup_ingest_stream(
        stream2, "text", "doc_id", index, out, str(tmp_path / "ckpt2"),
        threshold=0.2,
    )
    q2.awaitTermination(120)
    got2 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got2 == {102, 201}, f"after run 2: {got2}"


@pytest.mark.slow  # excluded from the driver-window gate (pytest.ini); run via -m slow
def test_streaming_text_index_ingest_builds_searchable_segments(spark, tmp_path):
    """text_index_ingest_stream: two micro-batches land as two index
    segments; a BM25 probe after the stream sees docs from BOTH and
    ranks them identically to a one-shot index over the union — the
    mergeable-partials property, driven by streaming batch ids."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import retrieval
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.indexing import text_index_ingest_stream

    b1 = spark.createDataFrame(
        [(1, "spark shuffles data across executors"),
         (2, "broadcast joins avoid the shuffle")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "shuffle partitions size the exchange"),
         (4, "columnar scans prune unused data")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    index = str(tmp_path / "tindex")
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = text_index_ingest_stream(
        stream, "text", "doc_id", index, str(tmp_path / "ckpt"),
        availableNow=True,
    )
    q.awaitTermination(120)

    segs = set(retrieval._segment_stats(spark, index))
    assert len(segs) == 2, f"expected one segment per micro-batch, got {segs}"

    queries = [(1, "shuffle"), (1, "data")]
    got = {tuple(r) for r in retrieval.query_text_index(spark, index, queries).collect()}

    once = str(tmp_path / "t_once")
    retrieval.build_text_index(b1.unionByName(b2), "text", "doc_id", once)
    want = {tuple(r) for r in retrieval.query_text_index(spark, once, queries).collect()}
    assert got == want
    assert {d for (_, d, *_) in got} == {1, 2, 3, 4}  # both segments probed


def test_trending_topk_stream_matches_batch(spark, sf_dir, tmp_path):
    """trending_topk_stream: after all micro-batches, the replaced
    output table equals the batch computation of the same windowed
    top-k over the same rows (complete mode ⇒ late batches re-rank
    earlier windows correctly)."""
    from pyspark.sql import Window

    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.trending import trending_topk_stream

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    src = str(tmp_path / "ev")
    for part in ev.randomSplit([1.0, 1.0], seed=3):
        part.coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "trend")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = trending_topk_stream(
        stream, "ts", "event_type", out, str(tmp_path / "ckpt"),
        window="5 minutes", k=3, availableNow=True,
    )
    q.awaitTermination(120)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    w = Window.partitionBy("win").orderBy(F.col("n").desc(), F.col("key"))
    want = {
        tuple(r)
        for r in spark.read.parquet(src)
        .groupBy(
            F.window("ts", "5 minutes").alias("win"),
            F.col("event_type").alias("key"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(F.col("win.start").alias("window_start"), "key", "n",
                F.col("rnk").cast("long").alias("rnk"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_seasonal_alert_stream_matches_batch(spark, sf_dir, tmp_path):
    """stream-static seasonal alerting: the streamed alert set equals
    applying the same profile join + deviation filter to the batch
    frame (stateless map-only enrichment ⇒ exact append-mode parity)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.alerts import seasonal_alert_stream

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    # profile deliberately lacks the 'error' type: every error event
    # must still alert (reason=no_profile) — unseen keys are the
    # strongest anomaly signal and must not vanish in the join
    prof = (
        ev.filter(F.col("event_type") != "error")
        .groupBy(F.col("event_type"), F.hour("ts").alias("hod"))
        .agg(F.avg("value").alias("expected"))
    )

    batch = seasonal_alert_stream(ev, prof, "ts", "event_type", "value", 150.0)
    want = {tuple(r) for r in batch.select("event_id", "deviation").collect()}
    assert want, "expected some alerts at threshold 150"
    by_reason = {
        r.event_type: r.reason
        for r in batch.select("event_type", "reason").distinct().collect()
    }
    assert by_reason.get("error") == "no_profile"
    n_errors = ev.filter(F.col("event_type") == "error").count()
    assert (
        batch.filter(F.col("reason") == "no_profile").count() == n_errors
    ), "every unseen-profile event must alert"

    src = str(tmp_path / "ev")
    ev.coalesce(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    alerts = seasonal_alert_stream(stream, prof, "ts", "event_type", "value", 150.0)
    qname = f"alerts_{uuid.uuid4().hex[:8]}"
    q = (
        alerts.select("event_id", "deviation")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.table(qname).collect()}
    assert got == want


def test_incremental_agg_stream_matches_batch_and_replays_safely(spark, sf_dir, tmp_path):
    """incremental_agg_stream: after the stream drains, the standing
    base table equals a from-scratch batch aggregation (counts exact,
    decimal sums bitwise as double); restarting from the finished
    checkpoint merges nothing twice (commit-log + checkpoint replay
    safety)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.aggregation import incremental_agg_stream

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    src = str(tmp_path / "ev")
    for part in ev.randomSplit([1.0, 1.0, 1.0], seed=11):
        part.coalesce(1).write.mode("append").parquet(src)

    base = str(tmp_path / "agg_base")
    ckpt = str(tmp_path / "ckpt")
    log = str(tmp_path / "commits")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = incremental_agg_stream(
        stream, ["event_type"], "value", base, ckpt, log, availableNow=True
    )
    q.awaitTermination(120)

    def snap():
        return {
            r.event_type: (r.n, float(r.value_sum))
            for r in spark.read.parquet(base).collect()
        }

    got = snap()
    want = {
        r.event_type: (r.n, float(r.value_sum))
        for r in spark.read.parquet(src)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("value_sum"),
        )
        .collect()
    }
    assert got == want

    # restart from the completed checkpoint: nothing re-merges
    stream2 = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q2 = incremental_agg_stream(
        stream2, ["event_type"], "value", base, ckpt, log, availableNow=True
    )
    q2.awaitTermination(120)
    assert snap() == want

    # crash-after-commit replay: the versioned base's own _committed.json
    # is the commit record, so even with every external marker gone (the
    # crash-between-flip-and-marker window) a replay of the same batch
    # ids merges nothing twice.
    import shutil as _sh

    _sh.rmtree(log)
    _sh.rmtree(ckpt)
    stream3 = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q3 = incremental_agg_stream(
        stream3, ["event_type"], "value", base, str(tmp_path / "ckpt3"), log,
        availableNow=True,
    )
    q3.awaitTermination(120)
    assert snap() == want


def test_incremental_agg_stream_recovers_legacy_crash_window(spark, sf_dir, tmp_path):
    """If a legacy-layout crash left base_path missing with the standing
    aggregate stranded in ``__agg_old`` (ADVICE r2), the next run
    restores it before merging — the old partials are never discarded."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.aggregation import incremental_agg_stream

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    old_part, new_part = ev.randomSplit([1.0, 1.0], seed=7)

    base = str(tmp_path / "agg_base")
    # the stranded pre-crash base: aggregate of old_part, parked at __agg_old
    old_part.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("value_sum"),
    ).write.parquet(f"{base}__agg_old")

    src = str(tmp_path / "ev")
    new_part.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = incremental_agg_stream(
        stream, ["event_type"], "value", base,
        str(tmp_path / "ckpt"), str(tmp_path / "commits"), availableNow=True,
    )
    q.awaitTermination(120)

    got = {
        r.event_type: (r.n, float(r.value_sum))
        for r in spark.read.parquet(base).collect()
    }
    want = {
        r.event_type: (r.n, float(r.value_sum))
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("value_sum"),
        )
        .collect()
    }
    assert got == want


def test_hll_distinct_stream_matches_batch_exactly(spark, sf_dir, tmp_path):
    """streaming HLL registers: drained update-mode stream state ==
    batch register table BITWISE (max merges across micro-batches),
    so the distinct-count estimate is IDENTICAL to the batch one —
    and the state is m=32 rows per group, not O(distinct keys)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.sketches import (
        HLL_M,
        hll_estimate_from_registers,
        hll_register_rows,
    )
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.aggregation import hll_distinct_stream

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    src = str(tmp_path / "ev")
    for part in ev.randomSplit([1.0, 1.0, 1.0], seed=7):
        part.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    regs = hll_distinct_stream(stream, ["event_type"], "user_id")
    q = (
        regs.writeStream.format("memory")
        .queryName("hll_regs")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("hll_regs")

    batch = (
        hll_register_rows(ev, ["event_type"], F.col("user_id"))
        .groupBy("event_type", "idx")
        .agg(F.max("rnk").alias("m"))
    )
    key = lambda df: {
        (r.event_type, r.idx): r.m for r in df.collect()
    }
    assert key(streamed) == key(batch)  # registers bitwise equal
    # per-group state is register-bounded
    per_group = streamed.groupBy("event_type").count().collect()
    assert all(r["count"] <= HLL_M for r in per_group)

    est = lambda df: {
        r.event_type: r.est
        for r in hll_estimate_from_registers(df, ["event_type"], "est").collect()
    }
    assert est(streamed) == est(batch)  # estimates identical, not approx


def test_snapshot_sink_stream_exactly_once_on_replay(spark, sf_dir, tmp_path):
    """snapshot sink: each micro-batch commits as one snapshot
    version, and a replayed batch (the crash window between the
    snapshot commit and the checkpoint advance — foreachBatch
    re-delivers the last uncommitted batch_id) is recognized via the
    manifest's batch_id and skipped: counts and version unchanged."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.snapshots import current_version, read_snapshot
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.sinks import (
        commit_snapshot_batch,
        snapshot_sink_stream,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    src = str(tmp_path / "src")
    for part in ev.randomSplit([1.0, 1.0, 1.0], seed=3):
        part.coalesce(1).write.mode("append").parquet(src)

    base = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = snapshot_sink_stream(stream, base, ckpt, availableNow=True)
    q.awaitTermination(120)
    q.stop()
    total = ev.count()
    assert read_snapshot(spark, base).count() == total
    v_after = current_version(spark, base)
    assert v_after is not None and v_after >= 2  # one version per batch

    # replay the LAST batch (same batch_id, same data): must skip
    last_bid = v_after  # batch ids and versions advance together here
    assert commit_snapshot_batch(ev.limit(50), last_bid, base) is False
    assert read_snapshot(spark, base).count() == total
    assert current_version(spark, base) == v_after

    # a genuinely new batch still commits
    assert commit_snapshot_batch(ev.limit(5), last_bid + 1, base) is True
    assert read_snapshot(spark, base).count() == total + 5
    assert current_version(spark, base) == v_after + 1


def test_dsir_score_stream_matches_batch_bitwise(spark, sf_dir, tmp_path):
    """Train the DSIR bucket-ratio table in batch, then score the same
    documents as a file-source stream: every streamed (n_tokens,
    score_fp) must be BITWISE the batch dsir_scores row — the
    occurrence-sum reformulation cannot drift from the batch
    (id, bucket)-count aggregation because integer sums are
    order-independent."""
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.lm import dsir_scores, dsir_weight_table
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.scoring import dsir_score_stream

    docs = load_table(spark, sf_dir, "documents")
    is_tgt = F.col("lang") == "en"
    w = dsir_weight_table(docs, is_tgt)
    batch = {
        r.doc_id: (r.n_tokens, r.score_fp)
        for r in dsir_scores(docs, is_tgt).collect()
    }

    d = str(tmp_path / "docs_dsir_stream")
    docs.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(docs.schema).parquet(d)
    q = (
        dsir_score_stream(stream, w)
        .writeStream.format("memory")
        .queryName("dsir_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.n_tokens, r.score_fp)
        for r in spark.sql("SELECT * FROM dsir_stream").collect()
    }
    assert got == batch


def test_quality_score_stream_matches_batch_bitwise(spark, sf_dir, tmp_path):
    """Train the quality probe in batch, then score the same documents
    as a file-source stream: every streamed score must be BITWISE the
    batch score (integer arithmetic — the map-only serve path cannot
    drift from the trainer's aggregation path)."""
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.operators.lm import (
        _qc_weight_expr,
        train_quality_probe,
    )
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.scoring import quality_score_stream

    docs = load_table(spark, sf_dir, "documents")
    w, kc, feats, ydf = train_quality_probe(docs, F.col("lang") == "en")
    batch = {
        r.id: r.s
        for r in feats.groupBy("id")
        .agg((F.sum(_qc_weight_expr(w, 256)) - F.lit(kc)).alias("s"))
        .collect()
    }
    feats.unpersist()  # caller owns releasing the trainer's caches
    ydf.unpersist()

    d = str(tmp_path / "docs_stream")
    docs.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(docs.schema).parquet(d)
    q = (
        quality_score_stream(stream, w, kc)
        .writeStream.format("memory")
        .queryName("qscore_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: r.score_fp
        for r in spark.sql("SELECT * FROM qscore_stream").collect()
    }
    assert got == batch


def test_contamination_filter_stream_matches_batch(spark, sf_dir, tmp_path):
    """Decontamination at ingest: the streamed n_overlap is bitwise
    the batch contamination_check's, and exactly the over-threshold
    docs are dropped — stateless, append mode, exactly-once."""
    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.functions.text import (
        shingles_from_tokens,
        tokens,
    )
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.scoring import (
        contamination_filter_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = [
        r.shingle
        for r in docs.filter(F.col("doc_id") < 25)
        .select(
            F.explode(
                F.array_distinct(shingles_from_tokens(tokens(F.col("text")), 5))
            ).alias("shingle")
        )
        .distinct()
        .collect()
    ]
    corpus = docs.filter(F.col("doc_id") >= 25)
    bench_lit = F.array(*[F.lit(s) for s in bench])
    batch = {
        r.doc_id: r.n_overlap
        for r in corpus.select(
            "doc_id",
            F.size(
                F.array_intersect(
                    F.array_distinct(shingles_from_tokens(tokens(F.col("text")), 5)),
                    bench_lit,
                )
            ).cast("long").alias("n_overlap"),
        ).collect()
    }
    keep_want = {d: o for d, o in batch.items() if o <= 2}
    assert keep_want and len(keep_want) < len(batch), "fixture must drop some"

    d = str(tmp_path / "decontam_stream")
    corpus.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(corpus.schema).parquet(d)
    q = (
        contamination_filter_stream(stream, bench, max_overlap=2)
        .writeStream.format("memory")
        .queryName("decontam_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: r.n_overlap
        for r in spark.sql("SELECT * FROM decontam_stream").collect()
    }
    assert got == keep_want


def test_cusum_alert_stream_matches_batch_identity(spark, sf_dir, tmp_path):
    """streaming CUSUM (applyInPandasWithState, one BIGINT of state per
    key) == the batch prefix-sum/running-min identity BITWISE, across a
    two-micro-batch ordered replay — the vectorized in-batch identity
    plus the carried state must reproduce the sequential recursion
    exactly (all int64)."""
    import time as _time

    from pyspark.sql import Window

    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.alerts import cusum_alert_stream

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.col("event_type").alias("key"),
        F.date_trunc("minute", "ts").alias("minute"),
    ).agg(F.count(F.lit(1)).alias("x"))
    st = counts.agg(
        F.expr("sum(x) div count(1)").alias("target")
    ).collect()[0]
    target = int(st.target)
    k = max(target // 10, 1)
    h = 3 * (target + k)

    w = Window.partitionBy("key").orderBy("minute").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pf = F.sum(F.col("x") - F.lit(target) - F.lit(k)).over(w)
    expected = {
        (r.key, str(r.minute), r.x, r.s)
        for r in counts.select("key", "minute", "x", pf.alias("pf"))
        .select(
            "key", "minute", "x",
            (F.col("pf") - F.least(F.lit(0), F.min("pf").over(w))).alias("s"),
        )
        .collect()
    }
    assert expected

    # ordered two-file replay: every key's rows in file 1 precede its
    # rows in file 2 (global minute cut), mtime separates the batches
    d = str(tmp_path / "cusum")
    cut = counts.select(
        F.percentile(F.col("minute").cast("double"), 0.5)
    ).first()[0]
    counts.filter(F.col("minute").cast("double") <= cut).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    _time.sleep(1.1)
    counts.filter(F.col("minute").cast("double") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    stream = (
        spark.readStream.schema(counts.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    out = cusum_alert_stream(stream, "key", "minute", "x", target, k, h)
    qname = f"cusum_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.table(qname).collect()
    got = {(r.key, str(r.minute), r.x, r.cusum) for r in rows}
    assert got == expected
    # alert flag is exactly the threshold comparison on the statistic
    assert all(r.is_alert == (r.cusum >= h) for r in rows)


def test_char_gini_stream_matches_batch_bitwise(spark, sf_dir, tmp_path):
    """The streaming junk gate's row-local sorted-run fold must emit
    BITWISE the batch char_gini_quality columns for every document
    (integer run counts == the batch (doc, char) shuffle counts)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.scoring import char_gini_stream

    batch = {
        r.doc_id: (r.n_chars, r.gini_num, r.gini_den, r.is_low_diversity)
        for r in QUERIES["char_gini_quality"](spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    d = str(tmp_path / "docs_stream")
    docs.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(docs.schema).parquet(d)
    q = (
        char_gini_stream(stream)
        .writeStream.format("memory")
        .queryName("cgini_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.n_chars, r.gini_num, r.gini_den, r.is_low_diversity)
        for r in spark.sql("SELECT * FROM cgini_stream").collect()
    }
    assert got == batch


def test_attribution_stream_matches_batch(spark, sf_dir, tmp_path):
    """streaming last-touch attribution (applyInPandasWithState, two
    scalars of state per user) must assign every purchase the SAME
    touch as the batch attribution_last_touch window across a
    two-micro-batch ordered replay, and its aggregated channel report
    must equal the batch query's rows exactly (cents included — the
    rounding runs JVM-side in both)."""
    import time as _time

    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.attribution import attribution_stream

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    expected = {
        (r.touch, r.n_purchases, r.revenue_cents)
        for r in QUERIES["attribution_last_touch"](spark, sf_dir).collect()
    }
    assert expected

    # global ts cut keeps every user's rows ordered across the files
    d = str(tmp_path / "attr")
    cut = ev.select(F.percentile(F.col("ts").cast("double"), 0.5)).first()[0]
    ev.filter(F.col("ts").cast("double") <= cut).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    _time.sleep(1.1)
    ev.filter(F.col("ts").cast("double") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    out = attribution_stream(stream)
    qname = f"attr_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.table(qname).collect()
    # exactly one credited row per purchase event
    n_purch = ev.filter(F.col("event_type") == "purchase").count()
    assert len(rows) == n_purch
    assert len({r.event_id for r in rows}) == n_purch
    got = {}
    for r in rows:
        n, c = got.get(r.touch, (0, 0))
        got[r.touch] = (n + 1, c + r.cents)
    assert {(t, n, c) for t, (n, c) in got.items()} == expected


def test_transition_stream_matches_batch(spark, sf_dir, tmp_path):
    """streaming per-user transition extraction (applyInPandasWithState,
    ONE string of state per user) must emit exactly the batch lead
    window's adjacent pairs across a two-micro-batch ordered replay:
    transition counts equal event_transition_matrix's n, and the
    row-normalized p derived from them (one int/int IEEE division)
    matches the batch value bitwise."""
    import time as _time

    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.transitions import transition_stream

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    expected = {
        (r.from_type, r.to_type): (r.n, r.p)
        for r in QUERIES["event_transition_matrix"](spark, sf_dir).collect()
    }
    assert expected

    d = str(tmp_path / "trans")
    cut = ev.select(F.percentile(F.col("ts").cast("double"), 0.5)).first()[0]
    ev.filter(F.col("ts").cast("double") <= cut).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    _time.sleep(1.1)
    ev.filter(F.col("ts").cast("double") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    out = transition_stream(stream)
    qname = f"trans_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.table(qname).collect()
    # one emitted pair per event that has a same-user predecessor
    n_ev = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert len(rows) == n_ev - n_users
    counts = {}
    for r in rows:
        counts[(r.from_type, r.to_type)] = counts.get((r.from_type, r.to_type), 0) + 1
    tots = {}
    for (f_, _t), n in counts.items():
        tots[f_] = tots.get(f_, 0) + n
    got = {k: (n, n / tots[k[0]]) for k, n in counts.items()}
    assert got == expected


def test_attribution_stream_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """the attribution state machine must survive a checkpointed
    RESTART between micro-batches: run 1 drains file 1 and stops,
    run 2 starts from the same checkpoint and drains file 2 — the
    parquet sink's manifest-committed union must equal the batch
    assignment exactly (no duplicate credits for run-1 purchases, no
    lost carried state for run-2 purchases whose touch arrived in
    run 1)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.attribution import attribution_stream

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    expected = {
        (r.touch, r.n_purchases, r.revenue_cents)
        for r in QUERIES["attribution_last_touch"](spark, sf_dir).collect()
    }
    n_purch = ev.filter(F.col("event_type") == "purchase").count()

    d = str(tmp_path / "attr_in")
    ckpt = str(tmp_path / "attr_ckpt")
    out = str(tmp_path / "attr_out")
    cut = ev.select(F.percentile(F.col("ts").cast("double"), 0.5)).first()[0]
    ev.filter(F.col("ts").cast("double") <= cut).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    def run_once():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        q = (
            attribution_stream(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()  # drains file 1, commits state to the checkpoint
    run1_rows = spark.read.parquet(out).count()
    assert 0 < run1_rows < n_purch

    ev.filter(F.col("ts").cast("double") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    run_once()  # restart from checkpoint: must process ONLY file 2

    rows = spark.read.parquet(out).collect()
    assert len(rows) == n_purch
    assert len({r.event_id for r in rows}) == n_purch
    got = {}
    for r in rows:
        n, c = got.get(r.touch, (0, 0))
        got[r.touch] = (n + 1, c + r.cents)
    assert {(t, n, c) for t, (n, c) in got.items()} == expected


def test_transition_stream_null_type_crosses_batch_as_null(spark, tmp_path):
    """a NULL event_type carried across a micro-batch boundary must be
    stored as a TRUE NULL, not the string 'None' (r7 ADVICE): the next
    batch's first row then gets a NULL from_type and is dropped —
    matching the batch lag window's NULL propagation. Batch 1 ends on
    a NULL-typed event on purpose so the state write is the one under
    test."""
    import time as _time

    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.transitions import transition_stream

    schema = "user_id long, event_id long, ts timestamp, event_type string"
    b1 = spark.createDataFrame(
        [
            (1, 1, datetime.datetime(2024, 1, 1, 0, 0, 1), "A"),
            (1, 2, datetime.datetime(2024, 1, 1, 0, 0, 2), None),
            (1, 3, datetime.datetime(2024, 1, 1, 0, 0, 3), "B"),
            (1, 4, datetime.datetime(2024, 1, 1, 0, 0, 4), None),
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [
            (1, 5, datetime.datetime(2024, 1, 1, 0, 0, 5), "C"),
            (1, 6, datetime.datetime(2024, 1, 1, 0, 0, 6), "D"),
        ],
        schema,
    )
    d = str(tmp_path / "null_trans")
    b1.coalesce(1).write.mode("append").parquet(d)
    _time.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    qname = f"ntrans_{uuid.uuid4().hex[:8]}"
    q = (
        transition_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.from_type, r.to_type, r.event_id) for r in spark.table(qname).collect()}
    # batch lag semantics: event 3 (pred type NULL) and event 5 (pred
    # type NULL, ACROSS the boundary) are dropped; 'None'→'C' must not
    # appear
    assert got == {("A", None, 2), ("B", None, 4), ("C", "D", 6)}
