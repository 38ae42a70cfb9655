"""bench.py's timing loop, run in-process on two registry queries."""

from __future__ import annotations

import duckdb

import bench


def test_time_queries_reports_minima_and_layers(spark, sf_dir):
    names = ["pricing_summary", "top_customers"]
    timings, layers = bench.time_queries(spark, sf_dir, names, repeat=2)
    rec = bench.record(timings, layers, 0.001, {})
    assert list(rec) == [
        "metric", "value", "unit", "layers", "queries", "sf", "streaming",
        "n_queries", "best_sum", "slowest10",
    ]
    assert list(rec["queries"]) == names
    assert all(isinstance(v, float) for v in rec["queries"].values())
    assert rec["value"] == rec["best_sum"] == round(sum(timings.values()), 3)
    assert list(rec["layers"]) == names
    for name in names:
        row = layers[name]
        # three roundings to 1 ms apart
        assert abs(row["construct_sec"] + row["exec_sec"] - timings[name]) <= 0.0015
        assert row["n_jobs"] >= 1
        assert row["n_tasks"] >= row["n_stages"] >= 1
        assert list(row)[-2:] == ["codegen_ms", "codegen_classes"]
        assert row["codegen_classes"] >= 0 and row["codegen_ms"] >= 0


def test_stream_probe_reports_throughput_and_stops_on_timeout(spark, sf_dir, monkeypatch):
    probe = bench._stream_throughput(spark, sf_dir)
    assert list(probe) == [
        "pipeline", "source_rows", "output_rows", "wall_sec", "rows_per_sec",
    ]
    assert probe["output_rows"] > 0 and probe["rows_per_sec"] > 0
    # the stream reads only the click, view and error events
    (n_stream,) = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/events.parquet') "
        "WHERE event_type IN ('click', 'view', 'error')"
    ).fetchone()
    assert probe["source_rows"] == n_stream

    # a probe that outlives the timeout is stopped and reported as an
    # error, not as source_rows over the timeout
    monkeypatch.setattr(bench, "STREAM_TIMEOUT_S", 0.001)
    probe = bench._stream_throughput(spark, sf_dir)
    assert list(probe) == ["error"]
    assert not spark.streams.active
