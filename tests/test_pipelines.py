"""End-to-end batch pipeline tests: the Airflow-DAG analogs run
against the real mood frame with injected sinks (no Mongo/Postgres/S3).
"""

from __future__ import annotations

import datetime as dt
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.plans.pipelines import (
    QualityCheckError,
    backfill_mood,
    daily_summary_job,
    load_valid,
    quality_check,
    run_export_pipeline,
)
from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES


def _mood(spark, sf_dir):
    return QUERIES["mood_pipeline"](spark, sf_dir)


def test_quality_check_passes_on_clean_subset(spark, sf_dir):
    clean = _mood(spark, sf_dir).filter(
        F.col("weather").isNotNull() & F.col("avg_speed").isNotNull()
    )
    stats = quality_check(clean)
    assert stats["n_records"] > 0 and stats["n_missing_fields"] == 0


def test_quality_check_raises_on_empty_and_missing(spark, sf_dir):
    m = _mood(spark, sf_dir)
    with pytest.raises(QualityCheckError, match="No mood data"):
        quality_check(m.filter(F.lit(False)))
    # the full frame has weather-less minutes -> missing-fields gate
    if m.filter(F.col("weather").isNull()).count() > 0:
        with pytest.raises(QualityCheckError, match="missing fields"):
            quality_check(m)


def test_export_pipeline_roundtrip(spark, sf_dir, tmp_path):
    clean = _mood(spark, sf_dir).filter(
        F.col("weather").isNotNull() & (F.col("avg_speed") > 0)
    )
    loaded_frames = []
    uploads = []
    cleanups = []
    out = run_export_pipeline(
        clean,
        spark,
        str(tmp_path / "mood_export"),
        jdbc_sink=loaded_frames.append,
        object_store=uploads.append,
        cleanup=lambda: cleanups.append(True),
    )
    assert out["n_records"] == clean.count()
    assert out["n_valid_loaded"] == out["n_records"]  # clean input survives
    assert len(loaded_frames) == 1 and len(uploads) == 1 and cleanups == [True]
    # timestamps survive the JSONL round trip exactly (second precision)
    orig = {
        (str(r.event_time), r.intersection)
        for r in clean.select(
            F.date_trunc("second", "event_time").alias("event_time"), "intersection"
        ).collect()
    }
    back = {
        (str(r.event_time), r.intersection)
        for r in loaded_frames[0].select("event_time", "intersection").collect()
    }
    assert back == orig


def _exact_avg(values):
    """davg on the driver: each double as Spark casts it to
    decimal(18,6), an exact sum, then float(sum) / n."""
    vs = [
        Decimal(repr(v)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        for v in values
        if v is not None
    ]
    return float(sum(vs)) / len(vs) if vs else None


def test_daily_summary_job_matches_manual(spark, sf_dir):
    """counts and exact-decimal averages bitwise equal to a driver-side
    Decimal recomputation, whatever the partitioning. Every mood row is
    moved onto one day so each (intersection, mood) group is large; a
    plain float avg misses on several groups here."""
    m = _mood(spark, sf_dir).withColumn(
        "event_time", F.timestamp_seconds(F.unix_timestamp("event_time") % 86400)
    )
    rows = m.collect()
    groups: dict = {}
    for r in rows:
        groups.setdefault((r.intersection, r.mood), []).append(r)
    expect = {
        k: (len(rs), _exact_avg([r.avg_speed for r in rs]),
            _exact_avg([r.avg_temp for r in rs]))
        for k, rs in groups.items()
    }
    assert len(expect) > 1
    local = spark.createDataFrame(rows, m.schema)
    for parts in (1, 8):
        out = daily_summary_job(local.repartition(parts), "1970-01-01")
        got = {
            (r.intersection, r.mood): (r.records_count, r.avg_speed, r.avg_temp)
            for r in out.collect()
        }
        # floats compared by repr: bitwise equal
        assert {k: tuple(map(repr, v)) for k, v in got.items()} == {
            k: tuple(map(repr, v)) for k, v in expect.items()
        }


def test_backfill_deterministic_and_shaped(spark):
    a = backfill_mood(spark, "2025-05-01", days=7, rows_per_day=30)
    b = backfill_mood(spark, "2025-05-01", days=7, rows_per_day=30)
    rows = a.collect()
    assert len(rows) == 210
    assert sorted(map(str, rows)) == sorted(map(str, b.collect()))  # reproducible
    days = {r.event_time.date() for r in rows}
    assert len(days) == 7
    assert max(days) == dt.date(2025, 5, 1)
    for r in rows[:20]:
        assert 6 <= r.event_time.hour <= 23
        assert 20.0 <= r.avg_speed < 80.0
        assert -5 <= r.avg_temp <= 35
        assert (r.sentiment, r.mood) in {
            ("positive", "happy"), ("neutral", "neutral"), ("negative", "stressed")
        }
    # backfilled data passes the quality gate and summarizes
    assert quality_check(a)["n_records"] == 210
    assert daily_summary_job(a, "2025-05-01").count() > 0


def test_run_with_alert_notifies_and_reraises(spark):
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.pipelines import (
        QualityCheckError,
        quality_check,
        run_with_alert,
    )

    empty = spark.createDataFrame(
        [], "event_time timestamp, intersection string, weather string, avg_speed double"
    )
    sent = []
    try:
        run_with_alert(lambda: quality_check(empty), "mood_quality_check", sent.append)
        raise AssertionError("gate should have failed")
    except QualityCheckError:
        pass
    assert len(sent) == 1 and "mood_quality_check" in sent[0] and "Task Failed" in sent[0]

    ok = spark.createDataFrame(
        [("2024-01-01 00:00:00", "int_0", "clear", 42.0)],
        "event_time string, intersection string, weather string, avg_speed double",
    )
    sent2 = []
    out = run_with_alert(lambda: quality_check(ok), "mood_quality_check", sent2.append)
    assert out["n_records"] == 1 and sent2 == []


def test_dag_topo_skip_and_retry():
    """orchestration core: declaration-order execution, retry-until-
    success with injected clock, downstream skip on failure, single
    alert per failed task (reference DAG semantics without Airflow)."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.orchestration import Dag, run_dag

    calls = []
    slept = []
    alerts = []
    flaky_attempts = {"n": 0}

    def flaky():
        flaky_attempts["n"] += 1
        if flaky_attempts["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    def boom():
        raise ValueError("bad data")

    dag = (
        Dag("export", schedule="0 23 * * *")
        .add("extract", lambda: calls.append("extract") or 11)
        .add("flaky_load", flaky, upstream=["extract"], retries=2, retry_delay_sec=5.0)
        .add("check", boom, upstream=["extract"])
        .add("report", lambda: calls.append("report"), upstream=["check"])
        .add("archive", lambda: calls.append("archive"), upstream=["flaky_load"])
    )
    states = run_dag(dag, notifier=alerts.append, sleep=slept.append)

    assert states["extract"]["state"] == "success" and states["extract"]["result"] == 11
    assert states["flaky_load"] == {
        "state": "success", "attempts": 3, "result": "ok", "error": None,
    }
    assert slept == [5.0, 5.0]
    assert states["check"]["state"] == "failed"
    assert "ValueError: bad data" in states["check"]["error"]
    assert states["report"]["state"] == "skipped"
    assert states["archive"]["state"] == "success", "other branches continue"
    assert len(alerts) == 1 and "`check`" in alerts[0]
    assert "report" not in calls


def test_dag_rejects_forward_and_duplicate_edges():
    import pytest

    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.orchestration import Dag

    dag = Dag("d").add("a", lambda: None)
    with pytest.raises(ValueError, match="unknown upstream"):
        dag.add("b", lambda: None, upstream=["zzz"])
    with pytest.raises(ValueError, match="duplicate task"):
        dag.add("a", lambda: None)


def test_gate_and_trigger_quality_check():
    """reference mood_quality_check: passing gate triggers the
    downstream DAG; failing or raising gate alerts and does not."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.orchestration import Dag, gate_and_trigger

    ran = []
    alerts = []
    downstream = Dag("daily_summary_report").add("summarize", lambda: ran.append(1))

    out = gate_and_trigger(lambda: True, downstream, notifier=alerts.append)
    assert out["gate"] == "passed" and out["triggered"]
    assert out["downstream"]["summarize"]["state"] == "success"
    assert ran == [1] and alerts == []

    out = gate_and_trigger(lambda: False, downstream, notifier=alerts.append)
    assert out == {"gate": "failed", "triggered": False, "downstream": None}
    assert ran == [1] and len(alerts) == 1

    def raising_gate():
        raise RuntimeError("quality query failed")

    out = gate_and_trigger(raising_gate, downstream, notifier=alerts.append)
    assert not out["triggered"] and "RuntimeError" in alerts[-1]
    assert ran == [1]


def test_incremental_agg_maintenance_equals_full_recompute(spark, sf_dir):
    """base-partials + delta-partials merged == full recompute over
    all raw rows, bitwise (mergeable count/decimal-sum partials) —
    history is never rescanned."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.pipelines import merge_agg_partials
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    # simulate history vs a late-arriving slice (disjoint, exhaustive)
    hist = ev.filter(F.col("event_id") % 10 != 0)
    late = ev.filter(F.col("event_id") % 10 == 0)

    def partials(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
        )

    merged = merge_agg_partials(
        partials(hist), partials(late), ["event_type"], "n", ("s",)
    )
    full = partials(ev)
    m = {r.event_type: (r.n, r.s) for r in merged.collect()}
    f = {r.event_type: (r.n, r.s) for r in full.collect()}
    assert m == f


def test_observed_write_collects_metrics_in_one_pass(spark, sf_dir, tmp_path):
    """observed_write: row count + null rate + bounds arrive as a side
    effect of the write action itself (no second scan), and match a
    directly-computed aggregation."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.pipelines import observed_write
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    out = str(tmp_path / "obs")
    _, metrics = observed_write(
        ev,
        lambda df: df.write.mode("overwrite").parquet(out),
        metrics=[
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("value").isNull().cast("int")).alias("null_values"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        ],
    )
    direct = ev.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("value").isNull().cast("int")).alias("null_values"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    ).first()
    assert metrics["rows"] == direct["rows"] > 0
    assert metrics["null_values"] == direct["null_values"]
    assert metrics["min_value"] == direct["min_value"]
    assert metrics["max_value"] == direct["max_value"]
    assert spark.read.parquet(out).count() == metrics["rows"]


def test_maintain_join_view_matches_recompute_bitwise(spark, sf_dir):
    """insert-only IVM delta rule: standing view + ΔV must be
    row-multiset-identical to recomputing the join over the grown
    inputs — including delta-delta matches (a new order joining a new
    customer) and rows whose join partner arrives only in the delta."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.pipelines import maintain_join_view
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
    )
    base_c = cust.filter(F.col("c_custkey") % 3 != 0)
    delta_c = cust.filter(F.col("c_custkey") % 3 == 0)
    base_o = orders.filter(F.col("o_orderkey") % 4 != 0)
    delta_o = orders.filter(F.col("o_orderkey") % 4 == 0)

    view = base_c.join(base_o, ["c_custkey"])
    dv = maintain_join_view(base_c, base_o, delta_c, delta_o, ["c_custkey"])
    got = view.unionByName(dv)
    want = cust.join(orders, ["c_custkey"])

    def multiset(df):
        rows = sorted(tuple(r) for r in df.collect())
        return rows

    assert multiset(got) == multiset(want)
    assert dv.count() > 0  # the split actually exercises all 3 terms
