"""The traced run: per-layer metrics.

An untimed warm-up pass, then an untraced, a traced and an untraced pass;
tracing overhead is the traced pass's run time minus the mean of the two
untraced ones, so a drift from pass to pass (the JIT still warming)
cancels. A stream workload then
replays the reference input (4 intersections) on ``local[nproc]`` and
on ``local[1]``, the single-threaded baseline. Spark's own counters come
from the traced session's status store and the traced query's progress
reports.
"""

from __future__ import annotations

import importlib
import os
import statistics
import time

import host
from spans import Tracer, engine_counters, last_job_id, layer_totals

PKG = host.PKG
# the operator modules the batch workload's queries call
OPERATOR_MODULES = ["dedup", "graph"]
PHASES = {
    "latest_offset_ms_p50": "latestOffset",
    "get_batch_ms_p50": "getBatch",
    "query_planning_ms_p50": "queryPlanning",
    "add_batch_ms_p50": "addBatch",
    "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets",
}


def _install(tracer: Tracer, wl) -> None:
    mod = importlib.import_module
    if wl.kind == "stream":
        sources = mod(f"{PKG}.streaming.sources")
        for name in ("parse_traffic", "parse_weather", "parse_news"):
            tracer.patch(getattr(sources, name), name, "streaming.sources", PKG)
        pipeline = mod(f"{PKG}.streaming.mood_pipeline")
        tracer.patch(pipeline.mood_stream, "mood_stream", "streaming.mood_pipeline", PKG)
        wl.wrap_sink = lambda fn, commits: _sink_span(tracer, fn, commits, wl)
        return
    queries = mod(f"{PKG}.plans.queries")
    for name in wl.queries:
        tracer.patch_dict(queries.QUERIES, name, name, "plans")
    tracer.patch(mod(f"{PKG}.sources.batch").load_table, "load_table", "sources", PKG)
    tracer.patch_module(mod(f"{PKG}.plans.pipelines"), "plans.pipelines", PKG)
    for m in OPERATOR_MODULES:
        tracer.patch_module(mod(f"{PKG}.operators.{m}"), f"operators.{m}", PKG)
    wl.job_groups = True


def _sink_span(tracer: Tracer, fn, commits: str, wl):
    """Trace the batch function ``document_sink`` returned, and count the
    batches it skipped as already delivered."""
    traced = tracer.wrap(fn, "write_batch", "streaming.sinks")

    def write_batch(df, batch_id):
        if os.path.exists(os.path.join(commits, f"batch-{batch_id}.committed")):
            wl.replays_skipped += 1
        return traced(df, batch_id)

    return write_batch


def _pass(wl, spark, rep: int):
    """One timed pass. A stream replay needs a new query, so it sets up
    before every pass; a registry pass reuses the session of its warm-up
    pass 0, as in the timed run."""
    if wl.kind == "stream" or rep == 0:
        _, spark = host.setup(wl, spark, rep)
    t = time.perf_counter()
    wl.run(spark)
    return time.perf_counter() - t, spark


def _stream_metrics(progress: list[dict]) -> dict:
    measured = [p for p in progress if p["numInputRows"] > 0 and p["batchId"] > 0]
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    out = {
        f"streaming.{k}": (host.pct([p["durationMs"].get(v, 0) for p in measured], 50), "ms")
        for k, v in PHASES.items()
    }
    out["streaming.rows_per_trigger_p50"] = (host.pct([p["numInputRows"] for p in measured], 50), "rows")
    out["streaming.state_rows_max"] = (max((o["numRowsTotal"] for o in ops), default=0), "rows")
    out["streaming.state_memory_bytes_max"] = (max((o["memoryUsedBytes"] for o in ops), default=0), "bytes")
    out["streaming.state_rows_updated_p50"] = (host.pct([o["numRowsUpdated"] for o in ops], 50), "rows")
    out["streaming.state_commit_ms_p50"] = (host.pct([o["commitTimeMs"] for o in ops], 50), "ms")
    out["streaming.rows_dropped_by_watermark"] = (
        sum(o.get("numRowsDroppedByWatermark", 0) for o in ops), "rows")
    return out


def _replay_rate(ref, spark, rep: int, cpus: str):
    """Events per second and median trigger time of one reference
    replay on ``local[cpus]``."""
    saved = os.environ["SPARK_GRAFT_CPUS"]
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    try:
        run_s, spark = _pass(ref, spark, rep)
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = saved
    samples, rate = host.pass_samples(ref, run_s)
    return (rate, host.pct(samples, 50)), spark


def traced_run(wl, ref, spark, meta: dict) -> dict:
    wl.replays_skipped = 0
    tracer = Tracer()
    try:
        meta.update(host.versions(spark))
        before = host.control(spark)
        _, spark = _pass(wl, spark, 0)  # warm-up, so no timed pass is the JVM's first
        untraced = [0.0, 0.0]
        untraced[0], spark = _pass(wl, spark, 1)
        # a stream pass starts a new session, whose job ids restart at 0
        first_job = 0 if wl.kind == "stream" else last_job_id(spark) + 1
        _install(tracer, wl)
        try:
            traced_s, spark = _pass(wl, spark, 2)
            counters, groups = engine_counters(spark, first_job)
            rss = host.peak_rss_mb(spark)
        finally:
            tracer.restore()
            if wl.kind == "stream":
                wl.wrap_sink = None
            else:
                wl.job_groups = False
        progress = list(getattr(wl, "progress", []))
        docs = len(wl.documents(wl.drained[-1])) if wl.kind == "stream" else 0
        untraced[1], spark = _pass(wl, spark, 3)
        baseline = {"ref": (0.0, 0.0), "ref_local1": (0.0, 0.0)}
        if ref is not None:
            baseline["ref"], spark = _replay_rate(ref, spark, 0, str(host.nproc()))
            baseline["ref_local1"], spark = _replay_rate(ref, spark, 1, "1")
            spark = host.session(spark)
        after = host.control(spark)
    finally:
        wl.discard()
        spark.stop()
    meta.update(control_s={"before": before, "after": after}, spans=len(tracer.spans),
                job_groups=groups, untraced_s=untraced, traced_s=traced_s)
    out = per_layer(wl, tracer, counters, groups, progress, docs, baseline,
                    statistics.mean(untraced), traced_s, statistics.mean([before, after]))
    out["peak_rss_mb"] = (rss, "MB")
    return out


def per_layer(wl, tracer, counters, groups, progress, docs, baseline,
              untraced_s, traced_s, control_s) -> dict:
    tot = layer_totals(tracer.spans)

    def layer(name: str, field: str) -> float:
        return tot.get(name, {}).get(field, 0)

    out = {
        "trace.run_s": (traced_s, "s"),
        "trace.overhead_s": (traced_s - untraced_s, "s"),
        "host.control_s": (control_s, "s"),
        "sources.load_table_s": (layer("sources", "total_s"), "s"),
        "sources.load_table_calls": (layer("sources", "calls"), "count"),
        "plans.construct_s": (layer("plans", "total_s"), "s"),
        "plans.self_s": (layer("plans", "self_s"), "s"),
        "plans.construct_jobs": (
            sum(n for g, n in groups.items() if g.startswith("construct:")), "count"),
        "plans.pipelines_s": (layer("plans.pipelines", "total_s"), "s"),
    }
    for m in OPERATOR_MODULES:
        out[f"operators.{m}.self_s"] = (layer(f"operators.{m}", "self_s"), "s")
        out[f"operators.{m}.calls"] = (layer(f"operators.{m}", "calls"), "count")
    units = {"exec_s": "s", "executor_run_ms": "ms", "executor_cpu_ms": "ms", "gc_ms": "ms"}
    for k, v in counters.items():
        out[f"engine.{k}"] = (v, units.get(k, "bytes" if k.endswith("bytes") else "count"))
    out["streaming.construct_s"] = (
        layer("streaming.sources", "total_s") + layer("streaming.mood_pipeline", "total_s"), "s")
    if wl.kind == "stream":
        out.update(_stream_metrics(progress))
    else:
        out.update({k: (0.0, u) for k, (_, u) in _stream_metrics([]).items()})
    writes = [s.seconds * 1000 for s in tracer.spans if s.layer == "streaming.sinks"]
    out["streaming.sinks.write_ms_p50"] = (host.pct(writes, 50), "ms")
    out["streaming.sinks.docs_written"] = (docs, "count")
    out["streaming.sinks.replays_skipped"] = (getattr(wl, "replays_skipped", 0), "count")
    for k, (rate, p50) in baseline.items():
        out[f"baseline.{k}_events_per_s"] = (rate, "events/s")
        out[f"baseline.{k}_batch_p50_ms"] = (p50, "ms")
    return out
