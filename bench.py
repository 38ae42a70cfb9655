"""Benchmark harness: times registered queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

    python bench.py [--plans-dir DIR] [name ...]

With no names every query is timed and the streaming probe runs; with
names only those queries are timed. Queries are materialized with the
noop sink so the full plan executes JVM-side (no driver collect
overhead in the timing).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES
from data_engineering_demo_real_time_city_mood_tracker_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser(description="time registry queries")
    ap.add_argument("--plans-dir", help="write each query's formatted plan to DIR/<name>.txt")
    ap.add_argument("names", nargs="*", help="queries to time (default: all)")
    args = ap.parse_args()
    unknown = [n for n in args.names if n not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {' '.join(unknown)}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)

    # Each query runs REPEAT times and reports the MIN: host-level
    # contention on shared VMs sweeps through in multi-minute phases
    # and can inflate a single timing 5-8×; the min of two spaced runs
    # is the steady-state number the plan actually earns. The headline
    # value is the sum of per-query minima (not wall clock, which
    # would double-count the repeats).
    repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "2"))
    timings, layers = time_queries(
        spark, sf_dir, args.names or sorted(QUERIES), repeat, args.plans_dir
    )

    # streaming throughput: replay the events table through the REAL
    # Structured Streaming mood pipeline (file source → stateful agg →
    # memory sink, availableNow) and report source rows/sec. The
    # reference's consumers process ~1 event/sec/producer; this is the
    # single-node number to beat. Only a full-registry run pays for it.
    streaming = {}
    if not args.names:
        try:
            streaming = _stream_throughput(spark, sf_dir)
        except Exception as e:  # never let the throughput probe kill bench
            streaming = {"error": str(e)[:200]}

    print(json.dumps(record(timings, layers, sf, streaming)))


def warm_up(spark, sf_dir: str) -> None:
    """Warm the JVM/codegen path and every table's file listing once so
    per-query numbers reflect steady-state execution, not startup."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    for t in ("events", "documents", "embeddings", "lineitem", "orders", "customer"):
        load_table(spark, sf_dir, t).count()
    QUERIES["pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # spawn the Arrow Python worker pool once (mapInPandas/pandas-UDF
    # queries otherwise pay ~10 s of one-time worker startup).
    spark.range(64).repartition(64).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()


def time_queries(
    spark, sf_dir: str, names: list[str], repeat: int, plans_dir: str | None = None
) -> tuple[dict[str, float], dict[str, dict]]:
    """Per-query minimum over ``repeat`` passes of the timed region
    (builder call + noop save), and the layer split of that fastest
    pass: construct vs exec seconds, the Spark jobs, stages and tasks
    the query ran end to end (read from its job group), and the
    generated classes Janino compiled in the timed region and the time
    it took (nonzero on a later pass: generated code was rebuilt)."""
    sc = spark.sparkContext
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}
    for rep in range(repeat):
        for name in names:
            group = f"bench:{rep}:{name}"
            sc.setJobGroup(group, name)
            codegen0 = _codegen(sc)
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            codegen1 = _codegen(sc)
            sc.setJobGroup(None, None)
            dt = round(t2 - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
                # read the status tracker now, before the jobs it
                # retains roll over
                layers[name] = {
                    "construct_sec": round(t1 - t0, 3),
                    "exec_sec": round(t2 - t1, 3),
                    **_job_counts(sc, group),
                    "codegen_ms": round((codegen1[0] - codegen0[0]) / 1e6, 1),
                    "codegen_classes": codegen1[1] - codegen0[1],
                }
            if plans_dir and rep == 0:
                plan = sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                    f.write(plan)
            # queries that persist intermediates (dedup candidate tables)
            # must not tax later queries' timings with their cached blocks
            spark.catalog.clearCache()
            # localCheckpoint RDDs (iterative operators) bypass the SQL
            # cache manager; unpersist them too or they pile up in the
            # block manager and tax later queries with GC pressure.
            for rdd in list(sc._jsc.getPersistentRDDs().values()):
                rdd.unpersist()
    return timings, layers


def _codegen(sc) -> tuple[int, int]:
    """Janino compile time (ns) and compiled classes so far in the JVM:
    both grow only on a miss of Spark's generated-code cache."""
    jvm = sc._jvm
    return (
        jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime(),
        jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
    )


def _job_counts(sc, group: str) -> dict[str, int]:
    """Jobs of ``group`` and the stages and tasks they ran (skipped
    stages, which reuse an earlier shuffle, are not counted). The
    listener bus is drained first: the status tracker is fed by it, and
    a job's last stage and task events may still be queued when the
    query's action returns."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    n_stages = n_tasks = 0
    for jid in job_ids:
        ji = tracker.getJobInfo(jid)
        if ji is None:
            continue
        for sid in ji.stageIds:
            si = tracker.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                n_stages += 1
                n_tasks += si.numCompletedTasks
    return {"n_jobs": len(job_ids), "n_stages": n_stages, "n_tasks": n_tasks}


def record(
    timings: dict[str, float], layers: dict[str, dict], sf: float, streaming: dict
) -> dict:
    """The printed JSON object. A record that truncates this line keeps
    only its TAIL, and "queries" alphabetizes — so the bulky per-query
    layers come first and the headline (best_sum) and the slowest-10
    detail are the LAST keys: any suffix of the line that survives
    still carries the numbers that matter."""
    total = round(sum(timings.values()), 3)
    slowest10 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    return {
        "metric": "all_queries_best_sum_sec",
        "value": total,
        "unit": "sec",
        "layers": layers,
        "queries": timings,
        "sf": sf,
        "streaming": streaming,
        "n_queries": len(timings),
        "best_sum": total,
        "slowest10": slowest10,
    }


# a probe still running after this long is stopped and reported as an
# error, never as a throughput over the timeout
STREAM_TIMEOUT_S = 300


def _stream_throughput(spark, sf_dir: str) -> dict:
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import _clicks, _views
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table
    from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.mood_pipeline import mood_stream

    ev = load_table(spark, sf_dir, "events")
    traffic = _clicks(spark, sf_dir).select(
        F.col("ts").alias("event_time"), "intersection", "speed"
    )
    weather = _views(spark, sf_dir).select(
        F.col("ts").alias("event_time"), "temp", "weather"
    )
    news = ev.filter(F.col("event_type") == "error").select(
        F.col("ts").alias("event_time"),
        F.when(F.col("value") < 150, "negative")
        .when(F.col("value") < 300, "neutral")
        .otherwise("positive")
        .alias("sentiment"),
    )
    tmp = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        frames = {"traffic": traffic, "weather": weather, "news": news}
        streams = {}
        # only click, view and error events enter the stream: count the
        # rows the three source frames carry, not all of events
        n_rows = 0
        for name, df in frames.items():
            path = f"{tmp}/{name}"
            df.coalesce(4).write.mode("overwrite").parquet(path)
            n_rows += spark.read.parquet(path).count()
            streams[name] = spark.readStream.schema(df.schema).parquet(path)
        out = mood_stream(
            streams["traffic"], streams["weather"], streams["news"],
            [f"int_{i}" for i in range(4)],
        )
        qname = f"bench_mood_{uuid.uuid4().hex[:8]}"
        t0 = time.time()
        q = (
            out.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(STREAM_TIMEOUT_S)
        wall = time.time() - t0
        if not finished:
            q.stop()
            return {"error": f"mood_stream still running after {STREAM_TIMEOUT_S} s; stopped"}
        n_out = spark.table(qname).count()
        return {
            "pipeline": "mood_stream availableNow, file source -> memory sink",
            "source_rows": n_rows,
            "output_rows": n_out,
            "wall_sec": round(wall, 3),
            "rows_per_sec": round(n_rows / wall, 1),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
