"""Session, host and statistics helpers shared by the timed and traced runs."""

from __future__ import annotations

import os
import resource
import statistics
import sys
import time

PKG = "data_engineering_demo_real_time_city_mood_tracker_spark"
SETUPS = 2  # timed warm set-ups per run, after an untimed cold one; setup_s is their median


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def set_env(work: str) -> None:
    """Session settings, fixed before the JVM starts: all cores, a
    bounded driver heap and every scratch file in the run directory
    ``work``, which the run removes when it ends."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])


def session(old=None):
    """A fresh session from ``session.get_spark``; stops ``old`` first.
    The JVM stays up between sessions."""
    from importlib import import_module

    if old is not None:
        old.stop()
    spark = import_module(f"{PKG}.session").get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM the sessions ran in and wait for it to exit: it exits
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None or getattr(gateway, "proc", None) is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None


def setup(wl, spark, rep: int):
    """One timed set-up: a fresh session plus the workload's own set-up."""
    t = time.perf_counter()
    spark = session(spark)
    wl.setup(spark, rep)
    return time.perf_counter() - t, spark


def control(spark) -> float:
    """A fixed Spark-only job that calls no repository code: tells a
    slow host phase apart from a slower program."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(0, 2_000_000, numPartitions=4).selectExpr("sum(hash(id) % 1000)").collect()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def versions(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python driver."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_hwm_kb(jvm_pid) + py_kb) / 1024.0


def pct(values: list[float], q: int) -> float:
    """q-th percentile, inclusive method (q=50 is the median)."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def pass_samples(wl, run_s: float) -> tuple[list[float], float]:
    """Latency samples (ms) of the last pass and its events per second:
    measured triggers for a stream, operations for a registry pass."""
    if wl.kind == "stream":
        trig = wl.triggers()
        return [float(p["durationMs"]["triggerExecution"]) for p in trig], wl.events() / run_s
    ops = wl.last_op_ms()
    return ops, len(ops) / run_s
