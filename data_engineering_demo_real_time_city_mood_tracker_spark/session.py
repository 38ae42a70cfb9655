"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]``; the same config block is what we
would ship to a 1000-executor cluster (AQE handles the difference: it
coalesces the 32 local shuffle partitions down and splits skewed ones
up, so the static number only sets an upper bound for the tiny SFs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def ensure_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (addPyFile zip).

    Required whenever a Pandas UDF / mapInPandas closure references
    package modules: cloudpickle serializes those by reference, so the
    workers must be able to import the package — true on a real
    cluster and in local mode with an external driver process alike.
    """
    sc = spark.sparkContext
    if getattr(sc, "_data_engineering_demo_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    fd, zpath = tempfile.mkstemp(prefix="data_engineering_demo_pkg_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    sc._data_engineering_demo_pkg_shipped = True


def get_spark(app_name: str = "data_engineering_demo_real_time_city_mood_tracker_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime coalescing, skew-join splitting, join-strategy
        # switching — the core of the 100 TB posture.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas interchange (mapInPandas / pandas UDF).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
