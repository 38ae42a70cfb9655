"""SparkSession factory with scale-aware defaults, and the execution
scopes every operator shares (scoped conf, partition spread, release
of cached inputs).

Local testing runs on ``local[N]``; the same config block is what we
would ship to a 1000-executor cluster (AQE handles the difference: it
coalesces the 32 local shuffle partitions down and splits skewed ones
up, so the static number only sets an upper bound for the tiny SFs).

Streams write their checkpoints (offsets and commits logs, file-source
logs, state deltas and checksums) through Hadoop's FileSystem API rather
than Spark's default FileContext manager. Without a native Hadoop
library, the FileContext rename of each checkpoint file forks four
``readlink`` processes in the driver JVM (``getFileLinkStatus``), about
a hundred per mood-stream trigger; the FileSystem rename is a plain
``File.renameTo`` on ``file:``, with the same refusal of an existing
destination and the same files written.

Spark's generated-code cache holds 8,192 classes instead of its default
100. The tracker runs the same plans over and over, and at 100 entries
it compiles them again on every pass: one pass of the ``batch_mix``
benchmark (six registry queries and the backfill-export-summary DAG)
compiles 161 classes, and each later pass 155 of them again (1.4-1.7 s
of Janino compile time, each recompiled class cold in the JIT again).
One pass over all 268 registry queries compiles 4,021 classes (sf0.01,
4 cores); at 1,000 entries each later pass still compiles 4,430, at
8,192 about 216 (code that differs on every run). A mood-stream drain
compiles 16-21 classes at either size. The test suite's one session
compiles about 6,100 classes at 8,192 entries and 16,400 at 100. The
cache is JVM-global and sized once, by the first session that generates
code in the JVM, so every entry point gets its session here. The bound
stays: a cached class holds about 8.5 KB of metaspace until it is
evicted.
"""

from __future__ import annotations

import os
import sys
import zipimport
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's ``(st_mtime_ns, st_size)`` changed
    since that importer last read it.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task (``worker_util.setup_spark_files``). Below Python 3.13 each
    ``zipimporter`` on ``sys.path`` then re-reads its whole archive: the
    16 over ``pyspark.zip``, py4j and the spark-core jar cost a Python
    task 100-240 ms of fixed time (4-core host, Spark 4.1, Python 3.11).
    A changed archive is still re-read, so ``addPyFile`` of a new zip
    keeps working. Python 3.13+ already skips the re-read (its method
    only drops the cache entry), so there this does nothing. Installed
    once per process when this module is imported: the package
    ``__init__`` imports it, and every Python task that runs package
    code imports the package.
    """
    if sys.version_info >= (3, 13):
        return
    stdlib_invalidate = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_read_stat", None):
            stdlib_invalidate(self)
            self._read_stat = key

    invalidate_caches.skips_unchanged_zips = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


skip_unchanged_zip_rereads()


def ensure_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (addPyFile zip).

    Required whenever a Pandas UDF / mapInPandas closure references
    package modules: cloudpickle serializes those by reference, so the
    workers must be able to import the package — true on a real
    cluster and in local mode with an external driver process alike.
    Importing it there installs ``skip_unchanged_zip_rereads``: no zip re-read per task.
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


@contextmanager
def scoped_conf(spark: SparkSession, settings: dict[str, str]):
    """Set ``settings`` on the session for the ``with`` body, then put
    back each key's previous value (unset if it had none)."""
    old = {}
    for key, val in settings.items():
        try:
            old[key] = spark.conf.get(key)
        except Exception:
            old[key] = None
        spark.conf.set(key, val)
    try:
        yield
    finally:
        for key, val in old.items():
            if val is not None:
                spark.conf.set(key, val)
            else:
                spark.conf.unset(key)


def small_shuffle(spark: SparkSession, n_keys: int = 0):
    """Scope shuffle settings for iterative rounds whose reduce side is
    sized by ``n_keys`` (vertices, vocabulary), not by the corpus.

    - partitions follow n_keys/65536 (floor 8, capped at the session's
      count) instead of the session's corpus-sized default;
    - AQE is off below 10^6 keys: its per-shuffle sub-job re-planning
      is pure scheduling overhead on frames that small (measured:
      pagerank_portable at sf0.1 7.2 s → 4.3 s, train_pq 3 rounds
      4.1 s → 2.9 s), while at larger n its coalescing pays.

    Trainers whose reduce side is ≤ k×dim rows at any corpus scale (map-
    side partial agg collapses each task to k rows first) pass no
    ``n_keys``: 8 partitions, AQE off. The session's settings — right
    for the corpus-sized queries — come back when the scope exits."""
    parts = max(8, min(int(spark.conf.get("spark.sql.shuffle.partitions")),
                       (n_keys + 65535) // 65536))
    keys = {"spark.sql.shuffle.partitions": str(parts)}
    if n_keys < 1_000_000:
        keys["spark.sql.adaptive.enabled"] = "false"
    return scoped_conf(spark, keys)


def spread(df: DataFrame) -> DataFrame:
    """Ensure at least defaultParallelism partitions before expensive
    per-row compute. A tiny scan (one small parquet split) otherwise
    pins the whole shingle/hash pipeline to one core; at real scale
    inputs already have more splits than cores and this is a no-op.

    Uses the input-file count as the partition proxy: ``df.rdd`` would
    be exact but costs ~1 s of Python-RDD conversion per plan, while
    the file listing is already cached by the file index. File count
    underestimates splits (large files split further), so this only
    ever adds a repartition that AQE-scale jobs don't need."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files < p:
        return df.repartition(p)
    return df


def release_after(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize a BOUNDED result frame once (eager localCheckpoint)
    and unpersist the cached intermediates that fed it, returning the
    checkpointed frame. Closes the r4-ADVICE cache leak: DataFrame
    ``persist`` registers in the session CacheManager and is NEVER
    reclaimed by the ContextCleaner (that only collects unreferenced
    RDDs/broadcasts), so a long registry run accumulates every
    trainer's feature cache until explicit unpersist. Only use where
    ``result`` is strictly bounded (top-k frames, k-row metadata) —
    the checkpoint stores the rows in executor storage, so a
    corpus-sized result would trade a cache leak for a full
    materialization."""
    out = result.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return out


# Entries in the JVM-global generated-code cache (Spark's default is
# 100): twice an all-query registry pass, see the module docstring.
CODEGEN_CACHE_MAX_ENTRIES = 8192


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
        # Checkpoints through FileSystem, not FileContext: the same files
        # and rename semantics, no `readlink` fork per file (see above).
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
        )
        # A generated-code cache that holds a registry pass (a static
        # conf: the first session to generate code in the JVM sizes it).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
    )
    return builder.getOrCreate()
