"""Batch sources: parquet tables, JSON-lines with corrupt-record
handling (reference: my_airflow/dags/mongo_to_storage.py
``load_to_postgres`` reads exported JSON, drops ``_corrupt_record``
rows, parses timestamps), and gated JDBC.

Scans stay declarative so Catalyst pushes filters/projections into the
parquet reader — verified by plan tests (tests/test_plans.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_demo_real_time_city_mood_tracker_spark.schemas import TESTDATA_TABLES


# Per-session parquet schema memo. The first read of a path infers the
# schema from the file footer (a driver-side job at plan time); later
# reads in the same session pass it explicitly, which skips the footer
# fetch entirely. The registry builds >300 load_table frames per bench
# pass, so the repeated inference is pure planning overhead — and at
# real scale an explicit schema also avoids the multi-file footer
# sampling/merge a big table pays on every read. Keyed by applicationId
# so a fresh session (or a rewritten test dir in a new session) always
# re-infers; no data or results are memoized, only the StructType.
# The value carries a freshness token — (mtime_ns, size) of the local
# path — because an explicit-schema parquet read does NOT fail on a
# schema change (missing columns null-fill silently): overwriting a
# path with a different schema inside one session would otherwise
# serve the stale StructType. A changed token re-infers; non-local
# paths (no os.stat) skip the memo rather than risk staleness. For a
# directory path the token is the directory's own stat, which changes
# only when top-level entries are added, removed or renamed: rewriting
# a data file inside the directory in place is NOT detected.
_SCHEMA_MEMO: dict[tuple[str, str], tuple[tuple[int, int], T.StructType]] = {}


def _path_token(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, path)
    token = _path_token(path)
    hit = _SCHEMA_MEMO.get(key)
    if hit is not None and token is not None and hit[0] == token:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if token is not None:
        _SCHEMA_MEMO[key] = (token, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark's
        # vectorized reader rejects — read as long ns and truncate to
        # micros, matching the DuckDB oracle's CAST) and as TIMESTAMP(US)
        # NTZ; normalize either to session-zone (UTC) TimestampType.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, T.TimestampNTZType):
            return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        return df
    return _read_parquet(spark, path)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    if not names:
        names = tuple(TESTDATA_TABLES)
    return {n: load_table(spark, sf_dir, n) for n in names}


def _valid_rows(df: DataFrame, timestamp_col: str | None) -> DataFrame:
    """Drop the rows a PERMISSIVE parse flagged in ``_corrupt_record``,
    then parse ``timestamp_col`` when given and present."""
    if "_corrupt_record" in df.columns:
        df = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    if timestamp_col is not None and timestamp_col in df.columns:
        df = df.withColumn(timestamp_col, F.to_timestamp(F.col(timestamp_col)))
    return df


def read_jsonl_valid(
    spark: SparkSession,
    path: str,
    schema=None,
    timestamp_col: str | None = None,
) -> DataFrame:
    """JSON-lines reader with the reference's validity pipeline:
    PERMISSIVE parse, drop corrupt records, optional timestamp parse.
    """
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    )
    if schema is not None:
        reader = reader.schema(schema)
    return _valid_rows(reader.json(path), timestamp_col)


def read_csv_valid(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    timestamp_col: str | None = None,
) -> DataFrame:
    """CSV reader with the same validity pipeline as
    :func:`read_jsonl_valid`: PERMISSIVE parse, malformed rows dropped
    via ``_corrupt_record``, optional timestamp parse. Schema should be
    supplied at scale — inference costs an extra full scan."""
    reader = (
        spark.read.option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return _valid_rows(reader.csv(path), timestamp_col)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Raw-file ingestion via the ``binaryFile`` source — the entry
    point of a multimodal pipeline (images/audio/video land as files;
    this turns a directory tree into (path, modificationTime, length,
    content) rows WITHOUT a driver-side listing loop: file listing and
    reads are distributed, and ``pathGlobFilter``/partition-dir pruning
    keep the scan lazy).

    At scale: feed the result straight into ``mapInPandas`` decode
    (operators/multimodal.py) and write payload+features to parquet
    binary columns — small-file pressure is absorbed once here, then
    everything downstream is columnar."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    user: str,
    password: str,
    driver: str,
    partition_column: str | None = None,
    lower_bound: int | str | None = None,
    upper_bound: int | str | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 10_000,
):
    """JDBC source, twin of :func:`write_jdbc` — shape-compatible with
    the reference's Postgres read (my_airflow/dags/
    daily_summary_report.py:23-33, a single-connection pandas
    ``read_sql``).

    The part that matters at scale is the PARTITIONED read: without
    ``partitionColumn``/``numPartitions`` Spark opens ONE connection
    and pulls the whole table through a single task. With them, each of
    ``num_partitions`` tasks reads a ``[lower, upper)`` stride of the
    partition column concurrently — the difference between a 1-task
    bottleneck and a saturated database at 100× data. ``table`` may be
    a table name or a pushdown subquery ``"(SELECT ...) AS t"``.

    Gated: needs the JDBC driver jar on the cluster, not exercisable
    in this container — tests assert :func:`jdbc_read_options`'s shape
    instead.
    """
    opts = jdbc_read_options(
        url,
        table,
        user,
        password,
        driver,
        partition_column=partition_column,
        lower_bound=lower_bound,
        upper_bound=upper_bound,
        num_partitions=num_partitions,
        fetchsize=fetchsize,
    )
    return spark.read.format("jdbc").options(**opts).load()


def jdbc_read_options(
    url: str,
    table: str,
    user: str,
    password: str,
    driver: str,
    partition_column: str | None = None,
    lower_bound: int | str | None = None,
    upper_bound: int | str | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 10_000,
) -> dict[str, str]:
    """Option dict for :func:`read_jdbc` (split out so the partitioned-
    read wiring is unit-testable without a database)."""
    opts = {
        "url": url,
        "dbtable": table,
        "user": user,
        "password": password,
        "driver": driver,
        "fetchsize": str(fetchsize),
    }
    partition_opts = [partition_column, lower_bound, upper_bound, num_partitions]
    if any(o is not None for o in partition_opts):
        if any(o is None for o in partition_opts):
            raise ValueError(
                "partitioned JDBC read needs all of partition_column, "
                "lower_bound, upper_bound, num_partitions"
            )
        opts.update(
            partitionColumn=str(partition_column),
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return opts


def write_jdbc(df: DataFrame, url: str, table: str, user: str, password: str, driver: str, mode: str = "append") -> None:
    """JDBC sink, shape-compatible with the reference's Postgres writes
    (daily_summary_report.py:42-50). Gated: needs the JDBC driver jar
    on the cluster; not exercisable in this container.
    """
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("driver", driver)
        .mode(mode)
        .save()
    )


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC lake write (zstd-compressed under this Spark's defaults —
    set spark.sql.orc.compression.codec for legacy zlib-only readers)
    — the columnar alternative when a downstream consumer is
    Hive/Trino-flavored. Same layout options as the parquet writes:
    optional hive partitioning for directory pruning."""
    w = df.write.mode("overwrite").format("orc")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC read — predicate pushdown and column pruning work exactly as
    with parquet (plan shows PushedFilters into the OrcScan; asserted
    in tests/test_sources.py)."""
    return spark.read.orc(path)


def write_json_meta(spark: SparkSession, path: str, obj: dict) -> None:
    """Write an index's metadata as ONE driver-side JSON sidecar file
    (the Delta/Iceberg commit-log pattern) through the Hadoop FS API —
    works on any supported filesystem and costs ZERO Spark jobs, where
    a 1-row parquet write costs a full job's fixed overhead per build
    (measured 0.3-0.7 s each on the index-probe queries). Staged to a
    tmp name, then flipped with FileContext.rename(OVERWRITE) — atomic
    on local and HDFS — so readers never see a half-written OR missing
    file. The previous delete-then-rename left a window with no file
    at all, which let snapshot rollback be silently undone: a reader
    hitting the gap fell back to highest-manifest resolution and
    resurrected the abandoned head (ADVICE r3)."""
    import json

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}.__tmp__")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(obj).encode("utf-8")))
    finally:
        out.close()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(conf)
    rename_cls = jvm.org.apache.hadoop.fs.Options.Rename
    opts = spark._sc._gateway.new_array(rename_cls, 1)
    opts[0] = rename_cls.OVERWRITE
    fc.rename(tmp, p, opts)


def read_json_meta(spark: SparkSession, path: str) -> dict | None:
    """Read a :func:`write_json_meta` sidecar; None if absent. Zero
    Spark jobs — a driver-side FS open (float values round-trip
    bit-exactly: json emits repr, the shortest exact form)."""
    import json

    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = bytes(stream.readAllBytes())
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))

