"""Batch ETL pipelines — Spark-first analogs of the reference's four
Airflow DAGs. The DAG *structure* (quality gate → export → load/upload
→ cleanup, daily summary) is preserved; every per-record driver loop
in the reference becomes a distributed DataFrame op, and external
systems (Mongo/Postgres/S3) are dependency-injected so pipelines are
testable and portable.

reference parity:
- quality_check      ← my_airflow/dags/mood_quality_check.py:11-40
- export_to_jsonl    ← mongo_to_storage.py:export_mongo_to_file (driver
                       json loop → distributed df.write.json)
- load_valid         ← mongo_to_storage.py:load_to_postgres validity
                       filter + to_timestamp
- daily_summary_job  ← daily_summary_report.py:summarize_mood_data
- backfill_mood      ← fake_mood_backfill.py (random.choice loops →
                       deterministic spark.range + hash-derived columns)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.functions.scoring import davg, valid_mood_record
from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import read_jsonl_valid

REQUIRED_FIELDS = ("event_time", "intersection", "weather", "avg_speed")


class QualityCheckError(ValueError):
    """Raised when a quality gate fails (ref raises ValueError)."""


def quality_check(mood_df: DataFrame) -> dict:
    """Gate 1: any data at all; gate 2: no record missing a required
    field. One aggregate pass instead of the reference's count + probe
    queries. Returns the stats on success, raises QualityCheckError."""
    missing_any = None
    for c in REQUIRED_FIELDS:
        cond = F.col(c).isNull()
        missing_any = cond if missing_any is None else (missing_any | cond)
    stats = mood_df.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.count(F.when(missing_any, 1)).alias("n_missing_fields"),
    ).first()
    if stats.n_records == 0:
        raise QualityCheckError("No mood data found!")
    if stats.n_missing_fields > 0:
        raise QualityCheckError(
            f"Found {stats.n_missing_fields} records with missing fields"
        )
    return {"n_records": stats.n_records, "n_missing_fields": 0}


def export_to_jsonl(mood_df: DataFrame, path: str) -> None:
    """Distributed JSON-lines export (the reference serializes row by
    row on the driver — unusable beyond toy volumes)."""
    out = mood_df.withColumn(
        "event_time", F.date_format("event_time", "yyyy-MM-dd'T'HH:mm:ss")
    )
    out.write.mode("overwrite").json(path)


MOOD_EXPORT_DDL = (
    "event_time string, intersection string, avg_speed double, "
    "avg_temp double, weather string, sentiment string, mood string, "
    "_corrupt_record string"
)


def load_valid(spark: SparkSession, path: str) -> DataFrame:
    """Re-ingest the export: corrupt-record drop, validity predicate,
    timestamp parse (ref load_to_postgres)."""
    df = read_jsonl_valid(spark, path, schema=MOOD_EXPORT_DDL)
    return df.filter(valid_mood_record()).withColumn(
        "event_time", F.to_timestamp("event_time")
    )


def daily_summary_job(mood_df: DataFrame, for_date: str) -> DataFrame:
    """One day's (intersection, mood) rollup (ref summarize_mood_data).
    The date filter prunes before the shuffle; the exact-decimal
    averages make the result independent of partition order."""
    return (
        mood_df.filter(F.to_date("event_time") == F.lit(for_date).cast("date"))
        .groupBy("intersection", "mood")
        .agg(
            F.count(F.lit(1)).alias("records_count"),
            davg(F.col("avg_speed")).alias("avg_speed"),
            davg(F.col("avg_temp")).alias("avg_temp"),
        )
    )


def run_export_pipeline(
    mood_df: DataFrame,
    spark: SparkSession,
    export_path: str,
    jdbc_sink: Callable[[DataFrame], None],
    object_store: Callable[[str], None],
    cleanup: Callable[[], None],
) -> dict:
    """The mongo_to_storage DAG: quality gates → export → (load, upload)
    → cleanup. Sinks are injected: pass write_jdbc / an S3 uploader in
    production, recorders in tests."""
    stats = quality_check(mood_df)
    export_to_jsonl(mood_df, export_path)
    valid = load_valid(spark, export_path)
    n_valid = valid.count()
    jdbc_sink(valid)
    object_store(export_path)
    cleanup()
    return {**stats, "n_valid_loaded": n_valid}


def backfill_mood(
    spark: SparkSession,
    start_date: str,
    days: int = 7,
    rows_per_day: int = 30,
) -> DataFrame:
    """Deterministic synthetic mood rows for ``days`` days back from
    ``start_date`` (ref fake_mood_backfill.py, with xxhash64-derived
    pseudo-randomness instead of random.choice so backfills are
    reproducible and distributed — spark.range scales to any volume)."""
    intersections = F.array(*[F.lit(s) for s in ["komitas", "mashtots", "barekamutyun", "kentron"]])
    weathers = F.array(*[F.lit(s) for s in ["clear", "rain", "fog", "cloudy"]])
    sentiments = F.array(*[F.lit(s) for s in ["positive", "neutral", "negative"]])
    moods = F.array(*[F.lit(s) for s in ["happy", "neutral", "stressed"]])

    def pick(arr, n, salt):
        idx = F.pmod(F.xxhash64(F.col("id"), F.lit(salt)), F.lit(n))
        return F.element_at(arr, (idx + 1).cast("int"))

    base = spark.range(days * rows_per_day)
    day_offset = (F.col("id") / rows_per_day).cast("long")
    hour = F.pmod(F.xxhash64(F.col("id"), F.lit("h")), F.lit(18)) + 6
    minute = F.pmod(F.xxhash64(F.col("id"), F.lit("m")), F.lit(60))
    sent_idx = F.pmod(F.xxhash64(F.col("id"), F.lit("s")), F.lit(3))
    start_sec = F.unix_timestamp(F.lit(start_date).cast("timestamp"))
    return base.select(
        F.timestamp_seconds(
            start_sec - day_offset * 86400 + hour * 3600 + minute * 60
        ).alias("event_time"),
        pick(intersections, 4, "i").alias("intersection"),
        (20.0 + F.pmod(F.xxhash64(F.col("id"), F.lit("v")), F.lit(600)) / 10.0).alias(
            "avg_speed"
        ),
        (F.pmod(F.xxhash64(F.col("id"), F.lit("t")), F.lit(41)) - 5.0).alias("avg_temp"),
        pick(weathers, 4, "w").alias("weather"),
        F.element_at(sentiments, (sent_idx + 1).cast("int")).alias("sentiment"),
        F.element_at(moods, (sent_idx + 1).cast("int")).alias("mood"),
    )


def write_partitioned(df: DataFrame, path: str, *keys: str) -> None:
    """Hive-style partitioned parquet layout (``key=value/`` dirs).

    The 100 TB read-side contract: a filter on a partition key prunes
    directories at planning time — the scan never lists, opens, or
    reads excluded partitions (asserted via PartitionFilters in
    tests/test_plans.py). Daily jobs (daily_summary_job) over a
    date-partitioned lake read one directory, not the whole table.
    Choose low-cardinality keys (date, source); high-cardinality keys
    explode the file count.
    """
    df.write.mode("overwrite").partitionBy(*keys).parquet(path)


def read_partition(spark: SparkSession, path: str, **eq_filters) -> DataFrame:
    """Read with partition-key equality filters applied immediately so
    every downstream plan starts from the pruned scan."""
    df = spark.read.parquet(path)
    for k, v in eq_filters.items():
        df = df.filter(F.col(k) == v)
    return df


def run_with_alert(step, name: str, notifier=None):
    """Failure-alerting wrapper — parity with the reference's Airflow
    ``on_failure_callback`` (my_airflow/utils/slack.py:
    notify_slack_failure): run a pipeline step; on ANY exception build
    the reference-shaped alert message and hand it to the injected
    ``notifier`` callable (production wiring POSTs it to a webhook —
    dependency-injected here exactly like the Mongo-shaped document
    sink, so tests need no network). Re-raises after notifying: the
    orchestrator still sees the failure."""
    try:
        return step()
    except Exception as exc:
        if notifier is not None:
            notifier(
                ":x: *Task Failed!*\n"
                f"*Task*: `{name}`\n"
                f"*Error*: `{type(exc).__name__}: {exc}`"
            )
        raise


# --------------------------------------------------------------------------
# incremental aggregate maintenance

def merge_agg_partials(
    base: DataFrame,
    delta: DataFrame,
    keys: list[str],
    count_col: str = "n",
    sum_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Incremental materialized-aggregate maintenance: merge a small
    delta's partial aggregates into the standing base table without
    rescanning history — the batch analog of a streaming stateful agg,
    and the only sane refresh strategy once the base is 100 TB deep.

    Both inputs carry mergeable partials per key: a count plus any
    number of (exact-decimal) sums. The merge is a union + re-agg over
    ONLY (|base keys| + |delta keys|) rows — cost is proportional to
    the dimension cardinality touched, independent of raw history
    size. Works because (count, decimal-sum) partials are associative
    and commutative; averages/variances derive from the merged
    moments (reaggregate_monthly proves the moment algebra bitwise).

    For partition-aligned bases, pair with ``write_partitioned`` and
    overwrite only the partitions present in the delta (dynamic
    partition overwrite) so the rewrite is delta-sized too.
    """
    cols = [*keys, count_col, *sum_cols]
    merged = base.select(*cols).unionByName(delta.select(*cols))
    return merged.groupBy(*keys).agg(
        F.sum(count_col).alias(count_col),
        *[F.sum(c).alias(c) for c in sum_cols],
    )


# --------------------------------------------------------------------------
# in-flight pipeline metrics (Observation API)


def observed_write(df: DataFrame, writer, name: str = "metrics", metrics=None):
    """Run a pipeline stage with data-quality metrics collected IN the
    same pass — Spark's Observation API, the batch analog of the
    streaming progress listener (streaming/monitor.py).

    ``metrics`` is a list of aggregate Columns (default: row count);
    they are computed as the data flows through the action ``writer``
    triggers — NO second scan, unlike quality_check's separate
    aggregation pass. The right tool when a 100 TB write wants its
    row counts / null rates / value bounds recorded without paying
    the scan twice. ``writer`` receives the observed frame and must
    trigger exactly one action. Returns (writer result, metrics dict).
    """
    from pyspark.sql import Observation

    ob = Observation(name)
    observed = df.observe(ob, *(metrics or [F.count(F.lit(1)).alias("rows")]))
    out = writer(observed)
    return out, dict(ob.get)


# --------------------------------------------------------------------------
# incremental join-view maintenance

def maintain_join_view(
    base_a: DataFrame,
    base_b: DataFrame,
    delta_a: DataFrame,
    delta_b: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Incremental maintenance of the join view V = A ⋈ B under
    insert-only deltas: the classic delta rule

        ΔV = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB

    (old A/B on the cross terms, so no new pair is double-counted).
    Appending ΔV to the standing view is row-multiset-identical to
    recomputing (A ∪ ΔA) ⋈ (B ∪ ΔB) from scratch — asserted bitwise
    in tests — while the work scales with |Δ| × matched keys, not
    with the history: at 100 TB the standing view is never rescanned,
    and the delta joins broadcast when the delta is small (the usual
    case for a day's increment into years of history). The fact sides
    A and B ARE rescanned per refresh; partition the bases on the
    join key's coarse prefix (or bucket them) so each delta join
    prunes to the key ranges the delta actually touches.

    Deletes/updates follow the same algebra with retraction rows
    (signed multiplicities); this utility implements the insert-only
    case the ingestion pipelines here produce."""
    da = delta_a.join(base_b, keys)
    ab = base_a.join(delta_b, keys)
    dd = delta_a.join(delta_b, keys)
    return da.unionByName(ab).unionByName(dd)
