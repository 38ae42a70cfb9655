"""Source-format tests: JSON-lines and CSV readers with the
reference's validity pipeline (PERMISSIVE + corrupt-record drop +
timestamp parse — ref my_airflow/dags/mongo_to_storage.py), and
parquet round-trips.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import (
    jdbc_read_options,
    load_table,
    read_csv_valid,
    read_jsonl_valid,
)

MOOD_DDL = (
    "event_time string, intersection string, avg_speed double, "
    "avg_temp double, weather string, _corrupt_record string"
)


def test_read_jsonl_drops_corrupt_and_parses_ts(spark, tmp_path):
    rows = [
        {"event_time": "2025-01-01 10:00:00", "intersection": "int_0",
         "avg_speed": 42.0, "avg_temp": 5.0, "weather": "clear"},
        {"event_time": "2025-01-01 10:01:00", "intersection": "int_1",
         "avg_speed": 17.5, "avg_temp": 4.0, "weather": "fog"},
    ]
    p = tmp_path / "mood.jsonl"
    lines = [json.dumps(r) for r in rows] + ['{"event_time": broken', "not json at all"]
    p.write_text("\n".join(lines))

    out = read_jsonl_valid(spark, str(p), schema=MOOD_DDL, timestamp_col="event_time")
    got = out.orderBy("intersection").collect()
    assert len(got) == 2
    assert [r.intersection for r in got] == ["int_0", "int_1"]
    assert str(got[0].event_time) == "2025-01-01 10:00:00"
    assert out.schema["event_time"].dataType.typeName() == "timestamp"


def test_read_csv_drops_malformed(spark, tmp_path):
    p = tmp_path / "mood.csv"
    p.write_text(
        "event_time,intersection,avg_speed\n"
        "2025-01-01 10:00:00,int_0,42.0\n"
        "2025-01-01 10:01:00,int_1,not_a_number\n"  # malformed double
        "2025-01-01 10:02:00,int_2,19.5\n"
    )
    ddl = "event_time string, intersection string, avg_speed double, _corrupt_record string"
    out = read_csv_valid(spark, str(p), schema=ddl, timestamp_col="event_time")
    got = out.orderBy("intersection").collect()
    assert [r.intersection for r in got] == ["int_0", "int_2"]
    assert got[1].avg_speed == 19.5


def test_load_table_schema_memo_identical(spark, sf_dir):
    """The per-session parquet schema memo (r9 optimization) must hand
    back reads identical to footer inference: same schema, same rows,
    for the inferred first read and the memoized second read — incl.
    the events ts normalization path."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources import batch

    for name in ("events", "documents", "lineitem"):
        batch._SCHEMA_MEMO.clear()
        first = load_table(spark, sf_dir, name)
        assert batch._SCHEMA_MEMO  # inference populated the memo
        second = load_table(spark, sf_dir, name)
        assert first.schema == second.schema
        key = first.columns[0]
        assert (
            first.orderBy(key).limit(20).collect()
            == second.orderBy(key).limit(20).collect()
        )


def test_schema_memo_refreshes_on_overwrite(spark, tmp_path):
    """Overwriting a parquet path with a DIFFERENT schema inside one
    session must not serve the stale memoized StructType (explicit-
    schema reads null-fill missing columns silently, so staleness
    would corrupt, not fail): the (mtime_ns, size) freshness token
    forces re-inference. The rewrite has a different row count, so the
    size half of the token changes whatever the mtime granularity."""
    import os

    from data_engineering_demo_real_time_city_mood_tracker_spark.sources import batch

    p = str(tmp_path / "t.parquet")
    spark.range(3).selectExpr("id", "id * 2 as a").toPandas().to_parquet(p)
    first = batch._read_parquet(spark, p)
    assert set(first.columns) == {"id", "a"}
    # second read is served from the memo (same token)
    assert set(batch._read_parquet(spark, p).columns) == {"id", "a"}
    size_before = batch._path_token(p)[1]
    spark.range(5).selectExpr("id", "id * 3 as b").toPandas().to_parquet(p)
    assert batch._path_token(p)[1] != size_before
    refreshed = batch._read_parquet(spark, p)
    assert set(refreshed.columns) == {"id", "b"}
    assert [r.b for r in refreshed.orderBy("id").collect()] == [0, 3, 6, 9, 12]
    os.remove(p)


def test_csv_parquet_roundtrip(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    csv_dir = str(tmp_path / "events_csv")
    ev.write.option("header", "true").mode("overwrite").csv(csv_dir)
    back = read_csv_valid(
        spark,
        csv_dir,
        schema="event_id long, user_id long, event_type string, value double",
    )
    assert back.count() == ev.count()
    a = ev.agg(F.sum("event_id"), F.sum(F.col("value").cast("decimal(18,6)"))).first()
    b = back.agg(F.sum("event_id"), F.sum(F.col("value").cast("decimal(18,6)"))).first()
    assert a == b


def test_binary_file_source(spark, sf_dir):
    """binaryFile source: every parquet file in the dir arrives as one
    (path, length, content) row, length == len(content), glob filters."""
    import os

    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import read_binary_files

    df = read_binary_files(spark, sf_dir, glob="*.parquet")
    rows = df.select("path", "length", "content").collect()
    n_files = len([f for f in os.listdir(sf_dir) if f.endswith(".parquet")])
    assert len(rows) == n_files
    for r in rows:
        assert r.length == len(r.content) > 0
        assert r.path.endswith(".parquet")
    only_nation = read_binary_files(spark, sf_dir, glob="nation.parquet").count()
    assert only_nation == 1


def test_jdbc_read_options_partitioned():
    """partitioned JDBC read wiring: all four stride options land in
    the reader config (the single-connection default is the scale
    bug the partitioned path exists to avoid)."""
    import pytest

    opts = jdbc_read_options(
        "jdbc:postgresql://pg:5432/city",
        "daily_mood_summary",
        "app",
        "secret",
        "org.postgresql.Driver",
        partition_column="id",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=64,
    )
    assert opts["dbtable"] == "daily_mood_summary"
    assert opts["partitionColumn"] == "id"
    assert opts["lowerBound"] == "0"
    assert opts["upperBound"] == "1000000"
    assert opts["numPartitions"] == "64"
    assert opts["fetchsize"] == "10000"

    plain = jdbc_read_options(
        "jdbc:postgresql://pg:5432/city", "t", "u", "p", "org.postgresql.Driver"
    )
    assert "partitionColumn" not in plain

    with pytest.raises(ValueError, match="partitioned JDBC read"):
        jdbc_read_options(
            "jdbc:postgresql://pg:5432/city",
            "t",
            "u",
            "p",
            "org.postgresql.Driver",
            partition_column="id",
        )


def test_compaction_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    """small-file compaction: 40 tiny files → byte-sized file count,
    identical row multiset, partition layout preserved."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.maintenance import compact, data_files

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    d = str(tmp_path / "lake" / "events")
    ev.repartition(40).write.mode("overwrite").parquet(d)
    assert len(data_files(d)) == 40
    before = sorted(str(r) for r in spark.read.parquet(d).collect())

    stats = compact(spark, d, target_file_bytes=1 << 30)
    assert stats["files_before"] == 40
    assert stats["files_after"] == 1 == len(data_files(d))
    after = sorted(str(r) for r in spark.read.parquet(d).collect())
    assert after == before

    # partitioned variant keeps hive dirs
    dp = str(tmp_path / "lake" / "events_by_type")
    ev.repartition(20).write.mode("overwrite").partitionBy("event_type").parquet(dp)
    n_types = ev.select("event_type").distinct().count()
    stats = compact(
        spark, dp, target_file_bytes=1 << 30, partition_cols=["event_type"]
    )
    assert stats["files_after"] == n_types  # one file per partition dir
    got = sorted(
        str(r)
        for r in spark.read.parquet(dp)
        .select("event_id", "user_id", "event_type", "value")
        .collect()
    )
    assert got == before


def test_schema_evolution_merge_read(spark, tmp_path):
    """additive schema drift: files written before a column existed
    read back as nulls under mergeSchema; plain read of the union dir
    still works for the common prefix."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.maintenance import read_evolved

    d = str(tmp_path / "evolve")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).write.mode("append").parquet(d)
    spark.createDataFrame(
        [(3, "c", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(d)

    df = read_evolved(spark, d)
    assert set(df.columns) == {"id", "name", "score"}
    rows = {(r.id, r.name, r.score) for r in df.collect()}
    assert rows == {(1, "a", None), (2, "b", None), (3, "c", 9.5)}


def test_zorder_layout_prunes_on_both_columns(spark, sf_dir, tmp_path):
    """z-ordered files must be prunable on BOTH clustered columns: for
    a narrow range filter on either column, fewer files' min-max
    ranges intersect it than under a single-column linear sort (which
    only clusters its own column), and the row multiset is unchanged."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.layout import (
        file_minmax,
        zorder_write,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    n_files = 8

    z_dir = str(tmp_path / "zorder")
    zorder_write(ev, z_dir, ["user_id", "value"], n_files)
    lin_dir = str(tmp_path / "linear")
    (
        ev.repartitionByRange(n_files, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(lin_dir)
    )

    before = sorted(str(r) for r in ev.collect())
    after = sorted(str(r) for r in spark.read.parquet(z_dir).collect())
    assert after == before, "layout rewrite must not change data"

    def touched(path, col, lo, hi):
        return sum(
            1 for mn, mx in file_minmax(path, col) if not (mx < lo or mn > hi)
        )

    lo_v, hi_v = 100.0, 120.0   # narrow value range
    lo_u, hi_u = 3, 5           # narrow user range
    assert len(file_minmax(z_dir, "value")) == n_files
    # value filter: linear layout (sorted by user) clusters value not at
    # all — every file intersects; z-order must touch strictly fewer
    assert touched(lin_dir, "value", lo_v, hi_v) == n_files
    assert touched(z_dir, "value", lo_v, hi_v) < n_files
    # user filter: z-order trades a little user-clustering away but must
    # still prune vs "touch everything"
    assert touched(z_dir, "user_id", lo_u, hi_u) < n_files


def test_zorder_key_wide_no_overflow(spark, sf_dir):
    """4 cols × 8 bits = 32-bit keys: ranks must be long before the
    interleave shifts (an int rank flips sign at bit 31 and wraps at
    32), and >62 total bits is rejected."""
    import pytest

    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.layout import zorder_key

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.col("ts").cast("double").alias("tsd")
    )
    zk = zorder_key(ev, ["event_id", "user_id", "value", "tsd"], bits=8)
    row = ev.select(zk).agg(
        F.min("zkey").alias("lo"), F.max("zkey").alias("hi")
    ).first()
    assert row.lo >= 0, "z-keys must never go negative (sign-bit overflow)"
    assert row.hi < (1 << 32)
    assert row.hi >= (1 << 24), "top interleave bits should be exercised"

    with pytest.raises(ValueError, match="max 62"):
        zorder_key(ev, ["event_id"] * 8, bits=8)


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    """ORC write/read preserves values byte-for-byte vs parquet, and
    filters reach the ORC scan (PushedFilters) with pruned schema."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import read_orc, write_orc

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_orc")
    write_orc(ev, path)
    back = read_orc(spark, path)
    assert back.count() == ev.count()
    a = sorted(map(tuple, ev.select("event_id", "user_id", "value").collect()))
    b = sorted(map(tuple, back.select("event_id", "user_id", "value").collect()))
    assert a == b
    from tests.test_plans import plan_of

    q = back.filter(F.col("event_type") == "click").select("event_id")
    plan = plan_of(q)
    assert "PushedFilters" in plan and "event_type" in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "value" not in read_schema and "props" not in read_schema


def test_orc_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """hive-partitioned ORC write: partition filter becomes directory
    pruning (PartitionFilters), not a data filter."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import read_orc, write_orc

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_orc_part")
    write_orc(ev.limit(2000), path, partition_by=["event_type"])
    from tests.test_plans import plan_of

    back = read_orc(spark, path).filter(F.col("event_type") == "click")
    plan = plan_of(back)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and any("event_type" in l for l in pf), plan


def test_snapshot_versioning_time_travel_rollback_vacuum(spark, sf_dir, tmp_path):
    """snapshot commit protocol: append/overwrite versions, time
    travel to any retained version, rollback = reversible pointer
    flip, vacuum finalizes rollback and collects unreferenced dirs;
    a simulated crash before the pointer flip leaves the table at the
    old version and vacuum collects the orphan."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import read_json_meta, write_json_meta
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.snapshots import (
        current_version,
        read_snapshot,
        rollback_snapshot,
        vacuum_snapshots,
        write_snapshot,
    )

    base = str(tmp_path / "snap")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)

    assert write_snapshot(first, base, "append") == 0
    assert write_snapshot(second, base, "append") == 1
    assert current_version(spark, base) == 1
    assert read_snapshot(spark, base).count() == ev.count()
    assert read_snapshot(spark, base, 0).count() == first.count()  # time travel

    assert write_snapshot(first.limit(10), base, "overwrite") == 2
    assert read_snapshot(spark, base).count() == 10
    assert read_snapshot(spark, base, 1).count() == ev.count()

    # rollback is a pointer flip; the abandoned v2 stays readable
    rollback_snapshot(spark, base, 1)
    assert current_version(spark, base) == 1
    assert read_snapshot(spark, base).count() == ev.count()
    assert read_snapshot(spark, base, 2).count() == 10

    # crash simulation: data + manifest written, pointer never flipped
    # (manifest 2 is the abandoned lineage; fake an uncommitted v5)
    (tmp_path / "snap" / "data" / "v5-deadbeef").mkdir(parents=True)
    first.limit(3).write.mode("overwrite").parquet(
        str(tmp_path / "snap" / "data" / "v5-deadbeef")
    )
    write_json_meta(
        spark,
        f"{base}/_manifests/5.json",
        {"version": 5, "parent": 1, "op": "append", "dirs": ["data/v5-deadbeef"]},
    )
    assert current_version(spark, base) == 1  # pointer wins; no phantom commit

    deleted = vacuum_snapshots(spark, base, keep_last=2)
    # vacuum drops: the abandoned v2 lineage, the crashed v5 orphan
    assert any("v5-deadbeef" in d for d in deleted)
    assert read_json_meta(spark, f"{base}/_manifests/2.json") is None
    assert read_json_meta(spark, f"{base}/_manifests/5.json") is None
    # survivors still read
    assert read_snapshot(spark, base).count() == ev.count()
    assert read_snapshot(spark, base, 0).count() == first.count()

    # mid-flip crash: pointer deleted, rename never happened — readers
    # fall back to the highest manifest (the flip had started = commit)
    import os

    os.remove(str(tmp_path / "snap" / "_current.json"))
    assert current_version(spark, base) == 1
    assert read_snapshot(spark, base).count() == ev.count()
