"""Registry workload: named ``plans.queries.QUERIES`` entries plus the
``plans.pipelines`` DAG chain, over fixed parquet tables.

One pass builds and collects every query once, in an order drawn from
the seed, then runs the DAG chain ``backfill_mood`` →
``run_export_pipeline`` → ``daily_summary_job`` with stand-in sinks.
The collected rows are kept and checked after the timed region.
"""

from __future__ import annotations

import hashlib
import importlib
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time
import traceback

PKG = "data_engineering_demo_real_time_city_mood_tracker_spark"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
DAG_STEPS = ["backfill_mood", "run_export_pipeline", "daily_summary_job"]
BACKFILL_DATE = "2026-01-05"
BACKFILL_DAYS = 7
BACKFILL_ROWS_PER_DAY = 2000
SUMMARY_DATE = "2026-01-04"  # a whole backfill day: the one before BACKFILL_DATE


def ensure_tables(root: str, data_dir: str, sf: str) -> str:
    """Generate the scale-factor tables once per checkout with the
    repository's seeded generator (seed 42), and return their directory."""
    out = os.path.join(data_dir, f"sf{sf}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run(
        [sys.executable, os.path.join(root, "tools", "gen_testdata.py"), sf, tmp],
        check=True, stdout=subprocess.DEVNULL,
    )
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def canon(v) -> str:
    """Cell canonical form of the repository's oracle gate: floats by
    repr (results are engineered to be bitwise equal), all else by str."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def rowset(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def oracle_rows(sf_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def expected_rows(sf_dir: str, name: str, sql: str) -> tuple[list[str], list[tuple]]:
    """The oracle's (sorted columns, canonical rows), computed once per
    checkout: the tables are generated once, so a result keyed by its
    SQL text stays valid."""
    path = os.path.join(
        sf_dir, "oracles", f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.json")
    if not os.path.exists(path):
        cols, rows = oracle_rows(sf_dir, sql)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(f"{path}.tmp{os.getpid()}", "w") as fh:
            json.dump({"cols": sorted(cols), "rows": rowset(cols, rows)}, fh)
        os.replace(f"{path}.tmp{os.getpid()}", path)
    with open(path) as fh:
        got = json.load(fh)
    return got["cols"], [tuple(r) for r in got["rows"]]


class Registry:
    """One batch workload: ``queries`` at ``sf_dir`` plus the DAG chain."""

    kind = "batch"
    min_passes = 2  # an operation's time varies more than a pass's; two passes double the samples

    def __init__(self, name: str, queries: list[str], seed: int, sf_dir: str, work: str):
        self.name = name
        self.queries = list(queries)
        self.order = list(queries)
        random.Random(seed).shuffle(self.order)
        self.sf_dir = sf_dir
        self.work = work
        self.results: list[dict] = []  # one per pass: op -> outcome
        self.op_ms: dict[str, float] = {}  # the last pass's time per operation
        self.job_groups = False  # the traced run tags jobs by operation and stage

    def sizes(self) -> dict:
        return {
            "queries": len(self.queries),
            "dag_steps": len(DAG_STEPS),
            "tables": os.path.basename(self.sf_dir),
            "backfill_rows": BACKFILL_DAYS * BACKFILL_ROWS_PER_DAY,
        }

    def prepare(self) -> None:
        pass

    def discard(self) -> None:
        pass

    def last_op_ms(self) -> list[float]:
        return list(self.op_ms.values())

    def setup(self, spark, rep: int) -> None:
        """Import the registry and warm the session with a Spark-only
        scan and aggregate, so no single query pays the first-job cost."""
        importlib.import_module(f"{PKG}.plans.queries")
        importlib.import_module(f"{PKG}.plans.pipelines")
        df = spark.read.parquet(os.path.join(self.sf_dir, "lineitem.parquet"))
        df.groupBy((df[df.columns[0]] % 97).alias("k")).count().collect()
        self.rep_dir = os.path.join(self.work, f"rep{rep}")
        os.makedirs(self.rep_dir)

    def _group(self, spark, stage: str, op: str) -> None:
        if self.job_groups:
            spark.sparkContext.setJobGroup(f"{stage}:{op}", op)

    def run(self, spark) -> None:
        queries = importlib.import_module(f"{PKG}.plans.queries").QUERIES
        self.op_ms = {}
        out: dict = {}
        for name in self.order:
            t0 = time.perf_counter()
            try:
                self._group(spark, "construct", name)
                df = queries[name](spark, self.sf_dir)
                self._group(spark, "exec", name)
                out[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception:  # counted as a failed operation
                traceback.print_exc()
                out[name] = None
            self.op_ms[name] = (time.perf_counter() - t0) * 1000
        out.update(self._dag(spark))
        self.results.append(out)

    def _dag(self, spark) -> dict:
        pipelines = importlib.import_module(f"{PKG}.plans.pipelines")
        export = os.path.join(self.rep_dir, "export")
        loaded: list[int] = []
        uploaded: list[str] = []
        out: dict = {}
        steps = [
            ("backfill_mood", lambda: pipelines.backfill_mood(
                spark, BACKFILL_DATE, days=BACKFILL_DAYS, rows_per_day=BACKFILL_ROWS_PER_DAY)),
            ("run_export_pipeline", lambda: pipelines.run_export_pipeline(
                mood, spark, export,
                jdbc_sink=lambda df: loaded.append(df.count()),
                object_store=uploaded.append,
                cleanup=lambda: shutil.rmtree(export))),
            ("daily_summary_job", lambda: pipelines.daily_summary_job(
                mood, SUMMARY_DATE).collect()),
        ]
        mood = None
        for name, step in steps:
            t0 = time.perf_counter()
            try:
                self._group(spark, "exec", name)
                res = step()
                if name == "backfill_mood":
                    mood, res = res, res.count()
                out[name] = (res, list(loaded), list(uploaded))
            except Exception:
                traceback.print_exc()
                out[name] = None
            self.op_ms[name] = (time.perf_counter() - t0) * 1000
        return out

    def check(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, names of failed ops) over every pass."""
        oracles = importlib.import_module(f"{PKG}.plans.queries").ORACLES
        expected = {n: expected_rows(self.sf_dir, n, oracles[n]) for n in self.queries}
        n = BACKFILL_DAYS * BACKFILL_ROWS_PER_DAY
        attempted, bad = 0, []
        for out in self.results:
            for name in self.queries:
                attempted += 1
                got = out.get(name)
                if got is None or (sorted(got[0]), rowset(*got)) != expected[name]:
                    bad.append(name)
            for name in DAG_STEPS:
                attempted += 1
                if not _dag_ok(name, out.get(name), n):
                    bad.append(name)
        return attempted, len(bad), sorted(set(bad))


def _dag_ok(name: str, got, n: int) -> bool:
    """Row-count checks of the DAG chain."""
    if got is None:
        return False
    res, loaded, uploaded = got
    if name == "backfill_mood":
        return res == n
    if name == "run_export_pipeline":
        stats = {"n_records": n, "n_missing_fields": 0, "n_valid_loaded": n}
        return res == stats and loaded == [n] and len(uploaded) == 1
    return sum(r["records_count"] for r in res) == BACKFILL_ROWS_PER_DAY
